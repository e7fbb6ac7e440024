"""Snapshot-versioned parquet tables: MERGE + time travel without a
lakehouse format (SURVEY.md §2 "etl" family; VERDICT r03 named the
missing table format the largest real-user capability gap — this is
the Spark-first subset of it that needs no external dependency).

Layout (the Delta/Iceberg idea at directory granularity):

    <base>/
      _manifest/00000000.json   {"version":0,"dirs":["d-<uuid>"],...}
      _manifest/00000001.json
      d-<uuid>/part-*.parquet   (immutable once committed)

A commit writes its data directory FIRST, then the manifest entry —
readers only see directories a manifest names, so a torn write is
invisible (the classic write-ahead-manifest protocol). ``append``
commits reference the parent's dirs plus the new delta dir (no
rewrite); ``overwrite`` commits reference only the new dir.
Time travel = pick the manifest with the requested version (or the
largest commit timestamp ≤ the requested one) and read exactly the
dirs it names — old versions stay readable until explicitly vacuumed.

Scale notes: the manifest is O(commits) tiny JSON files read on the
driver once per read — the data path is an ordinary multi-dir
vectorized parquet scan with full predicate pushdown / partition
parallelism. Every scan takes its schema from the manifest (each
dir's schema is recorded at commit), so planning a read opens no
file and launches no Spark job (Dremel's plan-from-metadata point).

Writes are merge-on-read; every write costs O(change), not O(table):
- ``apply_cdc`` (MERGE) — writes one positional deletion vector
  holding the (file_path, row_index) of every current row whose key
  the change set names, plus one data dir of the 'U' rows. No data
  file is rewritten: bytes written track the change set.
- ``delete_where`` — POSITIONAL deletion vectors, (file_path,
  row_index) tombstones from the parquet reader's hidden _metadata
  columns (the Iceberg v2 position-delete design).
- ``delete_eq`` — EQUALITY deletes resolved at delete time into the
  same positional DV ``apply_cdc`` writes: only rows in the dirs that
  exist now are named, so appends committed AFTER the delete are exempt
  (the upsert-by-delete-then-append pattern).
- schema evolution — a version's scan schema is the union of its
  dirs' recorded schemas; a column a dir lacks reads as NULL, and time
  travel keeps each version's own schema.

The price is on the read side: a version with tombstones is one
multi-dir data scan minus one anti-join on its DV union (broadcast
while the vectors are small), whatever the write history, and each
write adds a DV dir (a MERGE also a data dir) that every later read
lists. ``rewrite_compact`` materializes the visible rows and clears
every tombstone — the maintenance rewrite back to plain scans.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

_MANIFEST = "_manifest"
#: what a manifest carries from parent to child; _STAMPS are set per commit
_STATE = ("dirs", "dvs", "dir_schema")
_STAMPS = ("version", "branch", "mode", "commit_ts")
#: every deletion-vector dir holds exactly these two columns
_DV_SCHEMA = StructType(
    [StructField("file_path", StringType()), StructField("row_index", LongType())]
)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency: retry commit() to target the next version)."""


class SnapshotTable:
    """A versioned parquet table rooted at ``base`` (local or any
    Hadoop-visible path when given a path the cluster shares)."""

    def __init__(self, base: str):
        self.base = base.rstrip("/")
        os.makedirs(os.path.join(self.base, _MANIFEST), exist_ok=True)

    # -- manifest bookkeeping (driver-side, O(commits) tiny files) ----

    def _manifest_dir(self) -> str:
        return os.path.join(self.base, _MANIFEST)

    def versions(self, branch: str = "main") -> list[dict]:
        """Manifests of one branch, version-ordered ("main" unless the
        commit was staged on a named branch — write-audit-publish).
        ``branch=None`` returns every manifest (vacuum liveness)."""
        out = []
        for f in sorted(os.listdir(self._manifest_dir())):
            if f.endswith(".json"):
                with open(os.path.join(self._manifest_dir(), f)) as fh:
                    m = json.load(fh)
                if branch is None or m.get("branch", "main") == branch:
                    out.append(m)
        return out

    def _resolve(
        self,
        version: int | None,
        as_of_ts: float | None,
        branch: str = "main",
    ) -> dict:
        vs = self.versions(branch)
        if not vs:
            raise FileNotFoundError(f"snapshot table {self.base} has no commits")
        if version is not None:
            vs = [m for m in vs if m["version"] == version]
            if not vs:
                raise KeyError(f"version {version} not in {self.base}")
        elif as_of_ts is not None:
            vs = [m for m in vs if m["commit_ts"] <= as_of_ts]
            if not vs:
                raise KeyError(f"no version at or before ts={as_of_ts}")
        return self._known(vs[-1])

    def _known(self, m: dict) -> dict:
        """``m``, unless it carries non-empty state this reader cannot
        apply (the equality-delete key dirs of an older format):
        ignoring it would silently resurrect the rows it deleted."""
        extra = sorted(k for k, v in m.items() if v and k not in _STATE + _STAMPS)
        if extra:
            raise ValueError(
                f"version {m['version']} of {self.base} carries manifest "
                f"state {extra} that this reader cannot apply"
            )
        return m

    def _head(self, branch: str = "main") -> tuple[dict | None, int]:
        """The branch head and the next GLOBAL version number, both from
        ONE listing. A writer builds on that head and commits under that
        number, so any commit landing in between makes its link(2) fail
        (ConcurrentCommitError) instead of silently dropping the other
        writer's change from the lineage."""
        allv = self.versions(None)
        heads = [m for m in allv if m.get("branch", "main") == branch]
        return (self._known(heads[-1]) if heads else None), (
            allv[-1]["version"] + 1 if allv else 0
        )

    def _main_head(self) -> tuple[dict, int]:
        m, version = self._head()
        if m is None:
            raise FileNotFoundError(f"snapshot table {self.base} has no commits")
        return m, version

    def _write_dir(self, df: DataFrame, prefix: str) -> str:
        """Write ``df`` to a fresh ``<prefix>-<uuid>`` dir; returns its name."""
        d = f"{prefix}-{uuid.uuid4().hex[:12]}"
        df.write.mode("errorifexists").parquet(os.path.join(self.base, d))
        return d

    # -- commits ------------------------------------------------------

    def commit(
        self, df: DataFrame, mode: str = "overwrite", branch: str = "main"
    ) -> int:
        """Write ``df`` as the next version. ``append`` keeps the
        parent's data dirs (and deletion vectors — the parent's files
        stay live, so their tombstones must too) and adds one delta
        dir; ``overwrite`` replaces the dir set and clears all DVs.
        Data lands before the manifest entry, so concurrent readers
        never see a half-written version."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        prev, version = self._head(branch)
        ddir = self._write_dir(df, "d")
        if mode == "overwrite" or prev is None:
            prev = {"dirs": [], "dvs": [], "dir_schema": {}}
        # the parent's DVs name positions in the parent's files only,
        # so the NEW delta dir is exempt from every earlier delete
        state = dict(
            prev,
            dirs=prev["dirs"] + [ddir],
            dir_schema={**prev["dir_schema"], ddir: df.schema.jsonValue()},
        )
        return self._commit_manifest(
            version, state, mode=mode, written=[ddir], branch=branch
        )

    def _commit_manifest(
        self,
        version: int,
        state: dict,
        *,
        mode: str,
        written: list[str],
        branch: str = "main",
    ) -> int:
        """Publish a manifest for ``version`` carrying ``state``'s dir
        sets, with writer mutual exclusion; on a lost race, reclaim
        every dir in ``written`` (this writer's just-written data or
        DV dirs — a MERGE writes two) and raise. Metadata-only
        commits (publish) pass ``written=[]`` and reclaim nothing."""
        manifest = {
            **{k: state[k] for k in _STATE},
            "version": version,
            "branch": branch,
            "mode": mode,
            "commit_ts": time.time(),
        }
        # tmp is UNIQUE PER WRITER (uuid): a shared tmp name would let a
        # racing committer truncate/overwrite this writer's manifest
        # bytes before the link, publishing the wrong dir set under
        # this writer's "success"
        tmp = os.path.join(
            self._manifest_dir(),
            f".{version:08d}.{uuid.uuid4().hex[:8]}.json.tmp",
        )
        final = os.path.join(self._manifest_dir(), f"{version:08d}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        # Commit point with writer mutual exclusion: os.rename would
        # silently CLOBBER a concurrent committer's manifest for the
        # same version (POSIX rename overwrites), losing their commit.
        # link(2) fails with EEXIST instead — the loser raises, which is
        # the correct optimistic-concurrency outcome (retry → version+1).
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            os.unlink(tmp)
            # reclaim the loser's dirs NOW: no manifest will ever
            # reference them, and vacuum() only walks manifest-listed
            # dirs, so leaving them would leak a copy per lost race
            import shutil

            for d in written:
                shutil.rmtree(os.path.join(self.base, d), ignore_errors=True)
            raise ConcurrentCommitError(
                f"version {version} was committed by another writer"
            ) from exc
        os.unlink(tmp)
        return version

    # -- reads --------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_ts: float | None = None,
        branch: str = "main",
    ) -> DataFrame:
        """Latest version, a specific ``version``, or time travel to the
        last version committed at or before ``as_of_ts``. When the
        version carries deletion vectors the scan applies them
        (merge-on-read); otherwise it is a plain multi-dir scan. Either
        way building the DataFrame launches no Spark job."""
        m = self._resolve(version, as_of_ts, branch)
        if m["dvs"]:
            return self._scan_minus_dvs(spark, m).drop("__dv_file", "__dv_pos")
        return self._scan(spark, m)

    @staticmethod
    def _schema(m: dict) -> StructType:
        """Union of the version's recorded dir schemas, first dir first:
        a column some dir lacks reads as NULL there (schema evolution),
        and no footer is opened to plan the scan."""
        fields: dict = {}
        for d in m["dirs"]:
            for f in StructType.fromJson(m["dir_schema"][d]).fields:
                fields.setdefault(f.name, f)
        return StructType(list(fields.values()))

    def _scan(self, spark: SparkSession, m: dict) -> DataFrame:
        paths = [os.path.join(self.base, d) for d in m["dirs"]]
        return spark.read.schema(self._schema(m)).parquet(*paths)

    # -- deletion vectors (merge-on-read DELETE) ----------------------

    def _positions(self, spark: SparkSession, m: dict) -> DataFrame:
        """Raw data-dir scan carrying (__dv_file, __dv_pos) = the parquet
        reader's hidden (_metadata.file_path, _metadata.row_index).
        Positions are per PHYSICAL FILE, so they survive any
        re-partitioning of downstream reads and never depend on row
        content — the Iceberg v2 position-delete design."""
        return self._scan(spark, m).select(
            "*",
            F.col("_metadata.file_path").alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )

    def _scan_minus_dvs(self, spark: SparkSession, m: dict) -> DataFrame:
        """``_positions`` with the union of the manifest's DVs
        anti-joined away: one join, however many deletes made them."""
        dv = spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(self.base, d) for d in m["dvs"]]
        )
        return self._positions(spark, m).join(
            dv.select(
                F.col("file_path").alias("__dv_file"),
                F.col("row_index").alias("__dv_pos"),
            ),
            ["__dv_file", "__dv_pos"],
            "left_anti",
        )

    def _key_positions(
        self, spark: SparkSession, m: dict, keys: DataFrame, on: str
    ) -> DataFrame:
        """``_positions`` of every row whose ``on`` value ``keys`` names,
        taken from the raw data-dir scan: the DV of both ``delete_eq``
        and ``apply_cdc``."""
        k = keys.select(F.col(on).alias("__dv_key"))
        return self._positions(spark, m).join(
            k, F.col(on) == F.col("__dv_key"), "left_semi"
        )

    def _write_dv(self, positions: DataFrame) -> str:
        # stored under the public names; the read path re-aliases
        return self._write_dir(
            positions.select(
                F.col("__dv_file").alias("file_path"),
                F.col("__dv_pos").alias("row_index"),
            ),
            "dv",
        )

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Merge-on-read DELETE: rows matching ``condition`` (a Column
        over the table schema) are tombstoned by writing a POSITIONAL
        deletion vector — (file_path, row_index) pairs, nothing else —
        and a manifest that references the parent's data dirs plus the
        new DV. No data file is rewritten: the cost is proportional to
        the DELETED rows, not the table (the whole point of DVs vs
        copy-on-write at 100 TB). The predicate is evaluated on the raw
        data-dir scan, without first anti-joining the existing
        tombstones, so a row that is already dead can be listed again —
        at most once per matching call; reads anti-join the union, so
        visible rows are the same. Readers of old versions are
        untouched; time travel across delete versions replays exactly
        the right tombstone sets. Compaction is ``rewrite_compact``."""
        m, version = self._main_head()
        dv = self._write_dv(self._positions(spark, m).filter(condition))
        return self._commit_manifest(
            version, dict(m, dvs=m["dvs"] + [dv]), mode="delete", written=[dv]
        )

    def rewrite_compact(self, spark: SparkSession) -> int:
        """Materialize the current visible rows into a fresh data dir
        and commit it with NO deletion vectors — the maintenance
        rewrite that re-earns pure-scan reads after many deletes and
        MERGEs. Same visible rows before and after (pinned by tests)."""
        return self.commit(self.read(spark), mode="overwrite")

    def delete_eq(self, spark: SparkSession, keys: DataFrame, on: str) -> int:
        """Merge-on-read EQUALITY delete: tombstone every row whose
        ``on`` value appears in ``keys`` — but ONLY in the data dirs
        that exist NOW. Iceberg's sequence-number rule at directory
        granularity: an equality delete applies to files OLDER than
        itself, so rows appended later with the same key are exempt
        (the upsert-by-delete-then-append pattern depends on this).
        The keys resolve at delete time into one positional DV, the
        same one ``apply_cdc`` writes, so the write scans the table
        like ``delete_where`` and the read pays no extra join."""
        m, version = self._main_head()
        dv = self._write_dv(self._key_positions(spark, m, keys, on))
        return self._commit_manifest(
            version, dict(m, dvs=m["dvs"] + [dv]), mode="delete_eq", written=[dv]
        )

    # -- write-audit-publish ------------------------------------------

    def publish(self, branch: str) -> int:
        """Fast-forward ``main`` to a branch's head: write the next MAIN
        manifest referencing the branch head's exact dir/DV/schema sets
        — no data moves, the staged directories simply become visible
        to main readers. This is the PUBLISH step of write-audit-publish
        (stage commits on a branch, validate them there, then promote
        atomically); the link(2) commit point gives publish the same
        optimistic concurrency as any commit — a racing publish or
        main commit loses cleanly and retries."""
        h, version = self._head(branch)
        if h is None:
            raise KeyError(f"branch {branch!r} has no commits")
        return self._commit_manifest(version, h, mode="publish", written=[])

    # -- retention ------------------------------------------------------

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop the manifests of all but the newest ``keep_last``
        versions, then delete every data directory no surviving
        manifest references. Returns the deleted data dirs. Time travel
        to vacuumed versions raises KeyError afterwards — the same
        contract as a lakehouse VACUUM breaking time travel past the
        retention window. Manifest files are removed BEFORE data dirs
        (a reader that resolved a version pre-vacuum may still be
        scanning; removing the manifest first means new resolutions
        can't land on a dir mid-delete)."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        allv = self.versions(None)
        mains = [m for m in allv if m.get("branch", "main") == "main"]
        others = [m for m in allv if m.get("branch", "main") != "main"]
        heads = {}
        for m in others:
            heads[m.get("branch")] = m  # version-ordered → last wins
        vs = mains
        if len(vs) <= keep_last:
            return []
        drop, keep = vs[:-keep_last], vs[-keep_last:]
        keep = keep + list(heads.values())  # branch heads stay readable
        drop = drop + [m for m in others if m is not heads.get(m.get("branch"))]
        live = {d for m in keep for d in m["dirs"] + m["dvs"]}
        for m in drop:
            os.remove(os.path.join(self._manifest_dir(), f"{m['version']:08d}.json"))
        deleted = []
        for m in drop:
            for d in m["dirs"] + m["dvs"]:
                if d not in live and os.path.isdir(os.path.join(self.base, d)):
                    shutil.rmtree(os.path.join(self.base, d))
                    deleted.append(d)
        return deleted

    # -- MERGE (CDC apply) --------------------------------------------

    def apply_cdc(self, spark: SparkSession, changes: DataFrame, on: str) -> int:
        """MERGE-statement semantics producing a new version from a CDC
        change set: ``changes`` carries the target's columns plus
        ``cdc_op`` ∈ {'U','D'} — 'D' removes the key, 'U' upserts the
        full row (update when the key exists, insert when it doesn't).

        Merge-on-read: ``delete_eq``'s positional DV over every key
        ``changes`` names (for either op), plus one data dir of the
        'U' rows projected and cast to the target's columns. The new
        manifest names the parent's dirs plus that dir and the parent's
        DVs plus that DV. Bytes written are O(change), not O(table)."""
        m, version = self._main_head()
        schema = self._schema(m)
        dv = self._write_dv(self._key_positions(spark, m, changes, on))
        upserts = changes.filter(F.col("cdc_op") == "U").select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        ddir = self._write_dir(upserts, "d")
        state = dict(
            m,
            dirs=m["dirs"] + [ddir],
            dvs=m["dvs"] + [dv],
            dir_schema={**m["dir_schema"], ddir: upserts.schema.jsonValue()},
        )
        return self._commit_manifest(
            version, state, mode="merge", written=[dv, ddir]
        )
