"""SnapshotTable (operators/snapshots.py): versioned commits, append
lineage, time travel by version and timestamp, write-ahead-manifest
torn-write invisibility, and CDC-merge semantics."""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from x8313_etl_spark.operators.snapshots import SnapshotTable


def _tbl():
    return SnapshotTable(tempfile.mkdtemp(prefix="x8313-snap-"))


def frame(spark, rows, ddl):
    """An Arrow-backed frame under the DDL schema ``ddl``: no Python
    worker per write, which a frame built from a list of rows needs.
    Frames with a NULL in an integral column stay list-built, because
    pandas would turn that column into a float."""
    import pandas as pd

    cols = [field.split()[0] for field in ddl.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), ddl)


def _df(spark, rows):
    return frame(spark, rows, "k long, v string")


def test_overwrite_and_append_lineage(spark):
    t = _tbl()
    assert t.versions() == []
    assert t.commit(_df(spark, [(1, "a"), (2, "b")])) == 0
    assert t.commit(_df(spark, [(3, "c")]), mode="append") == 1
    assert t.commit(_df(spark, [(9, "z")]), mode="overwrite") == 2

    def rows(**kw):
        return sorted((r.k, r.v) for r in t.read(spark, **kw).collect())

    assert rows(version=0) == [(1, "a"), (2, "b")]
    assert rows(version=1) == [(1, "a"), (2, "b"), (3, "c")]
    assert rows(version=2) == [(9, "z")]
    assert rows() == [(9, "z")]  # latest
    # append reuses the parent dir — 3 data dirs total, not 4
    data_dirs = [d for d in os.listdir(t.base) if d.startswith("d-")]
    assert len(data_dirs) == 3


def test_time_travel_by_timestamp(spark):
    t = _tbl()
    t.commit(_df(spark, [(1, "old")]))
    ts_between = t.versions()[0]["commit_ts"] + 0.0001
    # synthetic later commit_ts so the two versions are orderable even
    # on a coarse clock
    t.commit(_df(spark, [(1, "new")]))
    vs = t.versions()
    assert vs[1]["commit_ts"] >= vs[0]["commit_ts"]
    got = t.read(spark, as_of_ts=ts_between).collect()
    assert [(r.k, r.v) for r in got] == [(1, "old")]
    with pytest.raises(KeyError):
        t.read(spark, as_of_ts=vs[0]["commit_ts"] - 1)


def test_torn_write_is_invisible(spark):
    """A data directory with no manifest entry (a crashed commit) must
    not affect reads."""
    t = _tbl()
    t.commit(_df(spark, [(1, "a")]))
    _df(spark, [(666, "torn")]).write.parquet(os.path.join(t.base, "d-torn"))
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [(1, "a")]
    assert [m["version"] for m in t.versions()] == [0]


def test_apply_cdc_upsert_delete_insert(spark):
    t = _tbl()
    t.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    changes = frame(
        spark,
        [(2, "B2", "U"), (3, None, "D"), (7, "new", "U")],
        "k long, v string, cdc_op string",
    )
    v = t.apply_cdc(spark, changes, "k")
    assert v == 1
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == [(1, "a"), (2, "B2"), (7, "new")]
    # v0 untouched — the audit path m2_time_travel exercises
    assert sorted((r.k, r.v) for r in t.read(spark, version=0).collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_vacuum_drops_old_versions_keeps_shared_dirs(spark):
    """vacuum(keep_last=1) must delete only data dirs no surviving
    manifest references: an append lineage shares its parent's dirs, so
    vacuuming after an append keeps the shared dir alive."""
    t = _tbl()
    t.commit(_df(spark, [(1, "a")]))  # v0 → dir A
    t.commit(_df(spark, [(2, "b")]), mode="append")  # v1 → dirs A+B
    t.commit(_df(spark, [(9, "z")]))  # v2 → dir C (overwrite)
    deleted = t.vacuum(keep_last=2)
    # v0 dropped, but dir A survives — v1 still references it
    assert deleted == []
    assert sorted((r.k, r.v) for r in t.read(spark, version=1).collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    with pytest.raises(KeyError):
        t.read(spark, version=0)
    deleted = t.vacuum(keep_last=1)  # drops v1 → dirs A and B now dead
    assert len(deleted) == 2
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [(9, "z")]
    data_dirs = [d for d in os.listdir(t.base) if d.startswith("d-")]
    assert len(data_dirs) == 1


def test_unknown_version_raises(spark):
    t = _tbl()
    with pytest.raises(FileNotFoundError):
        t.read(spark)
    t.commit(_df(spark, [(1, "a")]))
    with pytest.raises(KeyError):
        t.read(spark, version=5)


def test_concurrent_commit_loser_fails_loudly(spark, tmp_path):
    """Two writers racing to the same version: the loser must raise
    ConcurrentCommitError through the REAL commit() path (not silently
    clobber the winner), and the loser's orphaned data dir must be
    reclaimed immediately — vacuum() only walks manifest-listed dirs,
    so a leaked orphan would never be collectable."""
    import os

    import pytest as _pytest

    from x8313_etl_spark.operators.snapshots import (
        ConcurrentCommitError,
        SnapshotTable,
    )

    base = str(tmp_path / "tbl")
    winner = SnapshotTable(base)
    loser = SnapshotTable(base)
    winner.commit(spark.range(3).withColumnRenamed("id", "k"))  # v0

    # stale read: the loser snapshots versions() BEFORE the winner's
    # next commit lands (the race window), then both target version 1
    stale = loser.versions()
    loser.versions = lambda branch="main": stale  # type: ignore[method-assign]
    assert winner.commit(spark.range(7).withColumnRenamed("id", "k")) == 1

    before = {d for d in os.listdir(base) if d.startswith("d-")}
    with _pytest.raises(ConcurrentCommitError):
        loser.commit(spark.range(5).withColumnRenamed("id", "k"))
    after = {d for d in os.listdir(base) if d.startswith("d-")}
    assert after == before, "loser's orphaned data dir was not reclaimed"
    # no stray tmp manifests either
    assert not [
        f for f in os.listdir(os.path.join(base, "_manifest")) if f.endswith(".tmp")
    ]

    # the winner's commit is what version 1 resolves to
    assert winner.read(spark, version=1).count() == 7


# -- deletion vectors (merge-on-read) ---------------------------------


def _dv_table(spark, tmp_path):
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.snapshots import SnapshotTable

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    tbl = SnapshotTable(str(tmp_path / "dvtab"))
    tbl.commit(df.repartition(4))  # multi-file on purpose
    return tbl


def test_dv_delete_is_positional_and_multifile(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    ddir = os.path.join(tbl.base, tbl.versions()[0]["dirs"][0])
    n_files = len([f for f in os.listdir(ddir) if f.endswith(".parquet")])
    assert n_files >= 2, "precondition: base must span multiple files"
    tbl.delete_where(spark, F.col("k") % 3 == 0)
    got = sorted(r.k for r in tbl.read(spark).collect())
    assert got == [k for k in range(100) if k % 3 != 0]
    # no data rewrite happened: v1 references v0's data dirs verbatim
    v0, v1 = tbl.versions()
    assert v1["dirs"] == v0["dirs"] and len(v1["dvs"]) == 1


def test_dv_time_travel_and_second_delete(spark, tmp_path):
    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    tbl.delete_where(spark, F.col("k") < 10)  # v1
    tbl.delete_where(spark, F.col("k") >= 90)  # v2
    assert tbl.read(spark, version=0).count() == 100
    assert tbl.read(spark, version=1).count() == 90
    got = sorted(r.k for r in tbl.read(spark).collect())
    assert got == list(range(10, 90))


def test_dv_rewrite_compact_preserves_rows_and_clears_dvs(spark, tmp_path):
    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    tbl.delete_where(spark, F.col("k") % 2 == 0)
    before = sorted((r.k, r.v) for r in tbl.read(spark).collect())
    tbl.rewrite_compact(spark)
    after = sorted((r.k, r.v) for r in tbl.read(spark).collect())
    assert before == after
    assert tbl.versions()[-1]["dvs"] == []


def test_dv_append_keeps_parent_tombstones(spark, tmp_path):
    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    tbl.delete_where(spark, F.col("k") < 50)
    extra = spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    tbl.commit(extra, mode="append")
    got = sorted(r.k for r in tbl.read(spark).collect())
    assert got == list(range(50, 110)), "append must not resurrect deleted rows"


def test_dv_vacuum_keeps_referenced_dv_dirs(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    tbl.delete_where(spark, F.col("k") % 7 == 0)  # v1
    tbl.delete_where(spark, F.col("k") % 11 == 0)  # v2
    expect = sorted(r.k for r in tbl.read(spark).collect())
    tbl.vacuum(keep_last=1)
    assert sorted(r.k for r in tbl.read(spark).collect()) == expect
    live = tbl.versions()[-1]
    for d in live["dirs"] + live["dvs"]:
        assert os.path.isdir(os.path.join(tbl.base, d))


# -- equality deletes (sequence-scoped) --------------------------------


def test_eqdelete_exempts_younger_appends(spark, tmp_path):
    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    tbl.delete_eq(
        spark, spark.range(0, 100, 2).select(F.col("id").alias("k")), on="k"
    )
    # append rows REUSING deleted keys — younger than the delete
    # (v cast to long: the table's column is bigint, and parquet multi-dir
    # scans do not coerce int32 files to an int64 schema)
    extra = spark.range(0, 10, 2).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    tbl.commit(extra, mode="append")
    rows = tbl.read(spark).collect()
    odd = sorted(r.k for r in rows if r.v >= 0)
    reused = sorted(r.k for r in rows if r.v == -1)
    assert odd == list(range(1, 100, 2)), "covered rows must be deleted"
    assert reused == [0, 2, 4, 6, 8], "younger appends must be exempt"


def test_eqdelete_composes_with_positional_and_compacts(spark, tmp_path):
    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    tbl.delete_where(spark, F.col("k") >= 90)  # positional
    tbl.delete_eq(spark, spark.range(0, 5).select(F.col("id").alias("k")), on="k")
    expect = list(range(5, 90))
    assert sorted(r.k for r in tbl.read(spark).collect()) == expect
    tbl.rewrite_compact(spark)
    m = tbl.versions()[-1]
    assert m["dvs"] == [] and "eqdvs" not in m
    assert sorted(r.k for r in tbl.read(spark).collect()) == expect


def test_eqdelete_time_travel(spark, tmp_path):
    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)
    tbl.delete_eq(spark, spark.range(50).select(F.col("id").alias("k")), on="k")
    assert tbl.read(spark, version=0).count() == 100
    assert tbl.read(spark, version=1).count() == 50


def test_schema_evolution_time_travel_keeps_old_schema(spark, tmp_path):
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "evo"))
    tbl.commit(spark.range(10).select(F.col("id").alias("k")))
    tbl.commit(
        spark.range(10, 15).select(
            F.col("id").alias("k"), F.lit("x").alias("extra")
        ),
        mode="append",
    )
    v1 = tbl.read(spark)
    assert set(v1.columns) == {"k", "extra"}
    assert v1.filter(F.col("extra").isNull()).count() == 10, "old dirs null-fill"
    v0 = tbl.read(spark, version=0)
    assert v0.columns == ["k"], "time travel must keep the original schema"


# -- write-audit-publish branches -------------------------------------


def test_wap_stage_is_invisible_until_publish(spark, tmp_path):
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "wap"))
    tbl.commit(spark.range(10).select(F.col("id").alias("k")))
    tbl.commit(
        spark.range(5).select(F.col("id").alias("k")), branch="staging"
    )
    assert tbl.read(spark).count() == 10, "main must not see staged commits"
    assert tbl.read(spark, branch="staging").count() == 5
    tbl.publish("staging")
    assert tbl.read(spark).count() == 5, "publish fast-forwards main"


def test_wap_publish_is_metadata_only(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "wap2"))
    tbl.commit(spark.range(10).select(F.col("id").alias("k")))
    tbl.commit(spark.range(5).select(F.col("id").alias("k")), branch="b")
    dirs_before = {d for d in os.listdir(tbl.base) if d.startswith("d-")}
    tbl.publish("b")
    dirs_after = {d for d in os.listdir(tbl.base) if d.startswith("d-")}
    assert dirs_before == dirs_after, "publish must move zero data"
    m = tbl.versions()[-1]
    assert m["mode"] == "publish"
    assert m["dirs"] == tbl.versions("b")[-1]["dirs"]


def test_wap_vacuum_keeps_branch_heads(spark, tmp_path):
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "wap3"))
    tbl.commit(spark.range(10).select(F.col("id").alias("k")))  # main v0
    tbl.commit(spark.range(20).select(F.col("id").alias("k")))  # main v1
    tbl.commit(spark.range(7).select(F.col("id").alias("k")), branch="b")
    tbl.vacuum(keep_last=1)
    assert tbl.read(spark).count() == 20
    assert tbl.read(spark, branch="b").count() == 7, (
        "an unpublished branch head must survive vacuum"
    )


# -- round-6 regression tests (ADVICE.md findings) ---------------------


def test_publish_lost_race_does_not_delete_table(spark, tmp_path):
    """publish() is metadata-only (data_dir="") — a lost commit race
    must reclaim NOTHING. Before the guard, _commit_manifest ran
    rmtree(join(base, "")) == rmtree(base), silently deleting the
    entire table (every data dir and all manifests)."""
    import os

    import pyspark.sql.functions as F
    import pytest as _pytest

    from x8313_etl_spark.operators.snapshots import (
        ConcurrentCommitError,
        SnapshotTable,
    )

    base = str(tmp_path / "waprace")
    tbl = SnapshotTable(base)
    tbl.commit(spark.range(10).select(F.col("id").alias("k")))  # v0 main
    tbl.commit(spark.range(5).select(F.col("id").alias("k")), branch="b")  # v1

    # race: another publisher lands version 2 between this publisher's
    # versions() read and its link(2) — simulate with a stale snapshot
    loser = SnapshotTable(base)
    stale = {None: loser.versions(None), "b": loser.versions("b")}
    loser.versions = (  # type: ignore[method-assign]
        lambda branch="main": stale.get(branch, [])
    )
    assert tbl.publish("b") == 2  # the winner

    with _pytest.raises(ConcurrentCommitError):
        loser.publish("b")
    # the table must be fully intact: all dirs, all manifests, readable
    assert os.path.isdir(base), "lost publish race deleted the table root"
    assert tbl.read(spark).count() == 5
    assert tbl.read(spark, version=0).count() == 10
    assert len(tbl.versions(None)) == 3


def test_positional_delete_after_eqdelete_keeps_eq_tombstones(spark, tmp_path):
    """delete_where after delete_eq: the new manifest must carry the
    parent's equality tombstones forward, or the positional delete
    silently resurrects every equality-deleted row."""
    import pyspark.sql.functions as F

    tbl = _dv_table(spark, tmp_path)  # keys 0..99
    tbl.delete_eq(
        spark, spark.range(0, 100, 2).select(F.col("id").alias("k")), on="k"
    )  # evens dead
    tbl.delete_where(spark, F.col("k") >= 91)  # odds >= 91 dead too
    got = sorted(r.k for r in tbl.read(spark).collect())
    assert got == list(range(1, 91, 2)), (
        "positional delete must not resurrect equality-deleted rows"
    )
    # and the reverse order still holds (the previously-tested path)
    assert len(tbl.versions()[-1]["dvs"]) == 2


def test_delete_preserves_schema_evolution_dir_cols(spark, tmp_path):
    """Deletes on a schema-evolved table must forward dir_cols: without
    them _scan() sees <=1 fingerprint, never enables mergeSchema, and
    the evolved column silently disappears for rows in older dirs."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "evodel"))
    tbl.commit(spark.range(10).select(F.col("id").alias("k")))
    tbl.commit(
        spark.range(10, 15).select(
            F.col("id").alias("k"), F.lit("x").alias("extra")
        ),
        mode="append",
    )
    tbl.delete_where(spark, F.col("k") == 3)  # positional
    v = tbl.read(spark)
    assert set(v.columns) == {"k", "extra"}, "delete_where lost the evolved column"
    assert sorted(r.k for r in v.collect()) == [k for k in range(15) if k != 3]
    tbl.delete_eq(spark, spark.range(12, 13).select(F.col("id").alias("k")), on="k")
    v = tbl.read(spark)
    assert set(v.columns) == {"k", "extra"}, "delete_eq lost the evolved column"
    assert sorted(r.k for r in v.collect()) == [
        k for k in range(15) if k not in (3, 12)
    ]


def test_delete_version_numbering_is_global_across_branches(spark, tmp_path):
    """Versions are numbered globally (commit()/publish() rule). A
    branch commit ahead of main must not make deletes collide forever:
    main-head+1 would hit the branch's manifest file with EEXIST and
    every retry recomputes the same colliding version."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "gver"))
    tbl.commit(
        spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    )  # main v0
    tbl.commit(
        spark.range(3).select(F.col("id").alias("k"), F.lit(2).alias("v")),
        branch="b",
    )  # global v1 on branch b
    v = tbl.delete_where(spark, F.col("k") >= 8)  # must be v2, not v1
    assert v == 2
    assert tbl.read(spark).count() == 8
    v = tbl.delete_eq(spark, spark.range(1).select(F.col("id").alias("k")), on="k")
    assert v == 3
    assert sorted(r.k for r in tbl.read(spark).collect()) == list(range(1, 8))
    # the branch is untouched throughout
    assert tbl.read(spark, branch="b").count() == 3


# -- merge-on-read MERGE and manifest-planned reads ---------------------


def _jobs_during(spark, fn) -> int:
    """Spark jobs ``fn`` launches. A one-job sentinel runs after it in
    the same job group: listener events arrive in order, so once the
    sentinel is visible every job ``fn`` started is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"snapjobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
        sc.parallelize([1], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while time.time() < deadline:
        jobs = tracker.getJobIdsForGroup(group)
        info = tracker.getJobInfo(max(jobs)) if jobs else None
        if info is not None and info.status == "SUCCEEDED":
            return len(jobs) - 1
        time.sleep(0.05)
    raise AssertionError("sentinel job never reached the status tracker")


def _dir_bytes(base, dirs):
    return sum(
        os.path.getsize(os.path.join(r, f))
        for d in dirs
        for r, _, fs in os.walk(os.path.join(base, d))
        for f in fs
    )


def test_read_plans_from_the_manifest_without_jobs(spark, tmp_path):
    """Building a read of a plain version, a DV version, an equality-
    delete version and a MERGE version launches no Spark job: every
    scan takes its schema from the manifest instead of a footer."""
    tbl = _dv_table(spark, tmp_path)  # v0 plain
    tbl.delete_where(spark, F.col("k") < 10)  # v1 DV
    tbl.delete_eq(spark, spark.range(20, 30).select(F.col("id").alias("k")), on="k")
    changes = spark.createDataFrame(
        [(50, -1, "U"), (60, None, "D")], "k long, v long, cdc_op string"
    )
    tbl.apply_cdc(spark, changes, "k")  # v3 MERGE
    for v in range(4):
        assert _jobs_during(spark, lambda: tbl.read(spark, version=v)) == 0, v
    got = sorted((r.k, r.v) for r in tbl.read(spark).collect())
    want = sorted(
        [(k, 2 * k) for k in range(10, 100) if not 20 <= k < 30 and k not in (50, 60)]
        + [(50, -1)]
    )
    assert got == want


def test_apply_cdc_writes_one_dv_and_one_delta_dir(spark, tmp_path):
    """MERGE is merge-on-read: the new manifest keeps every parent data
    dir verbatim and adds exactly one data dir and one DV dir, and the
    bytes it adds stay below the parent's data bytes."""
    tbl = SnapshotTable(str(tmp_path / "mor"))
    tbl.commit(
        spark.range(20000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ).repartition(4)
    )
    tbl.commit(
        spark.range(20000, 21000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
        mode="append",
    )
    parent = tbl.versions()[-1]
    changes = spark.createDataFrame(
        [(5, -5, "U"), (20500, None, "D"), (30000, 7, "U")],
        "k long, v long, cdc_op string",
    )
    tbl.apply_cdc(spark, changes, "k")
    m = tbl.versions()[-1]
    assert m["dirs"][: len(parent["dirs"])] == parent["dirs"]
    new_dirs = m["dirs"][len(parent["dirs"]):]
    new_dvs = [d for d in m["dvs"] if d not in parent["dvs"]]
    assert len(new_dirs) == 1 and len(new_dvs) == 1
    added = _dir_bytes(tbl.base, new_dirs + new_dvs)
    assert added < _dir_bytes(tbl.base, parent["dirs"]), added
    assert tbl.read(spark).count() == 21000  # one delete, one insert
    touched = tbl.read(spark).filter(F.col("k").isin(5, 20500, 30000))
    assert {r.k: r.v for r in touched.collect()} == {5: -5, 30000: 7}


def test_apply_cdc_composes_with_eqdeletes_appends_and_time_travel(spark, tmp_path):
    """MERGE inside a chain of equality deletes and appends: a 'U' on a
    key an older equality delete removed comes back (its dir is younger
    than the delete), a later equality delete covers the MERGE dir, a
    second MERGE tombstones the first one's row, and time travel
    replays every version across the MERGEs."""
    tbl = _dv_table(spark, tmp_path)  # v0: k -> 2k, k in 0..99

    def cdc(rows):
        return spark.createDataFrame(rows, "k long, v long, cdc_op string")

    tbl.delete_eq(spark, spark.range(10).select(F.col("id").alias("k")), on="k")  # v1
    tbl.apply_cdc(  # v2
        spark, cdc([(5, -5, "U"), (20, -20, "U"), (30, None, "D"), (200, -200, "U")]), "k"
    )
    tbl.commit(  # v3: younger append, reusing key 20
        frame(spark, [(300, 600), (20, 40)], "k long, v long"), mode="append"
    )
    tbl.delete_eq(spark, spark.range(20, 21).select(F.col("id").alias("k")), on="k")  # v4
    tbl.apply_cdc(spark, cdc([(5, 55, "U")]), "k")  # v5

    base = {k: 2 * k for k in range(100)}
    v1 = {k: v for k, v in base.items() if k >= 10}
    v2 = {**{k: v for k, v in v1.items() if k not in (20, 30)}, 5: -5, 20: -20, 200: -200}
    want = {
        0: sorted(base.items()),
        1: sorted(v1.items()),
        2: sorted(v2.items()),
        3: sorted([*v2.items(), (300, 600), (20, 40)]),
        4: sorted([*((k, v) for k, v in v2.items() if k != 20), (300, 600)]),
        5: sorted(
            [*((k, v) for k, v in v2.items() if k not in (5, 20)), (300, 600), (5, 55)]
        ),
    }
    for version, rows in want.items():
        got = sorted((r.k, r.v) for r in tbl.read(spark, version=version).collect())
        assert got == rows, version
    tbl.rewrite_compact(spark)
    assert sorted((r.k, r.v) for r in tbl.read(spark).collect()) == want[5]


def test_lost_merge_race_reclaims_both_dirs(spark, tmp_path):
    """A MERGE that loses the commit race (the stale-listing pattern of
    test_concurrent_commit_loser_fails_loudly) raises and leaves
    neither its DV dir nor its data dir on disk."""
    from x8313_etl_spark.operators.snapshots import ConcurrentCommitError

    base = str(tmp_path / "mergerace")
    winner, loser = SnapshotTable(base), SnapshotTable(base)
    winner.commit(spark.range(10).select(F.col("id").alias("k")))  # v0
    stale = loser.versions(None)
    loser.versions = lambda branch="main": stale  # type: ignore[method-assign]
    assert winner.commit(
        spark.range(10, 12).select(F.col("id").alias("k")), mode="append"
    ) == 1
    before = set(os.listdir(base))
    changes = frame(spark, [(3, "U"), (4, "D")], "k long, cdc_op string")
    with pytest.raises(ConcurrentCommitError):
        loser.apply_cdc(spark, changes, "k")
    assert set(os.listdir(base)) == before, "the lost MERGE leaked a dir"
    assert winner.read(spark).count() == 12


def test_delete_racing_a_commit_loses_instead_of_dropping_it(spark, tmp_path):
    """A commit that lands while a delete writes its vector must make
    the delete lose the race. Numbering the delete's version from a
    fresh listing after its write would publish it on top of the stale
    parent and silently drop the other writer's rows from the lineage."""
    from x8313_etl_spark.operators.snapshots import ConcurrentCommitError

    base = str(tmp_path / "delrace")
    winner, loser = SnapshotTable(base), SnapshotTable(base)
    winner.commit(spark.range(10).select(F.col("id").alias("k")))  # v0
    write = loser._write_dir

    def racing_write(df, prefix):
        winner.commit(spark.range(10, 15).select(F.col("id").alias("k")), mode="append")
        return write(df, prefix)

    loser._write_dir = racing_write  # type: ignore[method-assign]
    with pytest.raises(ConcurrentCommitError):
        loser.delete_where(spark, F.col("k") < 3)
    assert winner.read(spark).count() == 15


def test_manifest_with_equality_delete_dirs_fails_loudly(spark, tmp_path):
    """A manifest that still carries equality-delete key dirs (the
    format before ``delete_eq`` wrote positional vectors) raises a
    ValueError naming its version before any Spark job runs: reading it
    without those tombstones would resurrect the rows they deleted."""
    import json

    tbl = _dv_table(spark, tmp_path)  # v0
    v0 = tbl.versions()[-1]
    old = dict(
        v0,
        version=1,
        mode="delete_eq",
        eqdvs=[{
            "dir": "ev-0123456789ab",
            "on": "k",
            "covers": v0["dirs"],
            "schema": {"type": "struct", "fields": [
                {"name": "key", "type": "long", "nullable": True, "metadata": {}}
            ]},
        }],
    )
    with open(os.path.join(tbl.base, "_manifest", "00000001.json"), "w") as fh:
        json.dump(old, fh)

    def read():
        with pytest.raises(ValueError, match="version 1"):
            tbl.read(spark)

    assert _jobs_during(spark, read) == 0
    with pytest.raises(ValueError, match="version 1"):
        tbl.delete_where(spark, F.col("k") < 3)
    assert tbl.read(spark, version=0).count() == 100


def test_read_plan_is_one_join_after_many_writes(spark, tmp_path):
    """Sixteen writes mixing appends, MERGEs, positional and equality
    deletes leave the latest read one multi-dir data scan minus one DV
    anti-join: one join and two FileScans, however many deletes made
    the vectors. Time travel to a middle version stays exact."""
    import re

    tbl = _dv_table(spark, tmp_path)  # v0: k -> 2k, k in 0..99
    state = {k: 2 * k for k in range(100)}
    want = {0: sorted(state.items())}

    def wrote(version):
        want[version] = sorted(state.items())

    for r in range(4):
        lo = 200 + 10 * r
        # fresh keys, plus the key the previous round's delete_eq took
        rows = [(k, -k) for k in range(lo, lo + 5)] + ([(10 * r - 10, r)] if r else [])
        state.update(rows)
        wrote(tbl.commit(frame(spark, rows, "k long, v long"), mode="append"))
        changes = [(lo, 1, "U"), (300 + r, r, "U"), (50 + r, 0, "D")]
        state.update({lo: 1, 300 + r: r})
        del state[50 + r]
        cdc = frame(spark, changes, "k long, v long, cdc_op string")
        wrote(tbl.apply_cdc(spark, cdc, "k"))
        for k in range(60 + 5 * r, 62 + 5 * r):
            del state[k]
        wrote(tbl.delete_where(spark, F.col("k").between(60 + 5 * r, 61 + 5 * r)))
        doomed = [10 * r, 90 + r, lo]  # lo's live row is in the MERGE dir
        for k in doomed:
            del state[k]
        keys = frame(spark, [(k,) for k in doomed], "k long")
        wrote(tbl.delete_eq(spark, keys, on="k"))

    assert len(want) == 17
    for version in (8, 16):
        got = sorted((r.k, r.v) for r in tbl.read(spark, version=version).collect())
        assert got == want[version], version
    plan = tbl.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\b\w+Join\b", plan)) == 1, plan
    assert plan.count("FileScan") == 2, plan
