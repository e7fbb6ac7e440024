"""Streaming ingest dedup: arrival-order MinHash dedup as a
foreachBatch sink (the streaming form of operators/increment.py).

Production corpora are not deduplicated in one batch job — documents
ARRIVE, and each arrival must be judged against everything that
arrived before it (accepted AND rejected arrivals both index — the
exact all-pairs-vs-earlier semantics, so a dup-of-a-dup reports its
true nearest partner; an accepted-only index is the other defensible
policy, with different verdicts on dup chains). This sink keeps the
standing MinHash signature/shingle state on disk and advances it per
micro-batch:

  verdict(d) = is d a banded near-dup (exact Jaccard ≥ τ on band-
  colliding candidates) of ANY earlier document — the seeded index, a
  document from an earlier micro-batch, or a smaller-id document in
  d's own micro-batch.

"Earlier" is document id order: the feed contract is that micro-batch
boundaries respect id order (batch k's ids all precede batch k+1's),
which the file-source harness enforces with id-range files in
modification-time order. Under that contract the verdict stream is
exactly the one-shot SQL over the whole feed (the t18 twin), so the
incremental state machinery is verified against a full recompute —
the m3/m8 discipline applied to dedup.

State/commit discipline is inherited from VersionedStateDir
(operators/verdir.py): every epoch rewrites SIG/SH/VERD copy-on-write
into ``v{batch_id}`` with an atomic rename, replayed batch_ids are
idempotent no-ops, restart recovers from the highest version on disk.
Copy-on-write full rewrites are fixture convenience; at corpus scale
the same contract holds with per-epoch APPEND directories plus
compaction (the snapshots.py shapes) — the sink's join topology
(batch × state band join, never state × state) is what survives 100 TB,
because per-epoch work is |batch| sketching plus band-bucket-bounded
candidate verification, independent of accumulated corpus size.

Hot-bucket cap caveat: ``max_bucket_size`` drops over-cap band buckets
on BOTH candidate-supplying sides — the accumulated index AND the
within-batch self-join (one hot key inside a single micro-batch pairs
quadratically just like one in the index). The cap is epoch-relative
(a bucket crosses it at some arrival point, earlier epochs saw it
smaller), so the exact equivalence to the one-shot SQL twin holds only
while no bucket ever exceeds the cap — the default cap needs a
5000-strong near-identical cluster to fire, and the t18 twin corpus
never approaches it.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .bandjoin import DEFAULT_MAX_BUCKET_SIZE, drop_hot_buckets
from .increment import top1_verdict
from .minhash import (
    NEAR_DUP_THRESHOLD,
    band_table,
    jaccard_verify,
    shingle_table,
    signature_from_shingles,
)
from .verdir import VersionedStateDir

_VERD_SCHEMA = "doc_id long, is_dup boolean, dup_of long, jaccard double"


class IngestDedupSink(VersionedStateDir):
    """foreachBatch sink accumulating (SIG, SH, VERD) state."""

    def __init__(
        self,
        state_root: str,
        max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    ) -> None:
        super().__init__(state_root)
        self.max_bucket_size = max_bucket_size

    def init_index(self, index_docs: DataFrame) -> None:
        """Seed epoch (version -1): the pre-existing corpus index, a
        (doc_id, text) frame like every batch."""
        if self.current is not None:
            return  # restart path
        spark = index_docs.sparkSession
        sh = shingle_table(index_docs, "doc_id", "text")
        verd = spark.createDataFrame([], _VERD_SCHEMA)
        self._commit_state(-1, signature_from_shingles(sh), sh, verd)

    def _commit_state(self, batch_id: int, sig, sh, verd) -> None:
        def write(tmp: str) -> None:
            sig.write.mode("overwrite").parquet(os.path.join(tmp, "SIG"))
            sh.write.mode("overwrite").parquet(os.path.join(tmp, "SH"))
            verd.write.mode("overwrite").parquet(os.path.join(tmp, "VERD"))

        self._commit(batch_id, write)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._version_dir(batch_id)):
            self._note_replay(batch_id)
            return
        assert self.current is not None, "init_index must run first"
        spark = batch.sparkSession
        sig_old = spark.read.parquet(os.path.join(self.current, "SIG"))
        sh_old = spark.read.parquet(os.path.join(self.current, "SH"))
        verd_old = spark.read.parquet(os.path.join(self.current, "VERD"))

        batch = batch.localCheckpoint(eager=True)  # pin the epoch's rows
        bsh = shingle_table(batch, "doc_id", "text")
        bsig = signature_from_shingles(bsh)

        bucket = ("band", "key")
        banded_new = band_table(bsig, "new_id")
        banded_seen = drop_hot_buckets(
            band_table(sig_old, "old_id"), bucket, self.max_bucket_size
        )
        cross = banded_new.join(banded_seen, ["band", "key"]).select(
            "new_id", "old_id"
        )
        # the same DROP posture as the index side: one hot band key
        # INSIDE a micro-batch pairs quadratically too (a crawl burst of
        # boilerplate arriving in one batch). Over-cap buckets are
        # dropped ENTIRELY from the candidate-supplying side (0 pairs
        # from them, not a capped sample), so a doc
        # whose only collisions are hot buckets is reported non-dup; the
        # docstring's one-shot-twin caveat covers exactly this
        # divergence when the cap fires
        banded_new_rhs = drop_hot_buckets(
            banded_new, bucket, self.max_bucket_size
        ).select(F.col("new_id").alias("old_id"), "band", "key")
        within = (
            banded_new.alias("a")
            .join(banded_new_rhs.alias("b"), ["band", "key"])
            .filter(F.col("old_id") < F.col("new_id"))
            .select("new_id", "old_id")
        )
        cand = cross.unionByName(within).distinct()

        sh_all = sh_old.unionByName(bsh)
        verified = jaccard_verify(
            cand, bsh, sh_all, "new_id", "old_id", NEAR_DUP_THRESHOLD
        )
        self._commit_state(
            batch_id,
            sig_old.unionByName(bsig),
            sh_all,
            verd_old.unionByName(top1_verdict(batch.select("doc_id"), verified)),
        )

    def read_verdicts(self, spark) -> DataFrame:
        assert self.current is not None
        return spark.read.parquet(os.path.join(self.current, "VERD"))
