"""Streaming corpus-ingest curation: exact dedup ACROSS micro-batches
plus the row-local quality gate, with the stage-and-swap exactly-once
commit discipline of the CDC state store (pipelines.ParquetStateStore).

This is the ingest half of the keep-list pipeline run as documents
ARRIVE instead of as a batch sweep: each micro-batch drops rows whose
normalized-text digest was already admitted (first-arrival-wins — the
arrival-order canonical a real ingest produces; the batch keep-list's
min-doc_id canonical coincides with it when arrival order follows
doc_id) and rows failing the quality floor, then commits the admitted
set atomically.

Scale: the only cross-batch state is the admitted table, and the
dedup probe is an anti-join on its digest column — state is bounded
by DISTINCT content, not deliveries. The quality gate is a stateless
codegen projection (operators/text.quality_score — no Python worker).
Like ParquetStateStore, each commit rewrites the state dir (the
no-Delta transactional analog). Its probe runs the other way round
from ParquetStateStore's merge, which broadcasts the batch's keys
against the state: here the batch probes the state's digests, so at
100 TB the same logic lands on a table format with appends + the
digest column bucketed so the anti-join is shuffle-free on the state
side.

The stream-equals-batch law is pinned in tests/test_streaming.py:
end state == batch dedup_exact canonical ∩ quality floor, for a
doc_id-ordered batch split, with duplicate batch delivery replayed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import quality_bp_col
from .pipelines import StagedStateStore

KEEP_QUALITY_BP = 5000


def _digest() -> F.Column:
    # identical normalization to operators/dedup.dedup_exact
    return F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    )


class CurationStore(StagedStateStore):
    """foreachBatch sink maintaining the ADMITTED documents table:
    per batch — in-batch exact dedup (min doc_id per digest), anti-
    join against already-admitted digests, quality floor, atomic
    stage-and-swap commit with batch-id replay idempotence."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        quality_bp: int = KEEP_QUALITY_BP,
        model_gate: bool = False,
    ):
        super().__init__(spark, state_dir)
        self.quality_bp = quality_bp
        # model_gate=True adds the hashed-linear-classifier veto
        # (operators/classifier — the SAME scoring definition the
        # batch v7 keep-list runs, so stream-equals-batch stays a
        # law about state handling, not two scorers drifting)
        self.model_gate = model_gate

    # -- the curation step ------------------------------------------

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._is_replay(batch_id):
            return
        from pyspark.sql import Window

        with_digest = batch_df.withColumn("digest", _digest())
        # in-batch first-wins: min doc_id per digest
        w = Window.partitionBy("digest")
        batch_canonical = (
            with_digest.withColumn("_m", F.min("doc_id").over(w))
            .where(F.col("doc_id") == F.col("_m"))
            .drop("_m")
        )
        # cross-batch dedup: digest not yet admitted
        state = self._read_state()
        if state is not None:
            fresh = batch_canonical.join(
                state.select("digest"), "digest", "left_anti"
            )
        else:
            fresh = batch_canonical
        # quality floor applied INLINE (row-local, codegen): the
        # score is a pure function of `text`, so gating is a filter
        # on the batch itself — no score-table join-back shuffle
        # (guide §2.1; same scoring definition as quality_score)
        kept = fresh.where(quality_bp_col() >= F.lit(self.quality_bp))
        if self.model_gate:
            from ..operators.classifier import clf_score_df

            # row-local (per-doc) like the quality floor: a stateless
            # codegen chain, so admission stays order-independent
            ok = clf_score_df(kept).where("keep_flag = 1").select("doc_id")
            kept = kept.join(ok, "doc_id")
        merged = kept if state is None else state.unionByName(kept)
        # no localCheckpoint of the state: _commit writes to a STAGING
        # dir, so the lazy read of the current state dir completes
        # during that write and nothing re-reads `merged` after the
        # swap — the same discipline ParquetStateStore uses (it
        # materializes only its batch-sized net)
        self._commit(merged, batch_id)


# ---------------------------------------------------------------------------
# Streaming LINE-level dedup — the ingest twin of the batch CCNet
# pre-step (registry: corpus_line_dedup). Lines are admitted
# first-arrival-wins across micro-batches; the cross-batch state is
# the admitted line-hash set carried inside the keep-list table
# (bounded by DISTINCT lines, not deliveries — the same state-bound
# argument as CurationStore's digest set).
# ---------------------------------------------------------------------------

LINE_TOKENS = 10  # same stand-in segmentation as operators/text.py


def _lines(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    w = LINE_TOKENS
    arr = F.transform(
        F.sequence(
            F.lit(0), ((F.size(toks) + w - 1) / w).cast("int") - 1
        ),
        lambda j: F.array_join(F.slice(toks, j * w + 1, w), " "),
    )
    return docs.select(
        "doc_id", F.posexplode(arr).alias("line_no", "line")
    ).select(
        "doc_id",
        F.col("line_no").cast("long").alias("line_no"),
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\s+", " ")
        ).alias("line_hash"),
        F.length("line").alias("nchars"),
    )


class LineDedupStore(StagedStateStore):
    """foreachBatch sink maintaining the corpus-wide line keep-list
    as documents ARRIVE: per batch — in-batch first occurrence per
    line hash (doc_id, line_no order), anti-probe against already-
    admitted hashes, atomic stage-and-swap commit with batch-id
    replay idempotence. End state == the batch corpus_line_dedup
    keep-list whenever arrival order follows doc_id (pinned in
    pytest)."""

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._is_replay(batch_id):
            return
        from pyspark.sql import Window

        lines = _lines(batch_df)
        w = Window.partitionBy("line_hash").orderBy(
            F.col("doc_id").asc(), F.col("line_no").asc()
        )
        ranked = lines.withColumn("_rn", F.row_number().over(w))
        state = self._read_state()
        if state is not None:
            seen = (
                state.where(F.col("keep"))
                .select("line_hash")
                .withColumn("_seen", F.lit(1))
            )
            ranked = ranked.join(seen, "line_hash", "left")
        else:
            ranked = ranked.withColumn("_seen", F.lit(None).cast("int"))
        scored = ranked.select(
            "doc_id",
            "line_no",
            "line_hash",
            "nchars",
            ((F.col("_rn") == 1) & F.col("_seen").isNull()).alias("keep"),
        )
        merged = scored if state is None else state.unionByName(scored)
        # staging-dir write → no lineage hazard, no checkpoint needed
        # (see CurationStore.apply_batch)
        self._commit(merged, batch_id)
