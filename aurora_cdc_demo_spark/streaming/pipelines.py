"""Structured Streaming pipelines — the reference's streaming surface
(reference: src/notebooks/demo/cdc_500_tables_streaming.py:117-354)
re-expressed Spark-first:

- readStream → watermark → windowed aggregation (monitoring feed)
- foreachBatch incremental upsert maintaining a latest-state table

The batch queries in queries/monitoring.py share the same aggregation
logic; Structured Streaming's contract is exactly that batch/stream
plans coincide.

Where the reference loops tables on the driver and MERGEs per table
(reference: lines 151-217 — collect + ThreadPoolExecutor), we apply
ONE declarative merge over all keys per micro-batch.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc_apply import net_changes, upsert_merge, upsert_merge_evolving

# the committed batch id, a dot-file inside the state dir (Spark's and
# pyarrow's readers skip it)
BATCH_MARKER = ".last_batch"


def read_cdc_stream(
    spark: SparkSession, log_dir: str, watermark: str | None = "30 minutes"
) -> DataFrame:
    """File-based change stream (parquet events dir) → typed CDC
    log with a 30-min watermark (reference: line 134). Pass
    ``watermark=None`` for consumers that watermark downstream on a
    renamed/derived column (e.g. the stream-stream interval join) —
    Spark disallows redefining a watermark on the same lineage."""
    schema = (
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    )
    stream = spark.readStream.schema(schema).parquet(log_dir)
    if watermark is not None:
        stream = stream.withWatermark("ts", watermark)
    return stream


def windowed_event_counts(stream: DataFrame) -> DataFrame:
    """Streaming twin of monitoring.event_counts_windowed (reference
    monitoring query #1): tumbling 1-h window per operation."""
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "operation")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("error_count"),
            F.max("ts").alias("last_event_time"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "operation",
            "event_count",
            "error_count",
            "last_event_time",
            "sum_value",
        )
    )


class StagedStateStore:
    """Exactly-once state plumbing shared by the foreachBatch stores:
    the state is one parquet dir, each batch commits by stage-and-swap
    (write a staging dir, swap it in with two renames), and the batch
    id, written into the staging dir before the swap as `.last_batch`,
    lets a re-delivered batch id be skipped. The marker is swapped in
    with the state it describes, so no crash point leaves a state that
    holds a batch its marker does not name (Spark's parquet reader
    skips dot-files; glob readers match `*.parquet`).

    Each commit rewrites the whole state, so a batch costs one scan
    and one write of it. The stores probe the state with anti-joins
    on batch-sized key sets, which shuffle no state rows; rewriting
    only the files a batch touches needs a table format and is not
    done here.

    Because every batch pays that scan and write, the state files are
    written compact: zstd, with v2 data pages, which store the int64
    columns (keys, seq) as DELTA_BINARY_PACKED instead of PLAIN;
    strings stay dictionary-encoded. A 500k-row CDC state takes
    3.8 MB instead of Spark's default 9.1 MB (snappy, v1 pages).
    These are fixed writer options of the commit, not settings: the
    session's Parquet config (INT96 timestamps included) and the
    state's schema are unchanged, and a state written in the default
    format is read as-is and rewritten compact by its next commit."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir

    def _read_state(self) -> DataFrame | None:
        # Crash recovery: the swap in _commit has a window between
        # rename(state_dir → .old) and rename(.staging → state_dir). If
        # we crashed there, state_dir is missing but .old holds the full
        # previous state — roll it back before reading, instead of
        # silently treating the replayed batch as the first batch.
        state, old = Path(self.state_dir), Path(self.state_dir + ".old")
        if not state.exists() and old.exists():
            old.rename(state)
        if not state.exists():
            return None  # genuinely the first batch
        # a dir with no data files (say, created empty ahead of the
        # stream) is no state either: Spark cannot infer its schema
        if all(f.startswith(("_", ".")) for f in os.listdir(state)):
            return None
        return self.spark.read.parquet(self.state_dir)

    def _is_replay(self, batch_id: int) -> bool:
        # the swapped-in state's marker; a swap cut between its renames
        # leaves no state dir, and .old's state predates this batch
        marker = Path(self.state_dir, BATCH_MARKER)
        return marker.exists() and marker.read_text() == str(batch_id)

    def _commit(self, merged: DataFrame, batch_id: int) -> None:
        """Stage-and-swap transactional commit: the new state and its
        batch id land in a side dir that is swapped in, so a crash
        mid-write leaves the previous state intact and a crash after
        the swap leaves a state whose marker names this batch (the
        no-Delta analog of a transactional commit); _read_state rolls
        back the .old dir if we crash between the two renames."""
        staging = self.state_dir + ".staging"
        (
            merged.write.mode("overwrite")
            .option("compression", "zstd")
            .option("parquet.writer.version", "v2")
            .parquet(staging)
        )
        Path(staging, BATCH_MARKER).write_text(str(batch_id))
        old = self.state_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if Path(self.state_dir).exists():
            Path(self.state_dir).rename(old)
        Path(staging).rename(self.state_dir)
        shutil.rmtree(old, ignore_errors=True)

    def start(self, stream: DataFrame, checkpoint_dir: str):
        return (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class ParquetStateStore(StagedStateStore):
    """foreachBatch sink maintaining a latest-state parquet table via
    the upsert_merge operator (MERGE INTO analog without Delta;
    reference: unity_catalog_cdc_demo.py:392-446).

    ``key`` may be composite (e.g. ["table", "key_id"]) — many-table
    CDC is ONE merge keyed by (table, pk), not the reference's
    per-table driver loop (reference:
    cdc_500_tables_streaming.py:151-217)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key: str | list[str] = "key_id",
    ):
        super().__init__(spark, state_dir)
        self.key = key

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Idempotent, atomic batch apply. foreachBatch MAY re-deliver
        a batch id after a failure; the marker file short-circuits the
        replay (the merge itself is idempotent — pytest property — but
        skipping avoids re-paying the work and generalizes to
        non-idempotent sinks)."""
        if self._is_replay(batch_id):
            return  # replayed delivery — already applied
        net = net_changes(batch_df, key=self.key)
        self._commit(self._merge(self._read_state(), net), batch_id)

    def _merge(self, state: DataFrame | None, net: DataFrame, merge=upsert_merge):
        """The batch's net applied to the state. The merge reads its
        change side twice (the anti-join keys and the upserts), so the
        batch-sized net is materialized once: the micro-batch source
        is scanned once, and the AQE-coalesced net adds one file to
        the state rather than one per shuffle partition."""
        if state is None:
            return net.where(F.col("operation") != "DELETE")
        return merge(state, net.localCheckpoint(), key=self.key)


class EvolvingCDCStateStore(ParquetStateStore):
    """foreachBatch sink for the RAW 21-column CDC event stream
    (sources/cdc_datasource.CDC_EVENT_SCHEMA): flattens the `after`
    map to typed columns, applies table-wide TRUNCATE in binlog order,
    and — the reference's schema-evolution path (reference:
    aurora_cdc_datasource_v2.py:76-78 reserves schema_version /
    ddl_statement exactly for this) — reacts to in-stream DDL events:
    an ALTER TABLE ... ADD COLUMN event registers the new column, and
    from that batch on it is flattened out of `after` and merged via
    upsert_merge_evolving, which NULL-backfills existing state rows
    like an ALTER TABLE ADD COLUMN would.

    The column registry (state_dir + '.schema.json') is derived purely
    from DDL events already consumed, so replaying a batch re-derives
    it — idempotent alongside the batch-id marker.

    Assumes per-table in-order delivery (both reader modes guarantee
    it), so state rows of a table always predate a TRUNCATE seen in
    the current batch.
    """

    BASE_FLAT = ["event_type", "value"]

    def __init__(self, spark, state_dir, key=None):
        super().__init__(spark, state_dir, key=key or ["tbl", "key_id"])

    # -- DDL column registry ---------------------------------------

    def _registry_path(self) -> str:
        return self.state_dir + ".schema.json"

    def _load_columns(self) -> list[str]:
        if os.path.exists(self._registry_path()):
            with open(self._registry_path()) as fh:
                return json.load(fh)["extra_columns"]
        return []

    def _register_ddl(self, ddl_rows: list) -> list[str]:
        cols = self._load_columns()
        for stmt in ddl_rows:
            m = re.search(r"ADD COLUMN (\w+)", stmt or "")
            if m and m.group(1) not in cols:
                cols.append(m.group(1))
        # write aside, then rename: a crash mid-dump leaves the previous
        # registry whole instead of a truncated file no batch can load
        tmp = self._registry_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"extra_columns": cols}, fh)
        os.replace(tmp, self._registry_path())
        return cols

    # -- flatten (the reference's flatten_json_df,
    #    cdc_500_tables_streaming.py:297-314) ----------------------

    def _flatten(self, raw: DataFrame, extra_cols: list[str]) -> DataFrame:
        cols = [
            F.col("table").alias("tbl"),
            F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
            "seq",
            "operation",
            F.col("after")["event_type"].alias("event_type"),
            "ts",
            F.col("after")["value"].cast("double").alias("value"),
        ]
        cols += [F.col("after")[c].alias(c) for c in extra_cols]
        return raw.select(*cols)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._is_replay(batch_id):
            return
        # the DDL collect, the TRUNCATE frontier and the flatten all
        # read the batch: materialize it so the source is scanned once
        batch_df = batch_df.localCheckpoint()
        # 1. DDL events extend the column registry (control flow:
        #    bounded by schema-change count, not data volume)
        ddl_rows = [
            r["ddl_statement"]
            for r in batch_df.where(F.col("operation") == "DDL")
            .select("ddl_statement")
            .collect()
        ]
        extra = self._register_ddl(ddl_rows) if ddl_rows else self._load_columns()
        # 2. per-table TRUNCATE frontier within this batch (bounded by
        #    table count -> broadcast-safe)
        truncs = (
            batch_df.where(F.col("operation") == "TRUNCATE")
            .groupBy(F.col("table").alias("tbl"))
            .agg(F.max("seq").alias("_tseq"))
        )
        flat = self._flatten(
            batch_df.where(~F.col("operation").isin("DDL", "TRUNCATE")), extra
        )
        live = (
            flat.join(F.broadcast(truncs), "tbl", "left")
            .where(F.col("seq") > F.coalesce(F.col("_tseq"), F.lit(-1)))
            .drop("_tseq")
        )
        net = net_changes(live, key=self.key)
        state = self._read_state()
        if state is not None:
            # drop truncated tables' rows: with per-table in-order
            # delivery they all predate the truncate position
            state = (
                state.join(F.broadcast(truncs), "tbl", "left")
                .where(F.col("_tseq").isNull())
                .drop("_tseq")
            )
        self._commit(self._merge(state, net, upsert_merge_evolving), batch_id)


def dedup_stream_exactly_once(
    stream: DataFrame, watermark_delay: str = "30 minutes"
) -> DataFrame:
    """Streaming exactly-once delivery: dropDuplicatesWithinWatermark
    on the delivery identity (key_id, seq), so duplicate redeliveries
    across micro-batches are suppressed AND dedup state is actually
    evicted once the event time falls behind the watermark (plain
    dropDuplicates on a non-event-time subset keeps state forever —
    unbounded on a long-running stream). Eviction contract: a
    duplicate arriving more than ``watermark_delay`` after the
    original's event time may be re-emitted; redeliveries in real CDC
    replay are near-immediate, well inside the delay (reference: the
    v2 DataSource dedups redelivered binlog events the same way,
    aurora_cdc_datasource_v2.py:158). Batch twin:
    operators/cdc_apply.dedup_exactly_once."""
    return stream.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["key_id", "seq"]
    )


def error_context_stream_join(
    events: DataFrame, errors: DataFrame
) -> DataFrame:
    """Stream-stream interval join: enrich every DELETE (error) with
    the same key's non-error events inside ±5 minutes — the streaming
    twin of the batch range-join family (operators/rangejoin.py), on
    the join class Structured Streaming DOES support natively:
    equi-key + bounded event-time band.

    Both sides carry watermarks and the band is closed on both ends,
    so Spark derives a state-retention bound for each side and evicts
    joined state as the watermark passes — the state store stays
    O(events inside the band), not O(stream history). At 100 TB/day
    this is the difference between a running join and an OOM: an
    unbounded-condition stream join is rejected by Spark for exactly
    that reason.

    Batch/stream contract: the same join expression over the full
    at-rest log must produce the identical row set
    (tests/test_streaming.py::test_stream_stream_interval_join)."""
    ev = events.where(F.col("operation") != "DELETE").select(
        F.col("key_id").alias("ev_key"),
        F.col("seq").alias("event_seq"),
        F.col("event_type"),
        F.col("ts").alias("ev_ts"),
    ).withWatermark("ev_ts", "30 minutes")
    er = errors.where(F.col("operation") == "DELETE").select(
        F.col("key_id").alias("err_key"),
        F.col("seq").alias("window_seq"),
        F.col("ts").alias("err_ts"),
    ).withWatermark("err_ts", "30 minutes")
    cond = (
        (F.col("ev_key") == F.col("err_key"))
        & (F.col("ev_ts") >= F.col("err_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("ev_ts") <= F.col("err_ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return ev.join(er, cond, "inner").select(
        F.col("err_key").alias("key_id"),
        "window_seq",
        "event_seq",
        "event_type",
        "err_ts",
        "ev_ts",
    )


class StreamingLSHDedupGate(StagedStateStore):
    """Incremental near-dup gate for a document INGEST stream — the
    streaming complement of the batch MinHash-LSH dedup
    (operators/dedup.py): documents are admitted as they ARRIVE,
    each batch checked against the signatures of everything admitted
    so far.

    State = the admitted docs' 12-minhash signatures (one row per
    admitted doc — bounded by the SURVIVING corpus, the index a real
    ingest service keeps anyway), stage-and-swap committed like
    ParquetStateStore. A candidate is a near-dup of an admitted doc
    when >= ``min_matches`` of its 12 minhashes agree (the MinHash
    ESTIMATE of Jaccard — dedup_minhash_estimate #110 calibrates
    exactly this), so verification needs NO shingle state.

    Batch protocol per micro-batch:
      1. signature the batch (same minhash_signatures as batch mode);
      2. drop docs estimate-colliding with ADMITTED state;
      3. among survivors, run the batch LSH component dedup and admit
         each component's min-id canonical (the same
         keep-one-per-group rule as corpus_keep_list_lsh).

    Contract (pinned in tests/test_round7.py):
      - independence: no two admitted docs estimate-collide;
      - coverage: every rejected doc estimate-collides with an
        admitted doc, or shares a within-batch component with one;
      - replay idempotence: re-delivering a batch id is a no-op.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        min_matches: int = 6,
    ):
        super().__init__(spark, state_dir)
        self.min_matches = min_matches

    # -- the gate --
    def _signatures(self, docs: DataFrame) -> DataFrame:
        from ..operators.dedup import minhash_signatures, shingles

        return minhash_signatures(shingles(docs))

    def _estimate_collisions(
        self, cand: DataFrame, admitted: DataFrame
    ) -> DataFrame:
        """doc_ids of ``cand`` with >= min_matches matching
        minhashes against any ``admitted`` signature — the collision
        probe is a band-bucket equi-join (same banded shape as batch
        LSH), then the match count verifies the estimate; no
        all-pairs compare."""
        from ..operators.dedup import NUM_MINHASH

        c = cand.select(
            F.col("doc_id").alias("c_id"),
            *[F.col(f"mh{k}").alias(f"c{k}") for k in range(NUM_MINHASH)],
        )
        a = admitted.select(
            F.col("doc_id").alias("a_id"),
            *[F.col(f"mh{k}").alias(f"a{k}") for k in range(NUM_MINHASH)],
        )
        # candidate pairs: any single minhash equality (r=1 banding —
        # supersets every >= min_matches pair by pigeonhole)
        c_b = c.select(
            "c_id",
            F.posexplode(
                F.array(*[F.col(f"c{k}") for k in range(NUM_MINHASH)])
            ).alias("band", "mh"),
        )
        a_b = a.select(
            "a_id",
            F.posexplode(
                F.array(*[F.col(f"a{k}") for k in range(NUM_MINHASH)])
            ).alias("band", "mh"),
        )
        pairs = (
            c_b.join(a_b, ["band", "mh"])
            .select("c_id", "a_id")
            .distinct()
        )
        matches = (
            pairs.join(c, "c_id")
            .join(a, "a_id")
            .select(
                "c_id",
                sum(
                    F.when(
                        F.col(f"c{k}") == F.col(f"a{k}"), 1
                    ).otherwise(0)
                    for k in range(NUM_MINHASH)
                ).alias("n_match"),
            )
        )
        return (
            matches.where(F.col("n_match") >= self.min_matches)
            .select(F.col("c_id").alias("doc_id"))
            .distinct()
        )

    def apply_batch(self, batch_docs: DataFrame, batch_id: int) -> None:
        if self._is_replay(batch_id):
            return
        from ..operators.dedup import minhash_lsh_pairs
        from ..operators.graph import connected_components

        sig = self._signatures(batch_docs)
        state = self._read_state()
        if state is not None and state.head(1):
            hits = self._estimate_collisions(sig, state)
            survivors_ids = sig.select("doc_id").join(
                hits, "doc_id", "left_anti"
            )
        else:
            survivors_ids = sig.select("doc_id")
        surv_docs = batch_docs.join(survivors_ids, "doc_id")
        pairs = minhash_lsh_pairs(surv_docs).select("doc_a", "doc_b")
        comps = connected_components(
            surv_docs.select("doc_id"),
            pairs,
            id_col="doc_id",
            src="doc_a",
            dst="doc_b",
        )
        canon = comps.where(
            F.col("cluster_id") == F.col("doc_id")
        ).select("doc_id")
        admitted_new = sig.join(canon, "doc_id")
        merged = (
            state.unionByName(admitted_new)
            if state is not None
            else admitted_new
        )
        self._commit(merged, batch_id)
