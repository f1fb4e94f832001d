"""CDC apply operators: the reference's Delta-MERGE pipeline
re-expressed as declarative DataFrame transformations.

The reference applies CDC per table in a driver-side Python loop
(reference: src/notebooks/demo/cdc_500_tables_streaming.py:151-265 —
collect distinct tables, ThreadPoolExecutor, per-table MERGE). On
Spark the idiomatic equivalent is ONE windowed/merged plan over all
keys: a single hash shuffle by key, no driver loop, AQE-handled skew.
That is what scales to 100 TB — the shuffle is on the merge key only
and map-side partial aggregation applies where possible. The MERGE
probes the state with the batch's keys, so a small batch shuffles
no state at all.

All operators take/return DataFrames so they compose and stay inside
Catalyst (whole-stage codegen; no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Deterministic "now" anchor for recency scoring (the events table
# spans 2024-01; the reference scores recency against datetime.now(),
# reference: config/table_manager.py:157-204).
PRIORITY_ANCHOR = "2024-01-31 00:00:00"
MERGE_SPLIT = "2024-01-16 00:00:00"


def _key_cols(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def latest_state(
    log: DataFrame, key: str | list[str] = "key_id", ts: str = "ts", seq: str = "seq"
) -> DataFrame:
    """Materialize the latest row per key; a key whose last change is
    a DELETE disappears — the end state a Delta MERGE pipeline would
    produce (reference: cdc_500_tables_streaming.py:238-265).

    One shuffle on the key; row_number is whole-stage-codegen'd.
    """
    return net_changes(log, key, ts, seq).where(F.col("operation") != "DELETE")


def latest_state_with_truncate(
    log: DataFrame,
    table: str = "tbl",
    key: str = "key_id",
    ts: str = "ts",
    seq: str = "seq",
) -> DataFrame:
    """latest_state over a log whose operation vocabulary includes
    table-wide TRUNCATE (reference: aurora_cdc_datasource_v2.py:61
    enumerates INSERT/UPDATE/DELETE/TRUNCATE). Semantics are binlog-
    position order, exactly as MySQL applies them: a TRUNCATE at
    sequence S wipes every change of that table with seq < S; rows
    landing after S rebuild state normally.

    Scale: the per-table truncate frontier is ONE aggregate bounded by
    the number of TABLES (schema objects — bounded metadata, not data
    volume; the reference caps at 500), so broadcasting it is safe at
    any SF — unlike data-sized broadcasts, which this repo avoids.
    The surviving-rows filter then needs no shuffle, and latest_state
    adds the single hash shuffle on (table, key).
    """
    truncs = (
        log.where(F.col("operation") == "TRUNCATE")
        .groupBy(table)
        .agg(F.max(seq).alias("_trunc_seq"))
    )
    live = (
        log.join(F.broadcast(truncs), table, "left")
        .where(
            (F.col("operation") != "TRUNCATE")
            & (F.col(seq) > F.coalesce(F.col("_trunc_seq"), F.lit(-1)))
        )
        .drop("_trunc_seq")
    )
    return latest_state(live, key=[table, key], ts=ts, seq=seq)


def scd2_history(
    log: DataFrame, key: str = "key_id", ts: str = "ts", seq: str = "seq"
) -> DataFrame:
    """SCD type-2 history: each change becomes a versioned row with
    [valid_from, valid_to) and an is_current flag. This is the
    time-travel query surface the reference gets from Delta
    (reference: unity_catalog_cdc_demo.py:573-603).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(seq).asc())
    return log.select(
        key,
        seq,
        "operation",
        "event_type",
        "value",
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
        (F.lead(ts).over(w).isNull() & (F.col("operation") != "DELETE")).alias(
            "is_current"
        ),
    )


def upsert_merge(
    snapshot: DataFrame, changes: DataFrame, key: str | list[str] = "key_id"
) -> DataFrame:
    """MERGE INTO semantics (reference:
    unity_catalog_cdc_demo.py:392-446): apply the net effect of a
    change batch to a snapshot —

        matched + last op DELETE     -> drop row
        matched + last op not DELETE -> update (take change row)
        not matched + op not DELETE  -> insert
        not matched + op DELETE      -> nothing

    A NULL key never matches (``ON s.k = c.k``), so a non-DELETE
    change with a NULL key is inserted as given and a snapshot row
    with a NULL key is kept.

    `changes` must already be netted to one row per key (use
    ``latest_state``-style reduction first, keeping DELETE rows).
    Implemented as ``snapshot LEFT ANTI JOIN changes(keys) UNION ALL
    changes WHERE operation <> 'DELETE'``: the snapshot is only
    probed, and when the change side is small the planner broadcasts
    it, so no shuffle reads the snapshot. `changes` is read twice;
    callers feeding it from a source should materialize it first.
    The result keeps the snapshot's column order.
    """
    keys = _key_cols(key)
    cols = snapshot.columns
    kept = snapshot.join(changes.select(*keys), keys, "left_anti")
    upserts = changes.where(F.col("operation") != "DELETE")
    return kept.select(cols).union(upserts.select(cols))


def net_changes(
    log: DataFrame, key: str | list[str] = "key_id", ts: str = "ts", seq: str = "seq"
) -> DataFrame:
    """Reduce a change batch to its net effect: last row per key
    (DELETE rows kept so the merge can drop targets)."""
    w = Window.partitionBy(*_key_cols(key)).orderBy(
        F.col(ts).desc(), F.col(seq).desc()
    )
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_exactly_once(log: DataFrame) -> DataFrame:
    """Exactly-once delivery: drop duplicate deliveries of the same
    change record (reference: aurora_cdc_datasource_v2.py:158
    `enable_exactly_once` + offset checkpointing). Full-row distinct
    — a hash aggregate with map-side partial dedup, no window needed.
    """
    return log.distinct()


def sessionize(
    log: DataFrame,
    gap_minutes: int = 30,
    key: str = "key_id",
    ts: str = "ts",
    seq: str = "seq",
) -> DataFrame:
    """Gap-based sessionization of the change stream — the batch
    analog of the stateful-streaming path (streaming/stateful.py).

    Microsecond-integer arithmetic keeps it exact across engines.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(seq).asc())
    us = F.unix_micros(F.col(ts))
    new_sess = (
        F.when(us - F.lag(us).over(w) > F.lit(gap_us), 1)
        .otherwise(0)
        + F.when(F.lag(us).over(w).isNull(), 1).otherwise(0)
    )
    with_sess = log.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_sess.groupBy(key, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4)
        .alias("sum_value"),
    )


def priority_schedule(log: DataFrame, batch_size: int = 50) -> DataFrame:
    """Table-manager priority scoring re-expressed as a query
    (reference: config/table_manager.py:157-240): score each key by
    change volume (capped) + recency vs a fixed anchor, then pick the
    next processing batch. Integer arithmetic only → deterministic.
    """
    anchor_us = F.unix_micros(F.to_timestamp(F.lit(PRIORITY_ANCHOR)))
    stats = log.groupBy("key_id").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.max("ts").alias("last_ts"),
    )
    hours_since = (anchor_us - F.unix_micros(F.col("last_ts"))) / F.lit(3_600_000_000)
    hours_since = F.floor(hours_since)
    priority = (
        F.least(F.col("n_changes"), F.lit(100))
        + F.when(hours_since < 1, 50).when(hours_since < 24, 20).otherwise(0)
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("key_id").asc())
    return (
        stats.withColumn("priority", priority.cast("long"))
        .withColumn("batch_rank", F.row_number().over(w).cast("long"))
        .withColumn("in_next_batch", F.col("batch_rank") <= batch_size)
    )


def upsert_merge_evolving(
    snapshot: DataFrame, changes: DataFrame, key: str | list[str] = "key_id"
) -> DataFrame:
    """Schema-evolving MERGE: the change batch may carry columns the
    snapshot lacks (the reference's schema_version / ddl events add
    columns mid-stream; Delta calls this mergeSchema). Both sides are
    aligned to the UNION of their columns with typed nulls for the
    missing ones, then merged with the standard semantics — existing
    rows get NULL for newborn columns, exactly like an ALTER TABLE
    ADD COLUMN backfill."""
    s_fields = {f.name: f.dataType for f in snapshot.schema.fields}
    c_fields = {f.name: f.dataType for f in changes.schema.fields}
    all_cols = list(snapshot.columns) + [
        c for c in changes.columns if c not in s_fields
    ]
    for col in all_cols:
        if col not in s_fields:
            snapshot = snapshot.withColumn(col, F.lit(None).cast(c_fields[col]))
        if col not in c_fields:
            changes = changes.withColumn(col, F.lit(None).cast(s_fields[col]))
    return upsert_merge(snapshot.select(all_cols), changes.select(all_cols), key)


def latest_state_agg(
    log: DataFrame, key: str | list[str] = "key_id", ts: str = "ts", seq: str = "seq"
) -> DataFrame:
    """latest_state as ONE hash aggregate (max_by on a sortable
    composite key) instead of a window sort.

    Tradeoff vs the window implementation: the window shuffles EVERY
    row then sorts within partitions; this aggregate gets map-side
    partial max_by, so the shuffle carries at most one row per
    (key x mapper) — at 100 TB with bounded key cardinality that is
    orders of magnitude less network. Locally at sf0.1 the window is
    slightly faster (whole-stage sort on in-memory data beats the
    per-row string key build), so both live here and the 100 TB
    deployment picks the aggregate. Results are identical (pytest +
    oracle)."""
    # Numeric struct ordering (structs compare field-by-field), not a
    # lpad'd string: string keys break lexicographically on negative
    # values ('-' sorts above digits), silently picking a wrong latest
    # row for pre-1970 timestamps or negative seq.
    okey = F.struct(
        F.unix_micros(F.col(ts)).alias("_ts_us"), F.col(seq).alias("_seq")
    )
    keys = _key_cols(key)
    payload = [c for c in log.columns if c not in keys]
    agg = log.groupBy(*keys).agg(
        F.max_by(F.struct(*payload), okey).alias("_r")
    )
    return agg.where(F.col("_r.operation") != "DELETE").select(
        *keys, *[F.col(f"_r.{c}").alias(c) for c in payload]
    )


def late_arrival_report(log: DataFrame, key: str = "key_id") -> DataFrame:
    """Per-key out-of-order severity: events whose event time sits
    BEHIND the key's running high-water mark in arrival (seq) order,
    with the worst lateness in whole seconds — the measurement a
    stream's watermark delay is calibrated against. Keys with no
    late events are omitted (an empty result means fully in-order
    delivery — true of the driver testdata, pinned in pytest along
    with a constructed-disorder case). One running-max window
    sharing the key shuffle, one aggregate; integer epoch math."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("seq").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = log.withColumn("high_water", F.max("ts").over(w))
    late = F.when(F.col("ts") < F.col("high_water"), 1).otherwise(0)
    late_s = F.when(
        F.col("ts") < F.col("high_water"),
        F.expr("(unix_micros(high_water) - unix_micros(ts)) div 1000000"),
    )
    return (
        arr.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(late).cast("long").alias("n_late"),
            F.coalesce(F.max(late_s), F.lit(0)).cast("long").alias(
                "max_late_s"
            ),
        )
        .where(F.col("n_late") > 0)
    )
