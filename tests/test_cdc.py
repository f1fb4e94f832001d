"""CDC core: operator invariants + oracle parity (mirrors the
reference's CDC insert/update/delete round-trip suite, reference:
tests/test_cdc_integration.py:283-419)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aurora_cdc_demo_spark.operators import cdc_apply
from aurora_cdc_demo_spark.registry import QUERIES
from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log

from .helpers import assert_matches_oracle

CDC_QUERIES = [
    "cdc_operation_log",
    "cdc_latest_state",
    "cdc_scd2_history",
    "cdc_upsert_merge",
    "cdc_dedup_exactly_once",
    "cdc_event_counts_windowed",
    "cdc_table_stats",
    "cdc_error_monitor",
    "cdc_sessionize",
    "cdc_priority_schedule",
    "cdc_state_at_timestamp",
]


@pytest.mark.parametrize("name", CDC_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    assert_matches_oracle(spark, name, sf_dir)


def test_latest_state_one_row_per_key(spark, sf_dir):
    state = QUERIES["cdc_latest_state"](spark, sf_dir)
    assert state.groupBy("key_id").count().where("count > 1").count() == 0


def test_latest_state_drops_deleted_keys(spark, sf_dir):
    log = cdc_operation_log(spark, sf_dir)
    state = cdc_apply.latest_state(log)
    # every surviving row is the key's true last change and not DELETE
    last = cdc_apply.net_changes(log)
    joined = state.alias("s").join(
        last.alias("l"), F.col("s.key_id") == F.col("l.key_id")
    )
    assert joined.where("s.seq != l.seq").count() == 0
    assert state.where("operation = 'DELETE'").count() == 0


def test_merge_equals_replay(spark, sf_dir):
    """Applying a change batch to a snapshot == replaying the full
    log (MERGE correctness invariant)."""
    merged = QUERIES["cdc_upsert_merge"](spark, sf_dir)
    replayed = QUERIES["cdc_latest_state"](spark, sf_dir)
    assert merged.exceptAll(replayed).count() == 0
    assert replayed.exceptAll(merged).count() == 0


def test_exactly_once_dedup_restores_log(spark, sf_dir):
    log = cdc_operation_log(spark, sf_dir)
    deduped = QUERIES["cdc_dedup_exactly_once"](spark, sf_dir)
    assert deduped.count() == log.count()


def test_scd2_current_rows_match_latest_state(spark, sf_dir):
    scd2 = QUERIES["cdc_scd2_history"](spark, sf_dir)
    state = QUERIES["cdc_latest_state"](spark, sf_dir)
    current = scd2.where("is_current")
    assert current.count() == state.count()


def test_sessionize_covers_all_events(spark, sf_dir):
    log = cdc_operation_log(spark, sf_dir)
    sessions = QUERIES["cdc_sessionize"](spark, sf_dir)
    total = sessions.agg(F.sum("n_events")).collect()[0][0]
    assert total == log.count()


def test_workload_generator_deterministic_and_weighted(spark):
    from aurora_cdc_demo_spark.sources.workload import SCENARIOS, generate_workload

    a = generate_workload(spark, 20000).toPandas()
    b = generate_workload(spark, 20000).toPandas()
    assert a.equals(b)
    assert a["seq"].is_unique and len(a) == 20000
    # scenario mix tracks the reference weights (±30% relative)
    total = sum(w for _, _, w in SCENARIOS)
    counts = a["event_type"].value_counts()
    for name, _, weight in SCENARIOS:
        expect = 20000 * weight / total
        assert abs(counts.get(name, 0) - expect) < 0.3 * expect + 20, name
    # generated log flows through the CDC appliers unchanged
    from aurora_cdc_demo_spark.operators.cdc_apply import latest_state

    df = generate_workload(spark, 20000)
    state = latest_state(df)
    assert state.count() > 0
    assert state.groupBy("key_id").count().agg({"count": "max"}).collect()[0][0] == 1


def test_upsert_merge_null_key_is_not_matched(spark):
    """A NULL key never matches (MERGE's ``ON s.k = c.k``): a
    non-DELETE change with a NULL key is inserted as given, a NULL-key
    DELETE does nothing, and a NULL-key snapshot row is kept."""
    schema = "key_id long, seq long, operation string, value double"
    snapshot = spark.createDataFrame(
        [(1, 1, "INSERT", 1.0), (None, 2, "INSERT", 2.0)], schema
    )
    upserts = spark.createDataFrame(
        [(1, 3, "UPDATE", 10.0), (None, 4, "UPDATE", 4.0)], schema
    )
    merged = cdc_apply.upsert_merge(snapshot, upserts)
    assert merged.columns == snapshot.columns
    assert set(map(tuple, merged.collect())) == {
        (1, 3, "UPDATE", 10.0),
        (None, 2, "INSERT", 2.0),
        (None, 4, "UPDATE", 4.0),
    }
    delete = spark.createDataFrame([(None, 5, "DELETE", 5.0)], schema)
    merged = cdc_apply.upsert_merge(snapshot, delete)
    assert set(map(tuple, merged.collect())) == set(
        map(tuple, snapshot.collect())
    )


def _ancestors_of(plan: str, needle: str) -> list[str]:
    """Node names above the first plan-tree line containing `needle`
    (indentation gives the depth in Spark's tree strings)."""
    stack: list[tuple[int, str]] = []
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        depth = len(line) - len(body)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if needle in line:
            return [name for _, name in stack]
        stack.append((depth, body.split(" ")[0]))
    raise AssertionError(f"{needle} not in plan")


def test_upsert_merge_does_not_shuffle_state(spark, sf_dir, tmp_path):
    """For a state read from parquet and a small netted change set,
    the merge is a left anti join and no shuffle Exchange sits above
    the state's scan: the state is probed, never repartitioned."""
    log = cdc_operation_log(spark, sf_dir)
    state_dir = str(tmp_path / "merge_state")
    cdc_apply.latest_state(log.where(F.col("seq") % 10 != 0)).write.parquet(
        state_dir
    )
    state = spark.read.parquet(state_dir)
    net = cdc_apply.net_changes(log.where(F.col("seq") % 10 == 0)).localCheckpoint()
    merged = cdc_apply.upsert_merge(state, net)
    merged.collect()
    plan = merged._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "LeftAnti" in final and "FullOuter" not in final
    above_scan = _ancestors_of(final, "FileScan parquet")
    assert not [n for n in above_scan if "Exchange" in n or "Shuffle" in n], final


def test_upsert_merge_evolving_schema(spark, sf_dir):
    """A change batch adding a column merges: old rows null-filled,
    changed/new rows carry the value, deletes still drop."""
    from aurora_cdc_demo_spark.operators.cdc_apply import (
        latest_state,
        net_changes,
        upsert_merge_evolving,
    )
    from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log
    from pyspark.sql import functions as F

    log = cdc_operation_log(spark, sf_dir)
    split = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    snapshot = latest_state(log.where(F.col("ts") < split))
    changes = net_changes(log.where(F.col("ts") >= split)).withColumn(
        "schema_version", F.lit(2)
    )
    merged = upsert_merge_evolving(snapshot, changes)
    assert "schema_version" in merged.columns
    # rows taken from the change side carry v2; untouched rows are null
    changed_keys = changes.select("key_id").distinct()
    from_change = merged.join(changed_keys, "key_id")
    untouched = merged.join(changed_keys, "key_id", "left_anti")
    assert from_change.where(F.col("schema_version").isNull()).count() == 0
    assert untouched.where(F.col("schema_version").isNotNull()).count() == 0
    # same row set as the non-evolving merge
    from aurora_cdc_demo_spark.operators.cdc_apply import upsert_merge

    plain = upsert_merge(snapshot, net_changes(log.where(F.col("ts") >= split)))
    assert merged.count() == plain.count()


def test_latest_state_agg_equals_window(spark, sf_dir):
    from aurora_cdc_demo_spark.operators.cdc_apply import (
        latest_state,
        latest_state_agg,
    )
    from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log

    log = cdc_operation_log(spark, sf_dir)
    a = latest_state(log)
    b = latest_state_agg(log).select(*a.columns)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_latest_state_agg_negative_ts_and_seq(spark):
    """Struct-ordered max_by must pick the numerically-latest row even
    for pre-1970 timestamps and negative seq (a lexicographic string
    key would sort '-5' above positive values)."""
    from aurora_cdc_demo_spark.operators.cdc_apply import (
        latest_state,
        latest_state_agg,
    )

    log = spark.createDataFrame(
        [
            (1, -5, "INSERT", "a", "1969-06-01 00:00:00", 1.0),
            (1, -2, "UPDATE", "b", "1969-06-01 00:00:00", 2.0),
            (1, 3, "UPDATE", "c", "1975-01-01 00:00:00", 3.0),
            (2, -9, "INSERT", "d", "1969-01-01 00:00:00", 4.0),
            (2, -8, "UPDATE", "e", "1969-12-31 00:00:00", 5.0),
        ],
        "key_id long, seq long, operation string, event_type string, "
        "ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    a = latest_state(log)
    b = latest_state_agg(log).select(*a.columns)
    rows = {r.key_id: r.event_type for r in b.collect()}
    assert rows == {1: "c", 2: "e"}
    assert a.exceptAll(b).count() == 0


def test_latest_state_with_truncate_semantics(spark):
    """Binlog-position TRUNCATE semantics: wipes every earlier change
    of its table (even un-deleted keys), later changes rebuild state,
    other tables untouched, DELETE still drops."""
    rows = [
        # (tbl, key_id, seq, operation, ts)
        ("t0", 1, 1, "INSERT", "2024-01-01 00:00:01"),
        ("t0", 2, 2, "INSERT", "2024-01-01 00:00:02"),
        ("t0", None, 3, "TRUNCATE", "2024-01-01 00:00:03"),
        ("t0", 2, 4, "INSERT", "2024-01-01 00:00:04"),
        ("t0", 3, 5, "INSERT", "2024-01-01 00:00:05"),
        ("t0", 3, 6, "DELETE", "2024-01-01 00:00:06"),
        ("t1", 9, 7, "INSERT", "2024-01-01 00:00:07"),
    ]
    log = spark.createDataFrame(
        [(t, k, s, o, ts) for t, k, s, o, ts in rows],
        "tbl string, key_id long, seq long, operation string, ts_s string",
    ).select("tbl", "key_id", "seq", "operation", F.to_timestamp("ts_s").alias("ts"))
    out = cdc_apply.latest_state_with_truncate(log)
    got = {(r["tbl"], r["key_id"]): r["seq"] for r in out.collect()}
    # key 1 wiped by truncate; key 2 only its post-truncate row; key 3
    # deleted; t1 untouched
    assert got == {("t0", 2): 4, ("t1", 9): 7}


def test_truncate_queries_oracle_parity(spark, sf_dir):
    assert_matches_oracle(spark, "cdc_latest_state_with_truncate", sf_dir)
    assert_matches_oracle(spark, "cdc_distinct_transactions", sf_dir)


def test_monitoring_views_oracle_parity(spark, sf_dir):
    assert_matches_oracle(spark, "cdc_progress", sf_dir)
    assert_matches_oracle(spark, "cdc_batch_metrics", sf_dir)
