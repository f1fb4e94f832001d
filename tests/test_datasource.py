"""Custom DataSource V2 round-trip (mirrors the reference's CDC
round-trip suite, reference: tests/test_cdc_integration.py:283-419):
batch read, streaming read with offsets, exactly-once replay."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aurora_cdc_demo_spark.sources.cdc_datasource import (
    PARTITION_BYTES,
    CDCReplayDataSource,
    CDCReplayStreamReader,
    _group_files,
    write_binlog_from_events,
)


@pytest.fixture(scope="module")
def binlog_dir(tmp_path_factory, sf_dir):
    out = tmp_path_factory.mktemp("binlog")
    n = write_binlog_from_events(f"{sf_dir}/events.parquet", str(out), rows_per_file=300)
    assert n > 0
    return str(out), n


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(CDCReplayDataSource)
    return spark


def test_batch_read_full_log(registered, binlog_dir):
    path, n = binlog_dir
    df = registered.read.format("cdc_replay").option("path", path).load()
    assert df.count() == n
    ops = {r["operation"] for r in df.select("operation").distinct().collect()}
    assert ops == {"INSERT", "UPDATE", "DELETE", "TRUNCATE"}
    # DELETE/TRUNCATE events carry no after-image; others do
    assert df.where(
        "operation IN ('DELETE','TRUNCATE') AND after IS NOT NULL"
    ).count() == 0
    assert df.where(
        "operation NOT IN ('DELETE','TRUNCATE') AND after IS NULL"
    ).count() == 0
    # primary keys present except on table-wide TRUNCATE
    assert df.where(
        "primary_keys IS NULL AND operation <> 'TRUNCATE'"
    ).count() == 0
    assert df.where(
        "primary_keys IS NOT NULL AND operation = 'TRUNCATE'"
    ).count() == 0


def test_full_reference_schema(registered, binlog_dir):
    """The event schema carries every column of the reference's
    21-column unified schema (reference:
    aurora_cdc_datasource_v2.py:59-89; `ts` ≡ its `timestamp`) and
    the position/transaction/tracking fields are populated."""
    path, _ = binlog_dir
    df = registered.read.format("cdc_replay").option("path", path).load()
    expected = {
        "database", "table", "operation", "ts", "event_time", "seq",
        "binlog_file", "binlog_position", "gtid", "server_id",
        "transaction_id", "before", "after", "primary_keys",
        "schema_version", "ddl_statement", "processing_time",
        "batch_id", "partition_id", "is_snapshot", "error_flag",
        "error_message",
    }
    assert set(df.columns) == expected
    for col in [
        "event_time", "binlog_file", "binlog_position", "gtid",
        "server_id", "transaction_id", "schema_version",
        "processing_time", "batch_id", "partition_id",
    ]:
        assert df.where(F.col(col).isNull()).count() == 0, col
    # deterministic derivations hold
    assert df.where("event_time <> ts").count() == 0
    assert (
        df.where("unix_micros(processing_time) - unix_micros(ts) <> 250000")
        .count() == 0
    )
    assert df.where(
        "gtid <> concat('srv', server_id, ':', seq) AND operation <> 'DDL'"
    ).count() == 0


def test_batch_matches_cdc_log_semantics(registered, binlog_dir, sf_dir):
    """The replayed operations must agree with the derived CDC log
    (TRUNCATE rows are out-of-band table-wide ops the row-level log
    doesn't model — excluded on their event_id rule)."""
    from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log

    path, _ = binlog_dir
    replay = (
        registered.read.format("cdc_replay")
        .option("path", path)
        .load()
        .where("operation <> 'TRUNCATE'")
        .select(F.col("seq"), F.col("operation").alias("op_replay"))
    )
    log = cdc_operation_log(registered, sf_dir).where("seq % 251 <> 250").select(
        "seq", F.col("operation").alias("op_log")
    )
    joined = replay.join(log, "seq")
    assert joined.count() == log.count()
    assert joined.where("op_replay <> op_log").count() == 0


def test_stream_offsets_progress(binlog_dir):
    path, n = binlog_dir
    reader = CDCReplayStreamReader({"path": path, "batch_size": "1234"})
    offset = reader.initialOffset()
    total = 0
    batches = 0
    while True:
        rows, end = reader.read(offset)
        rows = list(rows)
        if not rows:
            break
        total += len(rows)
        batches += 1
        assert len(rows) <= 1234
        offset = end
    assert total == n
    assert batches == -(-n // 1234)


def test_stream_replay_between_offsets(binlog_dir):
    """Exactly-once recovery: re-reading [start, end) returns the
    identical batch."""
    path, _ = binlog_dir
    reader = CDCReplayStreamReader({"path": path, "batch_size": "500"})
    start = reader.initialOffset()
    first, end = reader.read(start)
    first = list(first)
    replayed = list(reader.readBetweenOffsets(start, end))
    assert first == replayed


def test_stream_commit_checkpoint(binlog_dir, tmp_path):
    path, _ = binlog_dir
    reader = CDCReplayStreamReader({"path": path, "batch_size": "500"})
    _, end = reader.read(reader.initialOffset())
    reader.commit(end)
    with open(f"{path}/_committed_offset.json") as fh:
        assert json.load(fh) == end


def test_stream_commit_survives_crash_mid_write(binlog_dir, monkeypatch):
    """A crash part-way through writing the committed-offset marker
    leaves the previous marker whole (written aside, then renamed)."""
    path, _ = binlog_dir
    reader = CDCReplayStreamReader({"path": path, "batch_size": "500"})
    _, first = reader.read(reader.initialOffset())
    reader.commit(first)
    _, second = reader.read(first)

    def dump_then_crash(obj, fh, **kw):
        fh.write(json.dumps(obj)[:7])
        raise OSError("crash mid-write")

    monkeypatch.setattr(json, "dump", dump_then_crash)
    with pytest.raises(OSError):
        reader.commit(second)
    monkeypatch.undo()
    with open(f"{path}/_committed_offset.json") as fh:
        assert json.load(fh) == first


def test_group_files_packs_by_bytes_in_log_order():
    """Every file lands in exactly one partition, the partitions
    concatenate to the log order, a few-MB log is one partition, and
    a large one is capped at two partitions per core."""
    mb = 1024 * 1024

    def check(sizes, cpus):
        files = [f"binlog.{i:06d}.jsonl" for i in range(len(sizes))]
        groups = _group_files(files, sizes, cpus)
        assert [f for g in groups for f in g] == files
        return groups

    assert len(check([mb] * 4 + [mb // 3], cpus=4)) == 1  # sf0.01-sized
    assert len(check([mb] * 47, cpus=4)) == 2  # sf0.1-sized
    assert len(check([mb] * 470, cpus=4)) == 8
    assert len(check([mb] * 470, cpus=32)) == -(-470 * mb // PARTITION_BYTES)
    assert len(check([PARTITION_BYTES] * 3, cpus=4)) == 3
    assert len(check([0, 0], cpus=4)) == 1
    assert check([], cpus=4) == []


def test_replay_typed_matches_oracle_at_sf001(spark, sf_dir):
    """cdc_replay_typed at sf0.01, where the whole binlog reads as one
    byte-packed partition, still matches its DuckDB oracle."""
    from aurora_cdc_demo_spark.registry import read_binlog

    from .helpers import assert_matches_oracle

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    assert read_binlog(spark, sf001).rdd.getNumPartitions() == 1
    assert_matches_oracle(spark, "cdc_replay_typed", sf001)


def test_streaming_query_end_to_end(registered, binlog_dir, tmp_path):
    """readStream through the DataSource → availableNow → memory
    sink: all events delivered exactly once."""
    path, n = binlog_dir
    import time

    q = (
        registered.readStream.format("cdc_replay")
        .option("path", path)
        .option("batch_size", "3000")
        .load()
        .groupBy("operation")
        .count()
        .writeStream.format("memory")
        .queryName("cdc_replay_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    # micro-batches drain batch_size rows each; poll until delivered
    total = 0
    deadline = time.time() + 120
    while time.time() < deadline:
        rows = registered.sql(
            "SELECT CAST(SUM(count) AS BIGINT) AS n FROM cdc_replay_counts"
        ).collect()
        total = rows[0]["n"] or 0
        if total >= n:
            break
        time.sleep(1)
    q.stop()
    assert total == n


def test_offsets_carry_table_offsets(binlog_dir):
    """Offsets are the reference's CDCOffset analog: global position
    PLUS per-table consumed counts (reference:
    aurora_cdc_datasource_v2.py:20-41), JSON round-trippable."""
    path, n = binlog_dir
    reader = CDCReplayStreamReader({"path": path, "batch_size": "700"})
    offset = reader.initialOffset()
    assert offset["table_offsets"] == {}
    while True:
        rows, end = reader.read(offset)
        if not list(rows):
            break
        offset = json.loads(json.dumps(end))  # checkpoint round-trip
    assert sum(offset["table_offsets"].values()) == n
    assert set(offset["table_offsets"]) == {f"users_{i}" for i in range(4)}


def test_priority_mode_serves_top_tables_first(binlog_dir):
    """tables_per_batch=2: the first micro-batch serves only the two
    highest-priority tables (TableManager scoring: capped pending
    volume + recency; reference: aurora_cdc_datasource_v2.py:350-369)."""
    path, _ = binlog_dir
    reader = CDCReplayStreamReader(
        {"path": path, "batch_size": "200", "tables_per_batch": "2"}
    )
    rows, end = reader.read(reader.initialOffset())
    rows = list(rows)
    tables = {r[1] for r in rows}
    assert len(tables) <= 2
    assert len(rows) <= 200
    consumed = {t for t, n in end["table_offsets"].items() if n > 0}
    assert consumed == tables


def test_priority_mode_exactly_once_per_table(binlog_dir):
    """Draining the log in priority mode delivers every row of every
    table exactly once, and replaying any [start, end) offset pair
    reproduces the identical batch."""
    path, n = binlog_dir
    reader = CDCReplayStreamReader(
        {"path": path, "batch_size": "300", "tables_per_batch": "2"}
    )
    offset = reader.initialOffset()
    seen: list[int] = []
    replay_checked = False
    while True:
        rows, end = reader.read(offset)
        rows = list(rows)
        if not rows:
            break
        if not replay_checked and len(seen) > 0:
            replayed = list(reader.readBetweenOffsets(offset, end))
            assert replayed == rows
            replay_checked = True
        seen.extend(r[5] for r in rows)  # seq
        offset = end
    assert replay_checked
    assert len(seen) == n
    assert len(set(seen)) == n  # no duplicates, nothing missed


def test_debezium_dlq_partitions_the_stream(spark, sf_dir):
    """Silver rows + dead letters partition the bronze stream: every
    envelope lands in exactly one of the two."""
    from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log
    from aurora_cdc_demo_spark.sources.debezium import (
        CORRUPT_EVERY,
        dead_letters,
        parse_envelopes,
        synth_envelopes,
    )

    log = cdc_operation_log(spark, sf_dir)
    bronze = synth_envelopes(log)
    n_total = bronze.count()
    n_silver = parse_envelopes(bronze).count()
    dlq = dead_letters(bronze)
    n_dlq = dlq.count()
    assert n_silver + n_dlq == n_total
    # the corrupted slice is exactly the DLQ
    assert n_dlq == log.where(f"seq % {CORRUPT_EVERY} = 0").count()
    assert dlq.where("error_type <> 'PARSE_ERROR'").count() == 0


def test_priority_mode_through_spark_stream(registered, binlog_dir, tmp_path):
    """Priority mode through a REAL Structured Streaming query: the
    per-table offset dict must survive Spark's offset-log JSON
    round-trip, and every event must be delivered exactly once."""
    import time

    path, n = binlog_dir
    q = (
        registered.readStream.format("cdc_replay")
        .option("path", path)
        .option("batch_size", "400")
        .option("tables_per_batch", "2")
        .load()
        .groupBy("table")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("seq").alias("seq_sum"))
        .writeStream.format("memory")
        .queryName("cdc_priority_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    total = 0
    deadline = time.time() + 120
    while time.time() < deadline:
        rows = registered.sql(
            "SELECT CAST(SUM(n) AS BIGINT) AS total FROM cdc_priority_counts"
        ).collect()
        total = rows[0]["total"] or 0
        if total >= n:
            break
        time.sleep(0.5)
    q.stop()
    assert total == n
    # exactly-once: per-table seq sums match the batch read
    got = {
        r["table"]: (r["n"], r["seq_sum"])
        for r in registered.sql(
            "SELECT table, n, seq_sum FROM cdc_priority_counts"
        ).collect()
    }
    want = {
        r["table"]: (r["n"], r["seq_sum"])
        for r in registered.read.format("cdc_replay")
        .option("path", path)
        .load()
        .groupBy("table")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("seq").alias("seq_sum"))
        .collect()
    }
    assert got == want
