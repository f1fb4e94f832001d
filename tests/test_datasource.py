"""Custom DataSource V2 round-trip (mirrors the reference's CDC
round-trip suite, reference: tests/test_cdc_integration.py:283-419):
batch read, streaming read with offsets, exactly-once replay."""

from __future__ import annotations

import copy
import gzip
import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.json as pj
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

from aurora_cdc_demo_spark.registry import binlog_path, read_binlog
from aurora_cdc_demo_spark.registry import p01_cdc_operation_log
from aurora_cdc_demo_spark.sources import cdc_datasource
from aurora_cdc_demo_spark.sources.cdc_datasource import (
    CDC_EVENT_SCHEMA,
    PARTITION_BYTES,
    CDCReplayBatchReader,
    CDCReplayDataSource,
    CDCReplayStreamReader,
    _FilePartition,
    _group_files,
    _log_files,
    _log_lines,
    read_binlog_native,
    write_binlog_from_events,
)


@pytest.fixture(scope="module")
def binlog_dir(tmp_path_factory, sf_dir):
    out = tmp_path_factory.mktemp("binlog")
    n = write_binlog_from_events(f"{sf_dir}/events.parquet", str(out), rows_per_file=300)
    assert n > 0
    return str(out), n


@pytest.fixture(scope="module")
def ddl_binlog_dir(tmp_path_factory, sf_dir):
    """The log with the mid-log DDL event, whose seq (1e9 + its index)
    does not follow the log order; n counts the DDL event too."""
    out = tmp_path_factory.mktemp("binlog_ddl")
    n = write_binlog_from_events(
        f"{sf_dir}/events.parquet", str(out), rows_per_file=300, include_ddl=True
    )
    return str(out), n + 1


def _rows(batches) -> list[tuple]:
    """The rows of a reader's output as tuples, each value as a Spark
    row gives it (a map as a dict, a timestamp as a naive local
    datetime). Every item must be a RecordBatch of at least one row."""
    out = []
    for b in batches:
        assert isinstance(b, pa.RecordBatch) and b.num_rows
        cols = []
        for col in b.columns:
            vals = col.to_pylist()
            if pa.types.is_map(col.type):
                vals = [None if v is None else dict(v) for v in vals]
            elif pa.types.is_timestamp(col.type):
                vals = [None if v is None else v.astimezone().replace(tzinfo=None) for v in vals]
            cols.append(vals)
        out.extend(zip(*cols))
    return out


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
        rows = _rows(rows)
        if not rows:
            break
        total += len(rows)
        batches += 1
        assert len(rows) <= 1234
        offset = end
    assert total == n
    assert batches == -(-n // 1234)


def test_stream_replay_between_offsets(binlog_dir, monkeypatch):
    """Exactly-once recovery: re-reading [start, end) returns the
    identical batch for every batch of a full drain (500-row batches
    over 300-row files, so most start mid-file), and a new reader's
    replay parses only the files the batch spans."""
    path, n = binlog_dir
    reader = CDCReplayStreamReader({"path": path, "batch_size": "500"})
    batches = []
    start = reader.initialOffset()
    while True:
        rows, end = reader.read(start)
        rows = _rows(rows)
        if not rows:
            break
        batches.append((start, end, rows))
        start = end
    assert sum(len(rows) for _, _, rows in batches) == n
    assert any(s["row"] for s, _, _ in batches)
    parse, parsed = cdc_datasource._parse_file, []

    def counting_parse(path, *args, **kwargs):
        parsed.append(path)
        return parse(path, *args, **kwargs)

    monkeypatch.setattr(cdc_datasource, "_parse_file", counting_parse)
    files = _log_files(path)
    for start, end, rows in batches:
        assert _rows(reader.readBetweenOffsets(start, end)) == rows
        parsed.clear()
        recovered = CDCReplayStreamReader({"path": path, "batch_size": "500"})
        assert _rows(recovered.readBetweenOffsets(start, end)) == rows
        spanned = files[start["file_idx"] : end["file_idx"] + (1 if end["row"] else 0)]
        assert parsed == spanned


def test_read_binlog_in_a_second_session(spark, sf_dir):
    """The replay source resolves in a session made by newSession()
    while the root session, which registered it first, is active; the
    new session starts its Python processes the same way."""
    spark.createDataFrame([(1,)], "x int")  # makes the root session active
    n = read_binlog(spark, sf_dir).count()
    second = spark.newSession()
    assert second.sparkContext.pythonExec == spark.sparkContext.pythonExec
    assert read_binlog(second, sf_dir).count() == n > 0


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
    rows = _rows(rows)
    tables = {r[1] for r in rows}
    assert len(tables) <= 2
    assert len(rows) <= 200
    consumed = {t for t, n in end["table_offsets"].items() if n > 0}
    assert consumed == tables


def test_priority_mode_exactly_once_per_table(binlog_dir, ddl_binlog_dir):
    """Draining the log in priority mode delivers every row of every
    table exactly once, and replaying any [start, end) offset pair
    reproduces the identical batch. On the DDL log too, whose DDL
    event's seq is out of log order: a table's rows are served in log
    order, which is what its offset counts."""
    for path, n in (binlog_dir, ddl_binlog_dir):
        reader = CDCReplayStreamReader(
            {"path": path, "batch_size": "300", "tables_per_batch": "2"}
        )
        offset = reader.initialOffset()
        seen: list[int] = []
        replay_checked = False
        while True:
            rows, end = reader.read(offset)
            rows = _rows(rows)
            if not rows:
                break
            if not replay_checked and len(seen) > 0:
                replayed = _rows(reader.readBetweenOffsets(offset, end))
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


def test_batch_read_of_a_dir_without_log_files(registered, tmp_path):
    """A log dir with no .jsonl files reads as 0 rows with the full
    schema; a missing dir fails with a FileNotFoundError naming it."""
    (tmp_path / "notes.txt").write_text("not a log file\n")
    df = registered.read.format("cdc_replay").option("path", str(tmp_path)).load()
    assert df.columns == CDC_EVENT_SCHEMA.names and len(df.columns) == 22
    assert df.collect() == []
    missing = tmp_path / "missing"
    df = registered.read.format("cdc_replay").option("path", str(missing)).load()
    with pytest.raises(Exception, match=rf"FileNotFoundError.*{re.escape(str(missing))}"):
        df.collect()


def _schema(*names: str) -> StructType:
    return StructType([CDC_EVENT_SCHEMA[n] for n in names])


def _comparable(df):
    """The frame with its map columns as JSON text, so set operations
    and row equality apply to every column."""
    return df.select(
        *[
            F.to_json(f.name).alias(f.name) if isinstance(f.dataType, MapType) else f.name
            for f in df.schema.fields
        ]
    )


SUBSET = ("seq", "after", "operation")
REORDERED = tuple(reversed(CDC_EVENT_SCHEMA.names))


@pytest.mark.parametrize("names", [SUBSET, REORDERED], ids=["subset", "reordered"])
def test_batch_reader_emits_exactly_the_read_schema(binlog_dir, names):
    """Without Spark: a read task's batches carry exactly the reader's
    schema, fields in its order with its Arrow types."""
    path, n = binlog_dir
    schema = _schema(*names)
    reader = CDCReplayBatchReader({"path": path}, schema)
    batches = list(reader.read(_FilePartition(_log_files(path))))
    assert batches and all(b.schema == to_arrow_schema(schema) for b in batches)
    assert sum(b.num_rows for b in batches) == n


@pytest.mark.parametrize(
    "names", [SUBSET, REORDERED, ("seq",)], ids=["subset", "reordered", "one_column"]
)
def test_tuple_fallback_emits_the_read_schema(spark, tmp_path, binlog_dir, names):
    """A file outside the canonical format (an extra field) takes the
    fallback decode, which emits RecordBatches of the read schema
    whose rows are the JVM JSON scan's."""
    path, _ = binlog_dir
    lines = [json.loads(ln) for ln in _log_lines(_log_files(path)[0])][:5]
    (tmp_path / "binlog.000000.jsonl").write_text(
        "".join(json.dumps({**rec, "extra": 1}) + "\n" for rec in lines)
    )
    schema = _schema(*names)
    reader = CDCReplayBatchReader({"path": str(tmp_path)}, schema)
    batches = list(reader.read(_FilePartition(_log_files(str(tmp_path)))))
    assert all(b.schema == to_arrow_schema(schema) for b in batches)
    want = read_binlog_native(spark, str(tmp_path)).select(*names).collect()
    assert _rows(batches) == [tuple(r) for r in want]


def test_read_binlog_columns_equal_the_full_reads_select(spark, sf_dir):
    part = read_binlog(spark, sf_dir, "seq", "after")
    assert part.columns == ["seq", "after"]
    full = _comparable(read_binlog(spark, sf_dir).select("seq", "after"))
    part = _comparable(part)
    assert part.count() == full.count() > 0
    assert part.exceptAll(full).count() == 0
    assert full.exceptAll(part).count() == 0


@pytest.mark.parametrize(
    "names",
    [
        [
            {"gtid": "transaction_id", "transaction_id": "gtid"}.get(c, c)
            for c in CDC_EVENT_SCHEMA.names
        ],
        REORDERED,
    ],
    ids=["gtid_transaction_id_swapped", "reversed"],
)
def test_user_schema_is_matched_by_name_not_position(registered, binlog_dir, names):
    """Spark reads a Python source's batch by position: a user schema
    in another order than the source's must still read each column's
    own values (swapped string columns read each other's values, and
    a reversed schema failed on a bool read of a string column)."""
    path, _ = binlog_dir
    default = registered.read.format("cdc_replay").option("path", path).load()
    user = (
        registered.read.format("cdc_replay")
        .schema(_schema(*names))
        .option("path", path)
        .load()
    )
    assert user.columns == list(names)
    cols = CDC_EVENT_SCHEMA.names
    want = _comparable(default).select(*cols).orderBy("seq").collect()
    got = _comparable(user).select(*cols).orderBy("seq").collect()
    assert len(got) == len(want) > 0
    for c in cols:
        assert [r[c] for r in got] == [r[c] for r in want], c


@pytest.mark.parametrize(
    "fields, match",
    [
        (
            [CDC_EVENT_SCHEMA["seq"], StructField("nope", StringType())],
            r"column 'nope' is not in the CDC event schema",
        ),
        (
            [CDC_EVENT_SCHEMA["seq"], StructField("gtid", LongType())],
            r"column 'gtid' must be string, not bigint",
        ),
        ([], r"the read schema names no column"),
    ],
    ids=["unknown_column", "wrong_type", "no_column"],
)
def test_bad_user_schema_is_a_named_error(registered, binlog_dir, fields, match):
    path, _ = binlog_dir
    schema = StructType(fields)
    with pytest.raises(Exception, match=rf"ValueError: cdc_replay: {match}"):
        registered.read.format("cdc_replay").schema(schema).option("path", path).load().collect()
    for reader in (CDCReplayBatchReader, CDCReplayStreamReader):
        with pytest.raises(ValueError, match=match):
            reader({"path": path}, schema)


def test_stream_drain_of_a_subset_equals_its_batch_read(registered, binlog_dir):
    """A stream reader with a subset schema yields the batch read's
    rows of those columns, and still counts rows per table (the
    `table` column is not among them)."""
    path, n = binlog_dir
    names = ("seq", "primary_keys", "operation")
    reader = CDCReplayStreamReader({"path": path, "batch_size": "700"}, _schema(*names))
    offset, drained = reader.initialOffset(), []
    while True:
        it, end = reader.read(offset)
        # Spark's prefetch cache serves a batch from copies of it
        rows = _rows(copy.copy(it))
        assert _rows(it) == rows
        if not rows:
            break
        assert _rows(reader.readBetweenOffsets(offset, end)) == rows
        drained.extend(rows)
        offset = end
    assert sum(offset["table_offsets"].values()) == n
    batch = (
        registered.read.format("cdc_replay")
        .schema(_schema(*names))
        .option("path", path)
        .load()
        .collect()
    )
    assert sorted(drained) == sorted(tuple(r) for r in batch)


def test_spark_stream_of_a_subset_equals_its_batch_read(registered, binlog_dir, tmp_path):
    """readStream with a subset schema through a real query: Spark
    hands the schema to simpleStreamReader, and the drained rows equal
    the batch read of the same columns."""
    path, n = binlog_dir
    schema = _schema("seq", "after", "table")
    q = (
        registered.readStream.format("cdc_replay")
        .schema(schema)
        .option("path", path)
        .option("batch_size", "700")
        .load()
        .writeStream.format("memory")
        .queryName("cdc_replay_subset")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = _comparable(registered.table("cdc_replay_subset"))
    batch = _comparable(
        registered.read.format("cdc_replay").schema(schema).option("path", path).load()
    )
    assert streamed.columns == ["seq", "after", "table"]
    assert streamed.count() == n
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


# -- the at-rest encoding: gzip JSON lines, plain JSON lines still read

NOT_LOG_FILES = ("_BINLOG_DONE", "_committed_offset.json", "_committed_offset.json.tmp")


def _encodings(tmp_path_factory, log_dir):
    """The same log twice, as the writer's gzip files and as plain
    JSON lines, each next to the files a log dir also holds (the
    cache marker and the stream's committed-offset marker)."""
    src, n = log_dir
    gz = tmp_path_factory.mktemp("log_gz")
    plain = tmp_path_factory.mktemp("log_plain")
    for f in _log_files(src):
        name = os.path.basename(f)
        assert name.endswith(".jsonl.gz")
        shutil.copy(f, gz / name)
        with open(f, "rb") as fh:
            (plain / name.removesuffix(".gz")).write_bytes(gzip.decompress(fh.read()))
    for d in (gz, plain):
        for name in NOT_LOG_FILES:
            (d / name).write_text('{"file_idx": 0, "row": 0, "table_offsets": {}}\n')
    return str(plain), str(gz), n


@pytest.fixture(scope="module")
def encodings(tmp_path_factory, binlog_dir):
    return _encodings(tmp_path_factory, binlog_dir)


@pytest.fixture(scope="module")
def ddl_encodings(tmp_path_factory, ddl_binlog_dir):
    return _encodings(tmp_path_factory, ddl_binlog_dir)


def _drain(path: str, **options) -> list:
    """(start, end, rows, replayed rows) of every micro-batch of a
    full stream drain."""
    reader = CDCReplayStreamReader({"path": path, "batch_size": "700", **options})
    start, out = reader.initialOffset(), []
    while True:
        it, end = reader.read(start)
        rows = _rows(it)
        if not rows:
            return out
        out.append((start, end, rows, _rows(reader.readBetweenOffsets(start, end))))
        start = end


def test_both_encodings_give_the_same_arrow_batches(encodings):
    plain, gz, n = encodings
    tables = []
    for path in (plain, gz):
        reader = CDCReplayBatchReader({"path": path})
        batches = list(reader.read(_FilePartition(_log_files(path))))
        assert all(isinstance(b, pa.RecordBatch) for b in batches)
        tables.append(pa.Table.from_batches(batches))
    assert tables[0].num_rows == n
    assert tables[0].equals(tables[1])


def test_both_encodings_give_the_same_tuple_fallback_rows(encodings, monkeypatch):
    """The fallback decode (forced here by failing the canonical one)
    reads both encodings alike, into the canonical decode's batches."""
    plain, gz, n = encodings

    def read(path):
        batches = CDCReplayBatchReader({"path": path}).read(_FilePartition(_log_files(path)))
        return pa.Table.from_batches(list(batches))

    canonical = read(plain)

    def not_canonical(*args, **kwargs):
        raise pa.ArrowInvalid("not the canonical format")

    monkeypatch.setattr(pj, "read_json", not_canonical)
    tables = [read(p) for p in (plain, gz)]
    assert tables[0].num_rows == n
    assert tables[0].equals(tables[1])
    assert tables[0].equals(canonical)


@pytest.mark.parametrize("options", [{}, {"tables_per_batch": "2"}], ids=["sequential", "priority"])
def test_both_encodings_give_the_same_stream(encodings, ddl_encodings, options):
    """read and readBetweenOffsets yield the same rows at the same
    offsets from either encoding, and a replay is the batch read; of
    the plain log and of the DDL log, every event once. The DDL log is
    drained in 300-row batches, which end inside the DDL table's rows
    around its out-of-order DDL event."""
    for (plain, gz, n), batch_size in ((encodings, "700"), (ddl_encodings, "300")):
        drains = [_drain(p, **{"batch_size": batch_size, **options}) for p in (plain, gz)]
        seqs = [r[5] for _, _, rows, _ in drains[0] for r in rows]
        assert len(seqs) == len(set(seqs)) == n
        assert drains[0] == drains[1]
        assert all(rows == replayed for _, _, rows, replayed in drains[1])


def test_both_encodings_read_the_same_on_both_engines(registered, encodings):
    """The Python source and the JVM JSON scan read only the log files
    of a dir that also holds the markers, and both encodings give the
    same rows on each engine."""
    plain, gz, n = encodings
    reads = [
        _comparable(df)
        for p in (plain, gz)
        for df in (
            registered.read.format("cdc_replay").option("path", p).load(),
            read_binlog_native(registered, p),
        )
    ]
    want = reads[0]
    assert want.count() == n
    for got in reads[1:]:
        assert got.count() == n
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_partitions_pack_by_parse_bytes_not_gzip_bytes(encodings, monkeypatch):
    """A gzip log is grouped by its decompressed bytes (the gzip ISIZE
    trailer), so it gets the same read tasks as its plain copy; by the
    ~11x smaller bytes on disk it would get fewer."""
    plain, gz, _ = encodings
    total = sum(os.path.getsize(f) for f in _log_files(plain))
    monkeypatch.setattr(cdc_datasource, "PARTITION_BYTES", total // 3 + 1)

    def groups(path):
        reader = CDCReplayBatchReader({"path": path})
        reader.cpus = 4
        return [
            [os.path.basename(f).removesuffix(".gz") for f in part.files]
            for part in reader.partitions()
        ]

    assert len(groups(plain)) == 3
    assert groups(gz) == groups(plain)


@pytest.mark.parametrize("include_ddl", [False, True], ids=["log", "ddl_log"])
def test_binlog_cache_is_gzip_and_skips_a_plain_v2_cache(sf_dir, tmp_path, monkeypatch, include_ddl):
    """binlog_path writes only gzip log files, at under a fifth of the
    text they hold, and does not return a plain cache of the previous
    version even when that one is complete. Every call, also one
    that finds its cache and writes nothing, deletes the
    cdc_binlog[_ddl]_v<N>_* dirs with N below the current version;
    another sf_dir's current cache, a later version and other dirs
    stay."""
    monkeypatch.setattr(p01_cdc_operation_log, "BINLOG_CACHE_ROOT", str(tmp_path))

    def logs_of(path):
        names = sorted(set(os.listdir(path)) - {"_BINLOG_DONE"})
        assert names and all(n.endswith(".jsonl.gz") for n in names)
        return [os.path.join(path, n) for n in names]

    path = binlog_path(sf_dir, include_ddl=include_ddl)
    on_disk = text = 0
    for f in logs_of(path):
        with open(f, "rb") as fh:
            data = fh.read()
        on_disk += len(data)
        text += len(gzip.decompress(data))
    assert on_disk * 5 < text

    shutil.rmtree(path)
    stale = tmp_path / os.path.basename(path).replace("_v3_", "_v2_")
    stale.mkdir()
    (stale / "binlog.000000.jsonl").write_text("{}\n")
    (stale / "_BINLOG_DONE").touch()
    kept = ["cdc_binlog_v3_other", "cdc_binlog_ddl_v10_later", "notes_v1_x"]
    for name in ["cdc_binlog_ddl_v1_older"] + kept:
        (tmp_path / name).mkdir()
    again = binlog_path(sf_dir, include_ddl=include_ddl)
    assert again == path != str(stale)
    assert len(logs_of(again)) == len(_log_files(again))
    assert sorted(os.listdir(tmp_path)) == sorted(kept + [os.path.basename(path)])
    # the current cache exists now, so nothing is written; an earlier
    # version's dir still goes
    stale.mkdir()
    assert binlog_path(sf_dir, include_ddl=include_ddl) == path
    assert sorted(os.listdir(tmp_path)) == sorted(kept + [os.path.basename(path)])


def test_stream_reads_rows_appended_to_a_plain_file(spark, binlog_dir, tmp_path):
    """A live plain log grows between micro-batches: the rows appended
    to the file a batch stopped in are read by the next batch."""
    path, _ = binlog_dir
    lines = _log_lines(_log_files(path)[0])[:8]
    log = tmp_path / "binlog.000000.jsonl"
    log.write_text("\n".join(lines[:5]) + "\n")
    reader = CDCReplayStreamReader({"path": str(tmp_path), "batch_size": "3"})
    first, offset = reader.read(reader.initialOffset())
    with open(log, "a") as fh:
        fh.write("\n".join(lines[5:]) + "\n")
    rows = _rows(first)
    while True:
        it, offset = reader.read(offset)
        batch = _rows(it)
        if not batch:
            break
        rows.extend(batch)
    want = read_binlog_native(spark, str(tmp_path)).orderBy("seq").collect()
    assert rows == [tuple(r) for r in want]


def test_stream_waits_for_a_half_written_last_line(spark, binlog_dir, tmp_path):
    """A live plain log whose writer is mid-line: the stream serves the
    5 whole lines, then the sixth exactly once when its newline is
    there, and a replay of each batch equals its read. The batch read
    still parses a file without a final newline whole."""
    path, _ = binlog_dir
    lines = _log_lines(_log_files(path)[0])[:6]
    log = tmp_path / "binlog.000000.jsonl"
    log.write_text("".join(ln + "\n" for ln in lines[:5]) + lines[5][:40])
    reader = CDCReplayStreamReader({"path": str(tmp_path)})
    start = reader.initialOffset()
    first, mid = reader.read(start)
    first = _rows(first)
    assert len(first) == 5
    again, same = reader.read(mid)
    assert (_rows(again), same) == ([], mid)
    with open(log, "a") as fh:
        fh.write(lines[5][40:] + "\n")
    sixth, end = reader.read(mid)
    sixth = _rows(sixth)
    assert _rows(reader.read(end)[0]) == []
    want = [tuple(r) for r in read_binlog_native(spark, str(tmp_path)).collect()]
    assert first + sixth == want and len(want) == 6
    recovered = CDCReplayStreamReader({"path": str(tmp_path)})
    assert _rows(recovered.readBetweenOffsets(start, mid)) == first
    assert _rows(recovered.readBetweenOffsets(mid, end)) == sixth
    log.write_text("".join(ln + "\n" for ln in lines[:5]) + lines[5])
    batch = CDCReplayBatchReader({"path": str(tmp_path)})
    assert _rows(batch.read(_FilePartition([str(log)]))) == want


@pytest.mark.parametrize("extra", [{}, {"extra": 1}], ids=["canonical", "fallback"])
def test_a_record_without_a_required_field_is_a_named_error(binlog_dir, tmp_path, extra):
    """A record without `seq` is a ValueError naming the file and the
    field, from either decode, in the batch and the stream reader (the
    fallback decode would otherwise give a NULL in a non-null column)."""
    path, _ = binlog_dir
    lines = [json.loads(ln) for ln in _log_lines(_log_files(path)[0])][:5]
    del lines[2]["seq"]
    log = tmp_path / "binlog.000000.jsonl"
    log.write_text("".join(json.dumps({**rec, **extra}) + "\n" for rec in lines))
    match = rf"cdc_replay: record 2 of {re.escape(str(log))} has no 'seq'"
    with pytest.raises(ValueError, match=match):
        list(CDCReplayBatchReader({"path": str(tmp_path)}).read(_FilePartition([str(log)])))
    reader = CDCReplayStreamReader({"path": str(tmp_path)}, _schema("operation"))
    with pytest.raises(ValueError, match=match):
        reader.read(reader.initialOffset())

