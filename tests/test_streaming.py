"""Structured Streaming pipelines: batch/stream agreement for the
windowed monitoring agg, foreachBatch upsert state maintenance, and
stateful sessionization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aurora_cdc_demo_spark.operators.cdc_apply import latest_state, sessionize
from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log
from aurora_cdc_demo_spark.streaming.pipelines import (
    ParquetStateStore,
    read_cdc_stream,
    windowed_event_counts,
)
from aurora_cdc_demo_spark.streaming.stateful import (
    HAS_TWS,
    sessionize_stream,
    sessionize_stream_tws,
)


@pytest.fixture(scope="module")
def log_dir(spark, sf_dir, tmp_path_factory):
    """CDC log written as two parquet chunks (two micro-batches),
    split by time — simulates arriving change files."""
    out = tmp_path_factory.mktemp("cdc_stream_in")
    log = cdc_operation_log(spark, sf_dir)
    split = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    log.where(F.col("ts") < split).coalesce(1).write.mode("overwrite").parquet(
        str(out / "batch0")
    )
    log.where(F.col("ts") >= split).coalesce(1).write.mode("overwrite").parquet(
        str(out / "batch1")
    )
    # flatten into one dir for the file stream (ordered file names)
    import shutil
    from pathlib import Path

    flat = tmp_path_factory.mktemp("cdc_stream_flat")
    for i, sub in enumerate(["batch0", "batch1"]):
        for j, f in enumerate(sorted(Path(out / sub).glob("*.parquet"))):
            shutil.copy(f, flat / f"{i:02d}_{j:02d}.parquet")
    return str(flat)


def test_windowed_counts_stream_equals_batch(spark, sf_dir, log_dir, tmp_path):
    stream = read_cdc_stream(spark, log_dir)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM win_counts").toPandas()

    from aurora_cdc_demo_spark.queries.monitoring import event_counts_windowed

    want = event_counts_windowed(cdc_operation_log(spark, sf_dir)).toPandas()
    got_s = got.sort_values(["window_start", "operation"]).reset_index(drop=True)
    want_s = want.sort_values(["window_start", "operation"]).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert (got_s["event_count"].values == want_s["event_count"].values).all()
    assert abs(got_s["sum_value"] - want_s["sum_value"]).max() < 1e-6


def test_foreachbatch_upsert_matches_replay(spark, sf_dir, log_dir, tmp_path):
    """Incrementally merged state after streaming all change files ==
    batch latest-state over the full log (MERGE correctness)."""
    stream = spark.readStream.schema(
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    ).option("maxFilesPerTrigger", "1").parquet(log_dir)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    q = store.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "state"))
    log = cdc_operation_log(spark, sf_dir)
    want = latest_state(log)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # each micro-batch is scanned once, although the merge reads its
    # change side twice
    assert sum(p.numInputRows for p in q.recentProgress) == log.count()


def test_stateful_sessionize_closed_sessions(spark, sf_dir, log_dir, tmp_path):
    """Closed sessions emitted by the stateful operator must be a
    subset of (and consistent with) batch sessionization; open
    trailing sessions remain in state."""
    stream = spark.readStream.schema(
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    ).parquet(log_dir)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_closed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT key_id, session_start, n_events FROM sessions_closed"
    ).toPandas()

    want = (
        sessionize(cdc_operation_log(spark, sf_dir))
        .select("key_id", "session_start", "n_events")
        .toPandas()
    )
    # EXACT law (not just subset): the stream emits precisely the
    # batch sessions that are followed by a gap — i.e. everything
    # except each key's trailing session, which stays open in state
    # when the input is exhausted.
    last_start = want.groupby("key_id")["session_start"].transform("max")
    want_closed = (
        want[want["session_start"] != last_start]
        .sort_values(["key_id", "session_start"])
        .reset_index(drop=True)
    )
    got_s = got.sort_values(["key_id", "session_start"]).reset_index(drop=True)
    assert len(got_s) == len(want_closed)
    assert got_s.equals(want_closed)
    # sanity: the law is non-trivial on this data
    assert len(got_s) > 0.5 * len(want)


@pytest.mark.skipif(not HAS_TWS, reason="transformWithState needs pyspark>=4 + protobuf")
def test_transform_with_state_matches_legacy_sessionize(
    spark, sf_dir, log_dir, tmp_path
):
    """The transformWithStateInPandas processor must emit exactly the
    same closed sessions as the applyInPandasWithState one."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(
            "key_id long, seq long, operation string, event_type string, "
            "ts timestamp, value double"
        ).parquet(log_dir)
        q = (
            sessionize_stream_tws(stream)
            .writeStream.format("memory")
            .queryName("sessions_tws")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    got = spark.sql("SELECT * FROM sessions_tws").toPandas()

    stream2 = spark.readStream.schema(
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    ).parquet(log_dir)
    q2 = (
        sessionize_stream(stream2)
        .writeStream.format("memory")
        .queryName("sessions_legacy")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_legacy"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    want = spark.sql("SELECT * FROM sessions_legacy").toPandas()

    key = ["key_id", "session_start", "session_end"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s) > 0
    assert got_s[key + ["n_events"]].equals(want_s[key + ["n_events"]])


def test_sessionize_continuation_batches(spark, tmp_path):
    """Regression (found at maxFilesPerTrigger=4 in bench): a
    micro-batch whose FIRST rows continue the carried session must
    segment correctly in both sub-cases —
    - continuation with NO later gap in the batch (used to crash:
      empty starts_idx → IndexError), and
    - continuation WITH a later gap (used to silently drop the
      continuation rows and graft the carried session onto the
      wrong segment)."""
    rows0 = [
        (1, 1, "INSERT", "click", "2024-01-01 00:00:00", 1.0),
        (2, 1, "INSERT", "click", "2024-01-01 00:00:00", 10.0),
    ]
    rows1 = [
        # key 1: continues (+10 min), then a >30-min gap opens a new
        # session inside the same batch
        (1, 2, "UPDATE", "click", "2024-01-01 00:10:00", 2.0),
        (1, 3, "UPDATE", "click", "2024-01-01 02:00:00", 3.0),
        # key 2: continues (+5 min), no later gap — stays open
        (2, 2, "UPDATE", "click", "2024-01-01 00:05:00", 20.0),
    ]
    schema = (
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    )
    indir = tmp_path / "in"
    for i, rows in enumerate([rows0, rows1]):
        spark.createDataFrame(
            [(k, s, o, e, __import__("datetime").datetime.fromisoformat(t), v)
             for k, s, o, e, t, v in rows],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(indir / f"b{i}"))
    flat = tmp_path / "flat"
    flat.mkdir()
    import shutil
    from pathlib import Path

    for i in range(2):
        for j, f in enumerate(sorted(Path(indir / f"b{i}").glob("*.parquet"))):
            shutil.copy(f, flat / f"{i:02d}_{j:02d}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_cont")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cont"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT key_id, session_start, session_end, n_events, sum_value "
        "FROM sessions_cont"
    ).collect()
    # exactly ONE closed session: key 1's continued [00:00, 00:10]
    # (n=2, sum=3.0); key 2's session stays open in state
    assert len(got) == 1, got
    r = got[0]
    assert r["key_id"] == 1
    assert r["n_events"] == 2
    assert r["sum_value"] == 3.0
    assert str(r["session_start"]).startswith("2024-01-01 00:00:00")
    assert str(r["session_end"]).startswith("2024-01-01 00:10:00")


def test_stream_dedup_exactly_once(spark, sf_dir, log_dir, tmp_path):
    """Feeding every change file twice must produce each (key_id,
    seq) exactly once — the streaming exactly-once guarantee."""
    import shutil
    from pathlib import Path

    from aurora_cdc_demo_spark.streaming.pipelines import (
        dedup_stream_exactly_once,
    )

    doubled = tmp_path / "doubled"
    doubled.mkdir()
    for f in sorted(Path(log_dir).glob("*.parquet")):
        shutil.copy(f, doubled / f.name)
        shutil.copy(f, doubled / f"dup_{f.name}")

    stream = spark.readStream.schema(
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    ).parquet(str(doubled))
    q = (
        dedup_stream_exactly_once(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT key_id, seq, COUNT(*) AS c FROM dedup_stream GROUP BY 1, 2"
    ).toPandas()
    assert (got["c"] == 1).all()
    want = cdc_operation_log(spark, sf_dir).count()
    assert len(got) == want


def test_restart_from_checkpoint_exactly_once(spark, sf_dir, log_dir, tmp_path):
    """Stop after the first file, restart from the SAME checkpoint
    with more files present: the resumed query must process only the
    unseen files, and the final merged state must equal the batch
    recompute — exactly-once across restarts."""
    import shutil
    from pathlib import Path

    schema = (
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    )
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    files = sorted(Path(log_dir).glob("*.parquet"))
    assert len(files) >= 2
    shutil.copy(files[0], incoming / files[0].name)

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt_restart")

    # phase 1: only the first file exists
    stream1 = spark.readStream.schema(schema).parquet(str(incoming))
    q1 = store.start(stream1, ckpt)
    q1.awaitTermination(300)

    # phase 2: the rest arrive; restart from the same checkpoint
    for f in files[1:]:
        shutil.copy(f, incoming / f.name)
    stream2 = spark.readStream.schema(schema).parquet(str(incoming))
    q2 = store.start(stream2, ckpt)
    q2.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "state"))
    want = latest_state(cdc_operation_log(spark, sf_dir))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_watermark_drops_late_events(spark, tmp_path):
    """An event arriving far behind the watermark must not count into
    its (already finalized) window — the late-data contract of the
    monitoring aggregation."""
    from datetime import datetime

    schema = (
        "key_id long, seq long, operation string, event_type string, "
        "ts timestamp, value double"
    )

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        import shutil
        from pathlib import Path

        for i, f in enumerate(
            sorted((tmp_path / "stage" / name).glob("*.parquet"))
        ):
            shutil.copy(f, tmp_path / "in" / f"{name}_{i}.parquet")

    (tmp_path / "in").mkdir()
    h = lambda hh, mm=0: datetime(2024, 3, 1, hh, mm)
    import time

    # Spark's guarantee is drop-after-eviction (late data arriving in
    # the SAME batch that evicts its window may still be merged), so
    # the late row must arrive one batch after the eviction batch:
    #   batch0: hour-0 rows + 02:30 (advances wm to 02:00 at commit)
    #   batch1: fresh row -> hour-0 evicted + emitted with count 2
    #   batch2: too-late hour-0 row -> guaranteed dropped
    batches = [
        [
            (1, 1, "INSERT", "click", h(0, 10), 1.0),
            (2, 2, "INSERT", "click", h(0, 20), 1.0),
            (3, 3, "INSERT", "click", h(2, 30), 1.0),
        ],
        [(5, 5, "INSERT", "click", h(5, 0), 1.0)],
        [(4, 4, "INSERT", "click", h(0, 5), 1.0)],
    ]
    for n, rows in enumerate(batches):
        write_batch(f"{n:02d}", rows)
        time.sleep(1.1)  # distinct mtimes -> maxFilesPerTrigger splits

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
        .withWatermark("ts", "30 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "operation")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("w.start").alias("window_start"), "event_count")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_windows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM late_windows").toPandas()
    hour0 = got[got["window_start"] == h(0)]
    # the hour-0 window was finalized with 2 events; the late event
    # (seq 4) must have been dropped
    assert len(hour0) == 1 and hour0["event_count"].iloc[0] == 2


def test_foreachbatch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-delivering the SAME batch id (foreachBatch's failure
    contract) must be a no-op; a different id applies normally."""
    log = cdc_operation_log(spark, sf_dir).limit(200)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    store.apply_batch(log, 0)
    once = spark.read.parquet(str(tmp_path / "state")).toPandas()
    store.apply_batch(log, 0)  # replay of batch 0
    replay = spark.read.parquet(str(tmp_path / "state")).toPandas()
    cols = list(once.columns)
    assert once.sort_values(cols).reset_index(drop=True).equals(
        replay.sort_values(cols).reset_index(drop=True)
    )


def test_state_store_file_count_stays_bounded(spark, sf_dir, tmp_path):
    """Twenty small batches: the state's parquet file count does not
    grow with the batch count (the merged net adds one coalesced file
    per batch, not one per shuffle partition), and the end state is
    the replay of the whole log."""
    log = cdc_operation_log(spark, sf_dir)
    n_batches = 20
    lo, hi = log.agg(F.min("seq"), F.max("seq")).first()
    batch_no = (F.col("seq") - lo) * n_batches / (hi - lo + 1)
    state_dir = tmp_path / "state"
    store = ParquetStateStore(spark, str(state_dir))
    n_files = []
    for i in range(n_batches):
        # consecutive seq ranges: the stream is delivered in log order
        store.apply_batch(log.where(F.floor(batch_no) == i), batch_id=i)
        n_files.append(len(list(state_dir.glob("*.parquet"))))
    assert max(n_files[-5:]) <= max(n_files[:5]), n_files
    # the state scan packs small files into few splits and the net
    # adds one file; a net left at its 32 shuffle partitions would
    # add one file per non-empty partition
    assert max(n_files) <= spark.sparkContext.defaultParallelism + 1, n_files
    got = spark.read.parquet(str(state_dir))
    want = latest_state(log)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # the state is written compact: zstd everywhere, int64 keys as
    # delta-packed v2 pages; and it reads back with the log's types
    # (a TIMESTAMP_NTZ `ts` would still pass exceptAll, which coerces;
    # a parquet read makes every column nullable, so compare names and
    # types)
    chunks = _column_chunks(state_dir)
    assert {ch.compression for ch in chunks} == {"ZSTD"}
    for col in ("key_id", "seq"):
        encodings = [ch.encodings for ch in chunks if ch.path_in_schema == col]
        assert all("DELTA_BINARY_PACKED" in e for e in encodings), (col, encodings)
    assert got.schema.simpleString() == want.schema.simpleString()


def _column_chunks(state_dir) -> list:
    """The footer metadata of every column chunk in the state's files."""
    import pyarrow.parquet as pq

    chunks = []
    for f in sorted(state_dir.glob("*.parquet")):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            chunks += [meta.row_group(rg).column(c) for c in range(meta.num_columns)]
    return chunks


def test_state_store_upgrades_default_parquet_state(spark, sf_dir, tmp_path):
    """A state dir in Spark's default encoding (snappy, v1 pages, INT96
    ts) is read as-is and rewritten compact by the next commits; DuckDB
    reads the compact files with Spark's values and a naive TIMESTAMP."""
    import duckdb

    log = cdc_operation_log(spark, sf_dir)
    q1, q2 = log.agg(
        F.expr("percentile_approx(seq, 0.5)"), F.expr("percentile_approx(seq, 0.75)")
    ).first()
    state_dir = tmp_path / "state"
    latest_state(log.where(F.col("seq") <= q1)).write.parquet(str(state_dir))
    assert {ch.compression for ch in _column_chunks(state_dir)} == {"SNAPPY"}
    store = ParquetStateStore(spark, str(state_dir))
    store.apply_batch(log.where((F.col("seq") > q1) & (F.col("seq") <= q2)), 1)
    store.apply_batch(log.where(F.col("seq") > q2), 2)
    got = spark.read.parquet(str(state_dir))
    want = latest_state(log)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert {ch.compression for ch in _column_chunks(state_dir)} == {"ZSTD"}

    # min/max ts as epoch micros, so the host's time zone cannot shift
    # the collected Python datetimes
    aggs = "count(*), sum(key_id), sum(seq), {us}(min(ts)), {us}(max(ts))"
    spark_row = got.selectExpr(*aggs.format(us="unix_micros").split(", ")).first()
    con = duckdb.connect()
    files = f"'{state_dir}/*.parquet'"
    duck_row = con.execute(f"SELECT {aggs.format(us='epoch_us')} FROM {files}").fetchone()
    assert tuple(duck_row) == tuple(spark_row)
    ts_type = con.execute(
        f"SELECT column_type FROM (DESCRIBE SELECT ts FROM {files})"
    ).fetchone()[0]
    assert ts_type == "TIMESTAMP"


def test_ddl_registry_survives_crash_mid_write(spark, tmp_path, monkeypatch):
    """A crash part-way through writing the DDL column registry leaves
    the previous registry loadable (the write goes aside, then renames)."""
    import json

    from aurora_cdc_demo_spark.streaming.pipelines import EvolvingCDCStateStore

    store = EvolvingCDCStateStore(spark, str(tmp_path / "state"))
    store._register_ddl(["ALTER TABLE users_1 ADD COLUMN tier VARCHAR(8)"])
    assert store._load_columns() == ["tier"]

    def dump_then_crash(obj, fh, **kw):
        fh.write(json.dumps(obj)[:7])
        raise OSError("crash mid-write")

    monkeypatch.setattr(json, "dump", dump_then_crash)
    with pytest.raises(OSError):
        store._register_ddl(["ALTER TABLE users_1 ADD COLUMN region VARCHAR(8)"])
    monkeypatch.undo()
    assert store._load_columns() == ["tier"]
    # the next DDL batch recovers and extends the registry
    store._register_ddl(["ALTER TABLE users_1 ADD COLUMN region VARCHAR(8)"])
    assert store._load_columns() == ["tier", "region"]


def test_state_store_recovers_from_crash_window(spark, sf_dir, tmp_path):
    """A crash between rename(state_dir → .old) and rename(.staging →
    state_dir) must not lose the accumulated state: _read_state rolls
    .old back instead of treating the replayed batch as the first."""
    from pathlib import Path

    from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log
    from aurora_cdc_demo_spark.streaming.pipelines import ParquetStateStore

    log = cdc_operation_log(spark, sf_dir)
    mid = log.agg(F.expr("percentile_approx(seq, 0.5)")).first()[0]
    state_dir = str(tmp_path / "state")
    store = ParquetStateStore(spark, state_dir)
    store.apply_batch(log.where(F.col("seq") <= mid), batch_id=0)
    before = spark.read.parquet(state_dir).count()
    assert before > 0

    # simulate the crash window: state_dir moved aside, swap not done
    Path(state_dir).rename(state_dir + ".old")
    store.apply_batch(log.where(F.col("seq") > mid), batch_id=1)
    after = spark.read.parquet(state_dir)
    # full replay oracle: applying the whole log at once
    oracle = ParquetStateStore(spark, str(tmp_path / "oracle"))
    oracle.apply_batch(log, batch_id=0)
    want = spark.read.parquet(str(tmp_path / "oracle"))
    assert after.count() == want.count()
    assert after.exceptAll(want).count() == 0


def test_ddl_event_drives_schema_evolving_merge(spark, sf_dir, tmp_path):
    """End-to-end schema evolution through the streaming path: a
    mid-log DDL event (ALTER TABLE users_1 ADD COLUMN loyalty_tier)
    flows through the cdc_replay stream; foreachBatch registers the
    column and merges evolvingly, so pre-DDL state rows get NULL
    backfill and post-DDL changes land with values. The end state
    must equal the batch twin (flatten with the final schema +
    latest_state_with_truncate over the whole log)."""
    from aurora_cdc_demo_spark.operators.cdc_apply import (
        latest_state_with_truncate,
    )
    from aurora_cdc_demo_spark.sources.cdc_datasource import (
        CDCReplayDataSource,
        DDL_COLUMN,
        write_binlog_from_events,
    )
    from aurora_cdc_demo_spark.streaming.pipelines import EvolvingCDCStateStore

    binlog = tmp_path / "binlog_ddl"
    n = write_binlog_from_events(
        f"{sf_dir}/events.parquet", str(binlog), rows_per_file=150, include_ddl=True
    )
    assert n > 0
    spark.dataSource.register(CDCReplayDataSource)
    store = EvolvingCDCStateStore(spark, str(tmp_path / "state"))
    q = (
        spark.readStream.format("cdc_replay")
        .option("path", str(binlog))
        .option("batch_size", "300")
        .load()
        .writeStream.foreachBatch(store.apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # n events + 1 DDL row, each scanned once by apply_batch
    assert sum(p.numInputRows for p in q.recentProgress) == n + 1
    got = spark.read.parquet(str(tmp_path / "state"))
    # the evolved column exists, with values only possible post-DDL
    assert DDL_COLUMN in got.columns
    n_with = got.where(F.col(DDL_COLUMN).isNotNull()).count()
    assert n_with > 0
    assert got.where(
        (F.col(DDL_COLUMN).isNotNull()) & (F.col("tbl") != "users_1")
    ).count() == 0
    # batch twin: whole log flattened with the final schema
    raw = spark.read.format("cdc_replay").option("path", str(binlog)).load()
    twin = latest_state_with_truncate(
        store._flatten(raw.where("operation <> 'DDL'"), [DDL_COLUMN])
    )
    cols = sorted(got.columns)
    assert cols == sorted(twin.columns)
    a = got.select(cols).toPandas().sort_values(["tbl", "key_id"]).reset_index(drop=True)
    b = twin.select(cols).toPandas().sort_values(["tbl", "key_id"]).reset_index(drop=True)
    assert a.equals(b)


def test_stream_stream_interval_join(spark, sf_dir, log_dir, tmp_path):
    """The watermarked stream-stream interval join must emit exactly
    the rows the identical batch join produces over the at-rest log
    (inner join: no late/early asymmetry to tolerate)."""
    from aurora_cdc_demo_spark.streaming.pipelines import (
        error_context_stream_join,
        read_cdc_stream,
    )

    joined = error_context_stream_join(
        read_cdc_stream(spark, log_dir, watermark=None),
        read_cdc_stream(spark, log_dir, watermark=None),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["key_id"], r["window_seq"], r["event_seq"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }

    log = cdc_operation_log(spark, sf_dir)
    ev = log.where(F.col("operation") != "DELETE").select(
        F.col("key_id").alias("ev_key"),
        F.col("seq").alias("event_seq"),
        F.col("ts").alias("ev_ts"),
    )
    er = log.where(F.col("operation") == "DELETE").select(
        F.col("key_id").alias("err_key"),
        F.col("seq").alias("window_seq"),
        F.col("ts").alias("err_ts"),
    )
    want = {
        (r["err_key"], r["window_seq"], r["event_seq"])
        for r in ev.join(
            er,
            (F.col("ev_key") == F.col("err_key"))
            & (
                F.col("ev_ts")
                >= F.col("err_ts") - F.expr("INTERVAL 5 MINUTES")
            )
            & (
                F.col("ev_ts")
                <= F.col("err_ts") + F.expr("INTERVAL 5 MINUTES")
            ),
        ).collect()
    }
    assert want, "batch twin found no band matches — test data regression"
    assert got == want


def test_count_min_sketch_merges_across_microbatches(
    spark, sf_dir, log_dir, tmp_path
):
    """Count-min counters are additive, so per-micro-batch sketches
    must SUM to the batch sketch exactly — the mergeability that
    makes the sketch maintainable by foreachBatch on an endless
    stream with constant state."""
    from aurora_cdc_demo_spark.operators.sketches import count_min_sketch
    from aurora_cdc_demo_spark.streaming.pipelines import read_cdc_stream

    out = str(tmp_path / "cm_batches")

    def apply_batch(batch_df, batch_id):
        count_min_sketch(batch_df, "key_id").write.mode("append").parquet(out)

    q = (
        read_cdc_stream(spark, log_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    merged = {
        (r["d"], r["bucket"]): r["total"]
        for r in spark.read.parquet(out)
        .groupBy("d", "bucket")
        .agg(F.sum("counter").alias("total"))
        .collect()
    }
    want = {
        (r["d"], r["bucket"]): r["counter"]
        for r in count_min_sketch(
            cdc_operation_log(spark, sf_dir), "key_id"
        ).collect()
    }
    assert merged == want


def test_stream_static_point_in_time_enrichment(
    spark, sf_dir, log_dir, tmp_path
):
    """Stream-static join: streaming purchase probes enriched
    against the STATIC SCD2 dimension with the per-row interval
    predicate — the online feature-store lookup; stateless on the
    stream side, and the result must equal the batch PIT join."""
    from aurora_cdc_demo_spark.operators.cdc_apply import scd2_history
    from aurora_cdc_demo_spark.registry import QUERIES
    from aurora_cdc_demo_spark.streaming.pipelines import read_cdc_stream

    scd2 = scd2_history(cdc_operation_log(spark, sf_dir)).select(
        F.col("key_id").alias("dim_key"),
        F.col("seq").alias("state_seq"),
        "operation",
        "valid_from",
        "valid_to",
    )
    probes = read_cdc_stream(spark, log_dir, watermark=None).where(
        F.col("event_type") == "purchase"
    )
    joined = probes.join(
        scd2,
        (probes.key_id == scd2.dim_key)
        & (scd2.valid_from <= probes.ts)
        & (scd2.valid_to.isNull() | (scd2.valid_to > probes.ts))
        & (scd2.operation != "DELETE"),
    ).select(
        probes.seq.alias("probe_seq"), "dim_key", "state_seq"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("pit_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_pit"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["probe_seq"], r["dim_key"], r["state_seq"])
        for r in spark.sql("SELECT * FROM pit_stream").collect()
    }
    want = {
        (r["event_id"], r["key_id"], r["state_seq"])
        for r in QUERIES["scd2_point_in_time_join"](spark, sf_dir).collect()
    }
    assert want
    assert got == want


def test_streaming_curation_equals_batch(spark, sf_dir, tmp_path):
    """Streaming ingest curation (cross-batch exact dedup + quality
    floor) must land on exactly the batch keep-list restricted to
    the same two gates: dedup_exact canonicals meeting the quality
    floor. Batches are split by doc_id so arrival-order-wins and
    min-doc_id canonicals coincide; a replayed final batch must be a
    no-op (exactly-once)."""
    from aurora_cdc_demo_spark.operators.dedup import dedup_exact
    from aurora_cdc_demo_spark.operators.text import quality_score
    from aurora_cdc_demo_spark.streaming.curation import (
        KEEP_QUALITY_BP,
        CurationStore,
    )
    from aurora_cdc_demo_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    indir = tmp_path / "docs_in"
    for i, part in enumerate(
        [docs.where(F.col("doc_id") <= mid), docs.where(F.col("doc_id") > mid)]
    ):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(indir / f"b{i}")
        )
    flat = tmp_path / "docs_flat"
    flat.mkdir()
    import shutil
    from pathlib import Path

    for i in range(2):
        for j, f in enumerate(sorted(Path(indir / f"b{i}").glob("*.parquet"))):
            shutil.copy(f, flat / f"{i:02d}_{j:02d}.parquet")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    store = CurationStore(spark, str(tmp_path / "admitted"))
    q = store.start(stream, str(tmp_path / "ckpt_curation"))
    q.awaitTermination(300)

    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }
    canonical = dedup_exact(docs).where("is_canonical").select("doc_id")
    want = {
        r["doc_id"]
        for r in canonical.join(
            quality_score(docs).where(
                F.col("quality_bp") >= KEEP_QUALITY_BP
            ).select("doc_id"),
            "doc_id",
        ).collect()
    }
    assert got == want and got

    # exactly-once: replaying the last committed batch id is a no-op
    last = int(Path(str(tmp_path / "admitted") + ".last_batch").read_text())
    store.apply_batch(docs.limit(10), last)
    again = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }
    assert again == want


def test_hll_registers_merge_across_microbatches(
    spark, sf_dir, log_dir, tmp_path
):
    """HLL registers merge by MAX, so per-micro-batch register
    tables must MAX-combine to the batch register table exactly —
    the mergeability that lets foreachBatch maintain a distinct-count
    sketch with constant (256-row) state on an endless stream."""
    from aurora_cdc_demo_spark.operators.sketches import hll_registers
    from aurora_cdc_demo_spark.streaming.pipelines import read_cdc_stream

    out = str(tmp_path / "hll_batches")

    def apply_batch(batch_df, batch_id):
        hll_registers(batch_df, "key_id").write.mode("append").parquet(out)

    q = (
        read_cdc_stream(spark, log_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    merged = {
        (r["bucket"]): r["mx"]
        for r in spark.read.parquet(out)
        .groupBy("bucket")
        .agg(F.max("rho").alias("mx"))
        .collect()
    }
    want = {
        (r["bucket"]): r["rho"]
        for r in hll_registers(
            cdc_operation_log(spark, sf_dir), "key_id"
        ).collect()
    }
    assert merged == want
    assert len(want) <= 256


def test_kmv_sketch_merges_across_microbatches(
    spark, sf_dir, log_dir, tmp_path
):
    """KMV mergeability: the K smallest of the union of per-micro-
    batch K-smallest sets equals the batch sketch exactly — any
    globally-kept hash is necessarily kept by its own batch, so
    foreachBatch can maintain the theta sketch with K rows of
    state."""
    from aurora_cdc_demo_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )
    from aurora_cdc_demo_spark.streaming.pipelines import read_cdc_stream

    out = str(tmp_path / "kmv_batches")

    def apply_batch(batch_df, batch_id):
        kmv_sketch(batch_df, "key_id").write.mode("append").parquet(out)

    q = (
        read_cdc_stream(spark, log_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    merged = sorted(
        r["h"]
        for r in kmv_merge(spark.read.parquet(out)).collect()
    )
    want = sorted(
        r["h"]
        for r in kmv_sketch(
            cdc_operation_log(spark, sf_dir), "key_id"
        ).collect()
    )
    assert merged == want
    assert len(want) <= 64
