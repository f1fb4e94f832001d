"""Custom Python DataSource V2: replay a CDC change log directory as
a batch table or an offset-tracked stream.

Re-expression of the reference's Aurora CDC DataSource (reference:
src/aurora_cdc/datasource/aurora_cdc_datasource_v2.py): the FULL
unified 21-column CDC event schema (reference: lines 59-89 — metadata,
binlog position, transaction identity, schema-evolution, performance
tracking and data-quality fields), the same operation vocabulary
INSERT/UPDATE/DELETE/TRUNCATE (reference: line 61), and the same
offset/checkpoint contract (initialOffset/latestOffset-read/commit),
but the "binlog" is a local directory of JSON-lines files instead of a
MySQL socket — deterministic and testable. The reference's JSON offset
{binlog_file, binlog_position, table_offsets} (reference: lines 20-41)
maps to our {"file_idx": i, "row": r, "table_offsets": {...}}.

At rest the log is gzip JSON lines (``binlog.NNNNNN.jsonl.gz``, as
production binlogs are stored compressed): the staged log compresses
about 11x, so both replay scans read a tenth of the bytes. Plain
``.jsonl`` files, hand-written or live-tailed, are read too; every read
path picks the codec by the file's suffix. The two readers split on a
plain file's bytes after its last newline: the batch read parses them
as a last line (a hand-written file need not end in a newline), the
stream reader takes them as not yet written (a live log's writer may
be mid-line) and reads that line once its newline is there.

Every reader turns a log file into events one way, ``_parse_file``,
and emits pyarrow.RecordBatches, which Spark passes to the JVM as they
are. The batch read packs whole log files, in log order, into
partitions sized by bytes (PARTITION_BYTES of log per read task, at
most two per core), since every Python task pays a fixed cost that a
small log's parse does not cover: ~16 ms of CPU and ~5 KB of reads
under ``session.get_spark``, ~280 ms and ~2.6 MB in a session whose
workers import Spark's pyspark.zip. The stream reader is a
SimpleDataSourceStreamReader emitting bounded micro-batches, slices of
each file's parsed batch, with exactly-once replay via
readBetweenOffsets. With the ``tables_per_batch`` option the reader
switches to the reference's priority-driven per-table batch selection
(reference: lines 350-369): each micro-batch serves the highest-
priority pending tables only, tracked by per-table offsets.

Both readers honour the schema Spark hands them (``reader(schema)``,
``simpleStreamReader(schema)``): the source's own CDC_EVENT_SCHEMA, or
a user schema of some of its fields given with ``.schema(...)``. They
emit exactly that schema's fields, matched by name and in its order,
because Spark maps a Python source's output to the schema by
position. Only those columns cross the Python→JVM Arrow boundary: a
read of 5 of the 22 columns ships 5 (an unrequested map such as
``before`` is never built). A field outside CDC_EVENT_SCHEMA, or of
another type, is a ValueError naming it when the reader is built.

Scale note: a large log spreads over up to two partitions per core;
`batch_size` bounds per-trigger work exactly like the reference's
`batch_size` option (reference: line 121). The priority reader
re-lists the log per trigger — that is the replay-harness analog of
the reference polling the binlog socket; the DATA path (everything
downstream of read) stays fully distributed.
"""

from __future__ import annotations

import gzip
import json
import math
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Full reference schema (reference: aurora_cdc_datasource_v2.py:59-89).
# `ts` is the reference's `timestamp`; `seq` is ours (the monotone
# replay sequence the reference encodes as binlog_file+position — we
# carry both the human-friendly seq and the raw position fields).
CDC_EVENT_SCHEMA = StructType(
    [
        # -- metadata
        StructField("database", StringType(), False),
        StructField("table", StringType(), False),
        StructField("operation", StringType(), False),  # INSERT/UPDATE/DELETE/TRUNCATE/DDL
        StructField("ts", TimestampType(), False),
        StructField("event_time", TimestampType(), False),  # watermark column
        StructField("seq", LongType(), False),
        # -- binlog position / transaction identity (exactly-once)
        StructField("binlog_file", StringType(), True),
        StructField("binlog_position", LongType(), True),
        StructField("gtid", StringType(), True),
        StructField("server_id", LongType(), True),
        StructField("transaction_id", StringType(), True),
        # -- data
        StructField("before", MapType(StringType(), StringType()), True),
        StructField("after", MapType(StringType(), StringType()), True),
        StructField("primary_keys", MapType(StringType(), StringType()), True),
        # -- schema evolution
        StructField("schema_version", StringType(), True),
        StructField("ddl_statement", StringType(), True),
        # -- performance tracking
        StructField("processing_time", TimestampType(), True),
        StructField("batch_id", StringType(), True),
        StructField("partition_id", LongType(), True),
        # -- data quality
        StructField("is_snapshot", BooleanType(), True),
        StructField("error_flag", BooleanType(), True),
        StructField("error_message", StringType(), True),
    ]
)


# A log file is gzip JSON lines or plain JSON lines, told by its suffix.
LOG_SUFFIXES = (".jsonl.gz", ".jsonl")


def _log_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(LOG_SUFFIXES)
    )


def _log_text(path: str, whole_lines: bool = False) -> bytes:
    """One log file's bytes, read whole and gunzipped when its name
    ends in ``.gz``. With ``whole_lines`` a plain file ends at its last
    newline: a live log's writer may not have finished the line after
    it."""
    with open(path, "rb") as fh:
        data = fh.read()
    if path.endswith(".gz"):
        return gzip.decompress(data)
    return data[: data.rfind(b"\n") + 1] if whole_lines else data


def _log_lines(path: str, whole_lines: bool = False) -> list[str]:
    """The non-blank lines of one log file (``_log_text``)."""
    return [ln for ln in _log_text(path, whole_lines).decode().split("\n") if ln.strip()]


def _parse_bytes(path: str) -> int:
    """The bytes the parse of one log file handles: a plain file's
    size, or a gzip file's ISIZE trailer (its last 4 bytes, the
    uncompressed size mod 2**32 of a single-member file, which is what
    write_binlog_from_events writes)."""
    size = os.path.getsize(path)
    if not path.endswith(".gz") or size < 4:
        return size
    with open(path, "rb") as fh:
        fh.seek(size - 4)
        return int.from_bytes(fh.read(4), "little")


def _check_schema(schema: StructType) -> StructType:
    """``schema`` itself, once each of its fields is checked: a
    ValueError names the first field that is not in CDC_EVENT_SCHEMA
    or has another type there. A schema of no fields is a ValueError
    too: an Arrow batch of no columns carries no row count, so its
    read would be 0 rows."""
    if not schema.fields:
        raise ValueError("cdc_replay: the read schema names no column")
    for f in schema.fields:
        if f.name not in CDC_EVENT_SCHEMA.names:
            raise ValueError(
                f"cdc_replay: column {f.name!r} is not in the CDC event schema "
                f"(columns: {', '.join(CDC_EVENT_SCHEMA.names)})"
            )
        expected = CDC_EVENT_SCHEMA[f.name].dataType
        if f.dataType != expected:
            raise ValueError(
                f"cdc_replay: column {f.name!r} must be {expected.simpleString()}, "
                f"not {f.dataType.simpleString()}"
            )
    return schema


TRUNCATE_MOD = 251
TXN_GROUP = 8  # consecutive events per transaction_id
PROCESSING_LAG_US = 250_000  # deterministic ingest->process latency
DDL_TABLE = "users_1"
DDL_COLUMN = "loyalty_tier"
DDL_STATEMENT = f"ALTER TABLE {DDL_TABLE} ADD COLUMN {DDL_COLUMN} VARCHAR"

# ---------------------------------------------------------------------------
# The parse of one log file.
# The canonical format is JSON lines, gzip-compressed at rest (pyarrow's
# reader gunzips a `.gz` path itself; a plain `.jsonl` file parses the
# same). It has exactly one producer (write_binlog_from_events), whose
# map payloads draw from a closed key vocabulary; declaring them as
# structs lets the whole file parse in native code. Key order below
# mirrors the writer's insertion order, so the maps built from the
# structs keep the record's key order, as a per-line json.loads does.

_BINLOG_MAP_KEYS = {
    "before": ("value", "event_type", DDL_COLUMN),
    "after": ("value", "event_type", DDL_COLUMN),
    "primary_keys": ("key_id",),
}

# fields every record carries; a record without one is a ValueError
_REQUIRED_FIELDS = ("table", "operation", "seq", "ts_us")


def _binlog_arrow_schema(maps: bool = False):
    """The raw record format of the log: microsecond epoch ints for the
    time fields, and the payloads as structs of their closed key
    vocabulary or, with ``maps``, as map<string,string> (the fallback
    parse and the JVM scan, which take any keys)."""
    import pyarrow as pa

    fields = [
        pa.field("database", pa.string()),
        pa.field("ts_us", pa.int64()),
        pa.field("event_time_us", pa.int64()),
        pa.field("binlog_file", pa.string()),
        pa.field("binlog_position", pa.int64()),
        pa.field("server_id", pa.int64()),
        pa.field("schema_version", pa.string()),
        pa.field("processing_time_us", pa.int64()),
        pa.field("batch_id", pa.string()),
        pa.field("partition_id", pa.int64()),
        pa.field("table", pa.string()),
        pa.field("operation", pa.string()),
        pa.field("seq", pa.int64()),
        pa.field("gtid", pa.string()),
        pa.field("transaction_id", pa.string()),
        pa.field("ddl_statement", pa.string()),
        pa.field("is_snapshot", pa.bool_()),
        pa.field("error_flag", pa.bool_()),
        pa.field("error_message", pa.string()),
    ]
    for name, keys in _BINLOG_MAP_KEYS.items():
        payload = (
            pa.map_(pa.string(), pa.string())
            if maps
            else pa.struct([pa.field(k, pa.string()) for k in keys])
        )
        fields.append(pa.field(name, payload))
    return pa.schema(fields)


def _struct_to_map(arr):
    """struct<k1..kn: string> → map<string,string>: one entry per
    non-null field, in declared (= writer insertion) order; a null
    struct row becomes a null map (the null-offset contract of
    MapArray.from_arrays). A map column is returned as it is."""
    import numpy as np

    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_map(arr.type):
        return arr
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    names = [f.name for f in arr.type]
    val_cols = [arr.field(i) for i in range(len(names))]
    valid = np.stack(
        [pc.is_valid(c).to_numpy(zero_copy_only=False) for c in val_cols],
        axis=1,
    )
    struct_valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
    valid &= struct_valid[:, None]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(valid.sum(axis=1), out=offsets[1:])
    flat_sel = valid.ravel()
    sel_rows = np.repeat(np.arange(n), len(names))[flat_sel]
    sel_cols = np.tile(np.arange(len(names)), n)[flat_sel]
    keys = pa.array(names, pa.string()).take(pa.array(sel_cols, pa.int64()))
    big = pa.concat_arrays([c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in val_cols])
    vals = big.take(pa.array(sel_cols * n + sel_rows, pa.int64()))
    if (~struct_valid).any():
        off_list = offsets.tolist()
        for i in np.nonzero(~struct_valid)[0]:
            off_list[i] = None
        offs = pa.array(off_list, pa.int32())
    else:
        offs = pa.array(offsets, pa.int32())
    return pa.MapArray.from_arrays(
        offs, keys, vals, type=pa.map_(pa.string(), pa.string())
    )


def _parse_file(path: str, schema: StructType, whole_lines: bool = False):
    """Parse one log file into a RecordBatch of ``schema``'s fields (a
    subset of CDC_EVENT_SCHEMA, any order) in their Arrow form. With
    ``whole_lines`` a plain file's bytes after its last newline are
    left out (``_log_text``), as not yet written. A file
    in the canonical format parses whole in pyarrow's C++ JSON reader;
    any other (an unknown field, another type) is json.loads'ed line
    by line into the raw schema with map payloads. Both skip blank
    lines, so a record's row is its index among the non-blank lines.
    The whole file is decoded against the full raw schema, so the
    decode does not depend on the fields asked for; only the
    asked-for columns are then built. A record without one of
    _REQUIRED_FIELDS is a ValueError naming the file and the field."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj
    from pyspark.sql.pandas.types import to_arrow_schema

    source = path
    if whole_lines and not path.endswith(".gz"):
        source = pa.BufferReader(_log_text(path, whole_lines))
    try:
        tab = pj.read_json(
            source,
            parse_options=pj.ParseOptions(
                explicit_schema=_binlog_arrow_schema(),
                unexpected_field_behavior="error",
            ),
            read_options=pj.ReadOptions(use_threads=False),
        )
    except pa.ArrowInvalid:
        tab = pa.Table.from_pylist(
            [json.loads(ln) for ln in _log_lines(path, whole_lines)],
            schema=_binlog_arrow_schema(maps=True),
        )
    for name in _REQUIRED_FIELDS:
        if tab.column(name).null_count:
            row = tab.column(name).to_pylist().index(None)
            raise ValueError(f"cdc_replay: record {row} of {path} has no {name!r}")

    def ts(name, fallback=None):
        col = tab.column(name)
        if fallback is not None:
            col = pc.coalesce(col, tab.column(fallback))
        return col.cast(pa.timestamp("us", tz="UTC"))

    # columns that are not a binlog field as is; every other one is
    derived = {
        "database": lambda: pc.fill_null(tab.column("database"), "replay"),
        "ts": lambda: ts("ts_us"),
        "event_time": lambda: ts("event_time_us", fallback="ts_us"),
        "processing_time": lambda: ts("processing_time_us"),
        "is_snapshot": lambda: pc.fill_null(tab.column("is_snapshot"), False),
        "error_flag": lambda: pc.fill_null(tab.column("error_flag"), False),
        **{
            name: (lambda name=name: _struct_to_map(tab.column(name)))
            for name in _BINLOG_MAP_KEYS
        },
    }
    out = to_arrow_schema(schema)
    arrays = []
    for f in out:
        c = derived[f.name]() if f.name in derived else tab.column(f.name)
        if isinstance(c, pa.ChunkedArray):
            c = c.combine_chunks()
        if c.type != f.type:
            c = c.cast(f.type)
        arrays.append(c)
    return pa.RecordBatch.from_arrays(arrays, schema=out)


class _FilePartition(InputPartition):
    """One scan partition holding one or more whole log files."""

    def __init__(self, files: list[str]):
        self.files = files


# Bytes of log per read task. Measured on a 4-core host: a warm Arrow
# parse runs at ~220 MB/s (4 files, 4.74 MB in 22 ms of CPU). A Python
# task in a reused worker pays a fixed cost: under session.get_spark
# ~16 ms of CPU and ~5 KB of reads (median of 20 one-row UDF tasks);
# in a session whose workers import Spark's pyspark.zip, such as a
# vanilla SparkSession, ~280 ms and 2.56 MB, the per-task zipimport
# re-scan (session.use_installed_pyspark). A 32 MB task parses for
# ~145 ms, a tenth of get_spark's fixed cost; the size stays at 32 MB
# so a vanilla session's cost stays under about twice the parse.
# The bytes counted are those the parse handles, the decompressed log
# (_parse_bytes), not the ~11x smaller gzip bytes on disk: sf0.01
# (4.7 MB) reads in one task, sf0.1 (~47 MB) in two and sf1 (~470 MB)
# in eight on 4 cores (the 2 x cpus cap), as with a plain log.
PARTITION_BYTES = 32 * 1024 * 1024


def _group_files(files: list[str], sizes: list[int], cpus: int) -> list[list[str]]:
    """Pack whole log files into read partitions by bytes: one
    partition per PARTITION_BYTES of log, at least 1 and at most
    2 x cpus (two waves of tasks on a large log) or the file count.
    Each partition holds a contiguous run of files, so concatenating
    the partitions gives the log order: a file goes to the partition
    its first byte falls in when the log is cut into n equal byte
    ranges (a range that one large file spans leaves a partition
    empty, and it is dropped)."""
    total = sum(sizes)
    n = min(len(files), 2 * cpus, math.ceil(total / PARTITION_BYTES))
    n = max(n, 1)
    groups: list[list[str]] = [[] for _ in range(n)]
    start = 0
    for f, size in zip(files, sizes):
        groups[min(start * n // max(total, 1), n - 1)].append(f)
        start += size
    return [g for g in groups if g]


class CDCReplayBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType = CDC_EVENT_SCHEMA):
        self.path = options["path"]
        self.schema = _check_schema(schema)
        # the driver contract's core count; cpu_count is the fallback
        # for sessions launched without it
        self.cpus = int(
            os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
        )

    def partitions(self):
        files = _log_files(self.path)
        sizes = [_parse_bytes(f) for f in files]
        return [_FilePartition(g) for g in _group_files(files, sizes, self.cpus)]

    def read(self, partition: _FilePartition) -> Iterator:
        """Emit each file as ONE pyarrow.RecordBatch: the Python
        DataSource contract accepts RecordBatches directly
        (plan_data_source_read passes them through), so the Python→JVM
        boundary carries Arrow columns rather than a pickled tuple per
        event.

        What crosses the boundary is the reader's schema: exactly its
        fields, in its order, with its Arrow types. Spark checks a
        batch only by column count and names and then reads the
        columns by position, so emitting the source's full schema for
        a user schema of other order or width would swap or misread
        columns. A file with no records yields nothing. A directory
        with no log files plans no partition, and Spark then calls
        ``read(None)`` once: 0 rows."""
        if partition is None:
            return
        for file_path in partition.files:
            batch = _parse_file(file_path, self.schema)
            if batch.num_rows:
                yield batch


def _count_tables(counts: dict, tables) -> dict:
    """``counts`` (rows per table) plus the rows of the Arrow string
    column ``tables``; a table new to it is added at its first row, so
    the offset JSON lists tables in the order the log reached them."""
    import pyarrow.compute as pc

    for vc in pc.value_counts(tables).to_pylist():
        counts[vc["values"]] = counts.get(vc["values"], 0) + vc["counts"]
    return counts


class CDCReplayStreamReader(SimpleDataSourceStreamReader):
    """Offsets are {"file_idx": i, "row": r, "table_offsets": {t: n}}:
    the global position in the ordered log directory (the file, and
    the row among its non-blank lines) plus the number of rows
    consumed per table — the local analog of the reference's CDCOffset
    {binlog_file, binlog_position, table_offsets} (reference:
    aurora_cdc_datasource_v2.py:20-41).

    Two modes:

    - default: global sequential replay; ``table_offsets`` is carried
      as per-table consumed counts (observability + per-table replay).
    - ``tables_per_batch=N``: priority-driven selection (reference:
      lines 350-369) — each micro-batch picks the N highest-priority
      tables with pending rows (TableManager scoring: capped pending
      volume + recency) and serves up to ``batch_size`` of THEIR rows
      in log order; other tables' offsets stand still. Exactly-once
      replay is per-table: [start.table_offsets, end.table_offsets).

    Each log file is parsed once into a RecordBatch of the reader's
    columns plus ``table`` (which the offsets count) and ``ts`` (which
    the priority ranks by). ``read`` and ``readBetweenOffsets`` emit
    slices of those batches (the priority mode a ``take`` of the
    chosen rows), cut to the reader's schema; never a batch of no
    rows.
    """

    def __init__(self, options: dict, schema: StructType = CDC_EVENT_SCHEMA):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.path = options["path"]
        self.names = _check_schema(schema).names
        self.parse_schema = StructType(
            schema.fields
            + [CDC_EVENT_SCHEMA[c] for c in ("table", "ts") if c not in self.names]
        )
        self.arrow_schema = to_arrow_schema(self.parse_schema)
        self.batch_size = int(options.get("batch_size", "1000"))
        tpb = options.get("tables_per_batch")
        self.tables_per_batch = int(tpb) if tpb is not None else None
        # path -> ((size, mtime_ns), parsed batch) of files read before
        self._parsed: dict[str, tuple[tuple[int, int], object]] = {}

    def initialOffset(self) -> dict:
        return {"file_idx": 0, "row": 0, "table_offsets": {}}

    def _batch(self, path: str):
        """``_parse_file(path)`` of the parse schema, kept so that a
        micro-batch does not read and parse a file again: the
        sequential mode keeps the file parsed last (a batch mostly
        starts in the file the one before it ended in), the priority
        mode, which ranks the whole log on every trigger, keeps every
        file. A file whose size or mtime changed, such as a growing
        plain file, is parsed again. A plain file is parsed up to its
        last newline: a half-written last line is read once it is
        whole."""
        st = os.stat(path)
        key = (st.st_size, st.st_mtime_ns)
        hit = self._parsed.get(path)
        if hit is None or hit[0] != key:
            if self.tables_per_batch is None:
                self._parsed.clear()
            batch = _parse_file(path, self.parse_schema, whole_lines=True)
            hit = self._parsed[path] = (key, batch)
        return hit[1]

    def _emit(self, batches) -> Iterator:
        # a list iterator, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator to serve a batch more than once
        return iter([b.select(self.names) for b in batches if b.num_rows])

    # -- global sequential mode ------------------------------------

    def _read_range(
        self, start: dict, limit: int | None, end: dict | None = None
    ) -> tuple[list, dict]:
        """Slices of the log from ``start`` until ``limit`` rows are
        read or the position reaches ``end`` (no file past it is
        opened), and the offset they end at. The offset stays in the
        last file at its end, as a live log's last file may grow."""
        files = _log_files(self.path)
        stop = (end["file_idx"], end["row"]) if end is not None else (len(files), 0)
        out = []
        counts = dict(start.get("table_offsets", {}))
        budget = math.inf if limit is None else limit
        fi, row = start["file_idx"], start["row"]
        while fi < len(files) and (fi, row) < stop:
            batch = self._batch(files[fi])
            hi = batch.num_rows if fi < stop[0] else min(stop[1], batch.num_rows)
            hi = min(hi, row + budget)
            if hi > row:
                out.append(batch.slice(row, hi - row))
                _count_tables(counts, out[-1].column("table"))
                budget -= hi - row
                row = hi
            if row < batch.num_rows or fi + 1 == len(files):
                break
            fi, row = fi + 1, 0
        return out, {"file_idx": fi, "row": row, "table_offsets": counts}

    # -- priority (per-table) mode ---------------------------------

    def _log(self):
        """The whole parsed log as one table, and each table's row
        positions in it, in log order: a table's offset counts its
        rows in that order."""
        import numpy as np
        import pyarrow as pa

        log = pa.Table.from_batches(
            [self._batch(f) for f in _log_files(self.path)], schema=self.arrow_schema
        )
        enc = log.column("table").combine_chunks().dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False)
        names = enc.dictionary.to_pylist()
        return log, {t: np.flatnonzero(codes == i) for i, t in enumerate(names)}

    @staticmethod
    def _between(log, positions: dict, lo: dict, hi: dict, limit: int | None = None):
        """The first ``limit`` of the rows of each table t from its
        lo[t]-th to before its hi[t]-th (a table missing from either
        counts 0), merged in log order."""
        import numpy as np

        keep = np.zeros(log.num_rows, dtype=bool)
        for t, pos in positions.items():
            keep[pos[lo.get(t, 0):hi.get(t, 0)]] = True
        return log.take(np.flatnonzero(keep)[:limit])

    def _read_priority(self, start: dict) -> tuple[list, dict]:
        """TableManager scoring (reference: table_manager.py:157-204):
        capped pending volume + recency of the newest pending change
        relative to the newest pending change anywhere (the streaming
        analog of 'hours since last update')."""
        import pyarrow as pa

        from ..config.table_manager import (
            DAY_HOURS_BONUS,
            RECENT_HOURS_BONUS,
            VOLUME_CAP,
        )

        log, positions = self._log()
        offsets = dict(start.get("table_offsets", {}))
        pending = {
            t: pos[offsets.get(t, 0):]
            for t, pos in positions.items()
            if offsets.get(t, 0) < len(pos)
        }
        if not pending:
            return [], {**start, "table_offsets": offsets}
        # recency anchor: the newest pending event across all tables
        ts_us = log.column("ts").cast(pa.int64()).to_numpy()
        newest = {t: ts_us[pos[-1]] for t, pos in pending.items()}
        anchor = max(newest.values())
        scores = {}
        for t, pos in pending.items():
            hours = (anchor - newest[t]) // 3_600_000_000
            bonus = (
                RECENT_HOURS_BONUS
                if hours < 1
                else (DAY_HOURS_BONUS if hours < 24 else 0)
            )
            scores[t] = min(len(pos), VOLUME_CAP) + bonus
        chosen = sorted(pending, key=lambda t: (-scores[t], t))[
            : self.tables_per_batch
        ]
        # serve the chosen tables' pending rows merged in log order, up
        # to batch_size: each table's rows taken are the next in its
        # own log order, which is what its offset counts
        rows = self._between(
            log, positions, offsets, {t: len(positions[t]) for t in chosen}, self.batch_size
        )
        return rows.to_batches(), {
            "file_idx": start.get("file_idx", 0),
            "row": start.get("row", 0),
            "table_offsets": _count_tables(offsets, rows.column("table")),
        }

    # -- SimpleDataSourceStreamReader contract ---------------------

    def read(self, start: dict) -> tuple[Iterator, dict]:
        if self.tables_per_batch is not None:
            batches, end = self._read_priority(start)
        else:
            batches, end = self._read_range(start, self.batch_size)
        return self._emit(batches), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        # exactly-once replay on recovery: re-read [start, end)
        if self.tables_per_batch is not None:
            log, positions = self._log()
            batches = self._between(
                log, positions, start.get("table_offsets", {}), end.get("table_offsets", {})
            ).to_batches()
        else:
            batches, _ = self._read_range(start, None, end)
        return self._emit(batches)

    def commit(self, end: dict) -> None:
        # Checkpoint the committed offset (reference: lines 479-489).
        # Written aside and renamed, so a crash mid-dump leaves the
        # previous marker whole instead of a truncated file.
        marker = os.path.join(self.path, "_committed_offset.json")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(end, fh)
        os.replace(tmp, marker)


class CDCReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdc_replay"

    def schema(self) -> StructType:
        return CDC_EVENT_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return CDCReplayBatchReader(self.options, schema)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return CDCReplayStreamReader(self.options, schema)


# ---------------------------------------------------------------------------
# JVM-native binlog reader (the at-rest scan path)
# ---------------------------------------------------------------------------


def read_binlog_native(spark, path: str):
    """Read the staged binlog with Spark's built-in JSON scan instead
    of the Python DataSource: same 21-column CDC_EVENT_SCHEMA output,
    but the JSON parsing runs JVM-side (vectorized reader, no Python
    workers in the scan). It reads the raw record format of
    ``_binlog_arrow_schema(maps=True)`` and derives every column on
    its own, so it is an independent check of ``_parse_file``.

    Division of labor at scale: CDCReplayDataSource is the PROTOCOL
    path — offsets, commit, per-table priority batches, streaming
    exactly-once (the reference's live-socket semantics,
    aurora_cdc_datasource_v2.py:90-140) — while this is the AT-REST
    path: once the log is landed as files, a 100 TB replay/backfill
    should be a native columnar-speed scan, not a Python parse.
    tests/test_datasource.py pins both paths row-identical; bench.py
    reports both throughputs.

    The directory is read with a ``pathGlobFilter`` of both log
    suffixes (Hadoop's codec picks gzip by the ``.gz`` suffix). A glob
    in the path itself made Spark look for a ``_spark_metadata`` log
    under the glob and warn with a stack trace on every read."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    raw = (
        spark.read.schema(from_arrow_schema(_binlog_arrow_schema(maps=True)))
        .option("pathGlobFilter", "*.{jsonl,jsonl.gz}")
        .json(path)
    )
    return raw.select(
        F.coalesce("database", F.lit("replay")).alias("database"),
        "table",
        "operation",
        F.timestamp_micros("ts_us").alias("ts"),
        F.timestamp_micros(F.coalesce("event_time_us", "ts_us")).alias(
            "event_time"
        ),
        "seq",
        "binlog_file",
        "binlog_position",
        "gtid",
        "server_id",
        "transaction_id",
        "before",
        "after",
        "primary_keys",
        "schema_version",
        "ddl_statement",
        F.timestamp_micros("processing_time_us").alias("processing_time"),
        "batch_id",
        "partition_id",
        F.coalesce("is_snapshot", F.lit(False)).alias("is_snapshot"),
        F.coalesce("error_flag", F.lit(False)).alias("error_flag"),
        "error_message",
    )


# ---------------------------------------------------------------------------
# Deterministic binlog generator
# ---------------------------------------------------------------------------

# gzip level of the staged log: the sf0.01 log compresses ~11.6x.
BINLOG_GZIP_LEVEL = 6

# Every event_id hitting this residue becomes a table-wide TRUNCATE of
# its routed table (reference op vocabulary: INSERT/UPDATE/DELETE/
# TRUNCATE, aurora_cdc_datasource_v2.py:61). The rule is expressed on
# event_id so the DuckDB oracle derives the identical log.


def write_binlog_from_events(
    events_parquet: str,
    out_dir: str,
    rows_per_file: int = 2500,
    include_ddl: bool = False,
) -> int:
    """Materialize a deterministic CDC 'binlog' (gzip JSON-lines
    files, ``binlog.NNNNNN.jsonl.gz``) from the events table — the
    local analog of the reference's workload generator (reference:
    scripts/cdc_data_generator.py), carrying the full 21-column event
    schema (reference: aurora_cdc_datasource_v2.py:59-89). Returns
    number of events written (excluding the optional DDL marker).

    Deterministic derivations (all re-expressible in oracle SQL):
      table          users_{user_id % 4}
      operation      TRUNCATE if event_id % 251 == 250,
                     else signup→INSERT / error→DELETE / else UPDATE
      server_id      1 + user_id % 4   (one server per routed table)
      gtid           srv{server_id}:{event_id}
      transaction_id txn{event_id // 8}
      processing_ts  ts + 250 ms
      batch_id       batch-{file_idx}; partition_id = file_idx

    With ``include_ddl`` a schema-change event (operation DDL,
    ddl_statement = ALTER TABLE ... ADD COLUMN) is emitted at the
    midpoint; subsequent non-DELETE events of that table carry the
    new column in `after` under schema_version 2 (reference reserves
    schema_version/ddl_statement exactly for this,
    aurora_cdc_datasource_v2.py:76-78).

    Each file is written with gzip at level BINLOG_GZIP_LEVEL and a
    zero header mtime, so the same events give the same bytes. The
    records' ``binlog_file`` stays the logical name
    ``binlog.NNNNNN.jsonl``. The readers take plain ``.jsonl`` files
    as well.
    """
    import pyarrow.parquet as pq

    import pyarrow as pa

    table = pq.read_table(events_parquet).sort_by("event_id")
    os.makedirs(out_dir, exist_ok=True)
    ops = {"signup": "INSERT", "error": "DELETE"}
    n = table.num_rows
    eid = table.column("event_id").to_pylist()
    # pyarrow's timestamp→int64 cast yields the column's OWN unit, so
    # normalize to a known unit (ns) first — otherwise a us-unit parquet
    # column (Spark's default writer unit) would come out 1000x off.
    ts_ns = (
        table.column("ts").cast(pa.timestamp("ns")).cast(pa.int64()).to_pylist()
    )
    uid = table.column("user_id").to_pylist()
    etype = table.column("event_type").to_pylist()
    value = table.column("value").to_pylist()
    ddl_at = n // 2 if include_ddl else None
    fh = None

    def write(rec: dict) -> None:
        fh.write((json.dumps(rec) + "\n").encode())

    for i in range(n):
        file_idx = i // rows_per_file
        binlog_file = f"binlog.{file_idx:06d}.jsonl"
        if i % rows_per_file == 0:
            if fh:
                fh.close()
            fh = gzip.GzipFile(
                os.path.join(out_dir, binlog_file + ".gz"),
                "wb",
                compresslevel=BINLOG_GZIP_LEVEL,
                mtime=0,
            )
        ts_us = ts_ns[i] // 1000
        tbl = f"users_{uid[i] % 4}"
        common = {
            "database": "replay",
            "ts_us": ts_us,
            "event_time_us": ts_us,
            "binlog_file": binlog_file,
            "binlog_position": i % rows_per_file,
            "server_id": 1 + uid[i] % 4,
            "schema_version": "1",
            "processing_time_us": ts_us + PROCESSING_LAG_US,
            "batch_id": f"batch-{file_idx:06d}",
            "partition_id": file_idx,
        }
        if ddl_at is not None and i == ddl_at:
            # out-of-band schema-change event: no data payload, seq
            # outside the event_id range so dedup identities never
            # collide; consumers key on ddl_statement/schema_version
            write(
                {
                    **common,
                    "table": DDL_TABLE,
                    "operation": "DDL",
                    "seq": 1_000_000_000 + i,
                    "gtid": f"srv2:ddl{i}",
                    "transaction_id": f"txnddl{i}",
                    "schema_version": "2",
                    "ddl_statement": DDL_STATEMENT,
                }
            )
        if eid[i] % TRUNCATE_MOD == TRUNCATE_MOD - 1:
            op = "TRUNCATE"
            after = None
            pks = None
        else:
            op = ops.get(etype[i], "UPDATE")
            pks = {"key_id": str(uid[i])}
            if op == "DELETE":
                after = None
            else:
                after = {"value": str(value[i]), "event_type": etype[i]}
                if (
                    include_ddl
                    and i > ddl_at
                    and tbl == DDL_TABLE
                ):
                    after[DDL_COLUMN] = f"tier{uid[i] % 3}"
        rec = {
            **common,
            # deterministic multi-table routing: exercises the
            # many-table CDC path (reference handles 500+ tables)
            "table": tbl,
            "operation": op,
            "seq": eid[i],
            "gtid": f"srv{1 + uid[i] % 4}:{eid[i]}",
            "transaction_id": f"txn{eid[i] // TXN_GROUP}",
            "before": None,
            "after": after,
            "primary_keys": pks,
        }
        if include_ddl and i > ddl_at and tbl == DDL_TABLE and op != "TRUNCATE":
            rec["schema_version"] = "2"
        write(rec)
    if fh:
        fh.close()
    return n
