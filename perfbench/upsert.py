"""cdc_upsert_large_state: a closed loop that drains ordered CDC
micro-batches into ``ParquetStateStore`` over a large state.

Set-up: the seeded change log — a snapshot of SNAPSHOT_KEYS inserts
(500x one batch) and STAGED_BATCHES batches of BATCH_EVENTS events — is
written aside, each batch in its own file. The snapshot is the stream's
first micro-batch, followed by WARMUP_BATCHES batches while the JIT
settles. The timed window then runs for 85% of ``--seconds``: one load
thread keeps QUEUE_DEPTH batch files released ahead of the store, so
the stream never waits for input. Releasing a file gives it an
explicitly increasing mtime and renames it into the input directory, so
the parquet file source (maxFilesPerTrigger=1) delivers the log
strictly in order. The rest times full reads of the committed state.

Correctness: after the stream has drained, the store's state must equal
``latest_state`` over the same log computed in one batch.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

import gen
from harness import (
    Run,
    host_ticks,
    jit_s,
    jit_ticks,
    median,
    read_metrics,
    same_rows,
    steal_pct,
    tail,
    timed_reads,
    to_noop,
    tree_cpu_s,
    tree_usage,
    unit_metrics,
)

SNAPSHOT_KEYS = 500_000
BATCH_EVENTS = 1_000
WARMUP_BATCHES = 10
QUEUE_DEPTH = 2
STAGED_BATCHES = 60  # a run on a 4-vCPU host releases about 25
STAGING_REPEATS = 3
SCHEMA = "key_id long, seq long, operation string, event_type string, ts timestamp, value double"


def stage_log(seed: int, stage: str, snapshot_keys: int, batch_events: int, batches: int) -> list[str]:
    """Write the seeded log into ``stage``: the snapshot, then
    ``batches`` batch files. Returns the file names in log order."""
    log = gen.UpsertLog(seed, snapshot_keys, batch_events)
    names = []
    for i in range(batches + 1):
        names.append(f"batch-{i:06d}.parquet")
        pq.write_table(log.batch() if i else log.snapshot(), os.path.join(stage, names[-1]))
    return names


class Applier:
    """foreachBatch callback around a state store's ``apply_batch``:
    records one (batch_id, start, end, cpu_start, cpu_end, jit,
    read_bytes, write_bytes) span per batch, with the process tree's
    CPU seconds and I/O sampled at the edges of the apply call and the
    JIT compiler's CPU seconds inside it, and wakes the waiters of
    ``cond`` after each commit."""

    def __init__(self, apply_batch):
        self.apply_batch = apply_batch
        self.cond = threading.Condition()
        self.spans: list[tuple] = []
        self.running_since: float | None = None
        self.error: Exception | None = None

    def __call__(self, df, batch_id):
        # each /proc sample costs ~2 ms of CPU; the JIT sample is taken
        # outside the CPU sample so only the CPU sample's own cost lands
        # in the span
        jit0 = jit_ticks()
        t0, (cpu0, r0, w0) = time.time(), tree_usage()
        with self.cond:
            self.running_since = t0
        try:
            self.apply_batch(df, batch_id)
        except Exception as exc:
            with self.cond:
                self.error = exc
                self.cond.notify_all()
            raise
        (cpu1, r1, w1), t1 = tree_usage(), time.time()
        jit = jit_s(jit0, jit_ticks())
        with self.cond:
            self.spans.append((batch_id, t0, t1, cpu0, cpu1, jit, r1 - r0, w1 - w0))
            self.running_since = None
            self.cond.notify_all()

    def wait_for(self, pred, query, timeout: float) -> None:
        """Block until ``pred()`` holds (evaluated under the lock);
        raise if the stream failed or the time ran out."""
        deadline = time.time() + timeout
        with self.cond:
            while not pred():
                if self.error is not None:
                    raise RuntimeError("apply_batch failed") from self.error
                if query.exception() is not None:
                    raise RuntimeError(f"stream failed: {query.exception()}")
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("stream did not reach the expected state")
                self.cond.wait(min(left, 0.5))


class Feeder:
    """The load thread: releases the next staged file whenever fewer
    than QUEUE_DEPTH released files wait, until ``stop_at`` or the
    last staged file. File i
    gets mtime ``mtime0 + order[i]``: in log order unless a permutation
    is given."""

    def __init__(self, names: list[str], stage: str, inbox: str, applier: Applier, mtime0: int, order=None):
        self.names, self.stage, self.inbox = names, stage, inbox
        self.applier = applier
        self.mtime0 = mtime0
        self.order = order
        self.released: list[str] = []
        self.release_times: list[float] = []
        self.late_s: list[float] = []  # release time minus the commit that freed its slot
        self.stop_at: float | None = None
        self.error: Exception | None = None
        self.thread = threading.Thread(target=self._loop, daemon=True)

    def release(self) -> None:
        i = len(self.released)
        if i == len(self.names):
            raise RuntimeError("ran out of staged batches")
        name = self.names[i]
        staged = os.path.join(self.stage, name)
        m = self.mtime0 + (self.order[i] if self.order is not None else i)
        os.utime(staged, (m, m))
        os.rename(staged, os.path.join(self.inbox, name))
        self.released.append(name)
        self.release_times.append(time.time())

    def _loop(self) -> None:
        a = self.applier
        try:
            while True:
                with a.cond:
                    while len(self.released) - len(a.spans) >= QUEUE_DEPTH and not self._over():
                        a.cond.wait(0.05)
                    if self._over() or len(self.released) == len(self.names):
                        return  # past the deadline, or every staged file is out
                    freed = len(self.released) - QUEUE_DEPTH
                    due = a.spans[freed][2] if freed >= 0 else None
                self.release()
                if due is not None:
                    self.late_s.append(self.release_times[-1] - due)
        except Exception as exc:  # surfaced by the main thread
            self.error = exc

    def _over(self) -> bool:
        return self.stop_at is not None and time.time() >= self.stop_at


def new_feeder(r: Run, name: str, snapshot_keys: int, batch_events: int, batches: int, order=None, repeats: int = 1):
    """Stage the seeded log under ``name`` (``repeats`` times, timing
    each) and return (applier over a fresh ParquetStateStore, feeder,
    state dir, staging seconds)."""
    from aurora_cdc_demo_spark.streaming.pipelines import ParquetStateStore

    for d in ("in", "stage"):
        os.makedirs(r.path(name, d))
    staging = []
    for _ in range(repeats):
        t = time.time()
        names = stage_log(r.seed, r.path(name, "stage"), snapshot_keys, batch_events, batches)
        staging.append(time.time() - t)
    state_dir = r.path(name, "state")
    applier = Applier(ParquetStateStore(r.spark, state_dir).apply_batch)
    feeder = Feeder(names, r.path(name, "stage"), r.path(name, "in"), applier, int(time.time()) - 100_000, order)
    return applier, feeder, state_dir, staging


def start_query(r: Run, applier: Applier, inbox: str):
    """The parquet file-source stream (one file per trigger) into
    ``applier`` with a processing-time trigger."""
    return (
        r.spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(applier)
        .option("checkpointLocation", inbox + ".checkpoint")
        .trigger(processingTime="0 seconds")
        .start()
    )


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _json(x):
    return json.loads(x) if isinstance(x, str) else x


def progress(query) -> list[dict]:
    """One record per micro-batch that ran (idle progress ticks are
    dropped): trigger start/end, durationMs, input rows and the index
    of the last file the source had read."""
    out = []
    for p in query.recentProgress:
        p = _json(p.json) if hasattr(p, "json") else p
        d = p["durationMs"]
        if "addBatch" not in d:
            continue
        start = _epoch(p["timestamp"])
        out.append(
            {
                "id": p["batchId"],
                "start": start,
                "end": start + d["triggerExecution"] / 1000,
                "ms": d,
                "rows": p["numInputRows"],
                "last_file": int(_json(p["sources"][0]["endOffset"])["logOffset"]),
            }
        )
    return out


def drain(query, applier: Applier, feeder: Feeder, timeout: float = 120) -> None:
    """Wait until Spark's own last progress shows the source's end
    offset at the last released file and that batch has been applied."""
    feeder.thread.join(timeout=60)
    if feeder.error is not None:
        raise RuntimeError("feeder failed") from feeder.error
    last = len(feeder.released) - 1
    deadline = time.time() + timeout
    while True:
        lp = query.lastProgress
        if lp is not None:
            lp = _json(lp.json) if hasattr(lp, "json") else lp
            off = _json(lp["sources"][0]["endOffset"])
            with applier.cond:
                applied = {s[0] for s in applier.spans}
            if off is not None and int(off["logOffset"]) >= last and lp["batchId"] in applied:
                return
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError("stream did not drain")
        time.sleep(0.05)


def check_against_batch(spark, state_dir: str, files: list[str]):
    """Stream≡batch gate: the committed state equals latest_state over
    every released file, computed in one batch. Returns (ok, rows)."""
    from aurora_cdc_demo_spark.operators.cdc_apply import latest_state

    state = spark.read.parquet(state_dir)
    twin = latest_state(spark.read.schema(SCHEMA).parquet(*files)).select(*state.columns)
    return same_rows(state, twin), state.count()


def backlog_max(release_times: list[float], batches: list[dict], measured: set) -> int:
    """Most released files still waiting, beyond the one the next batch
    takes, at the start of any measured batch. ``batches`` are all of
    the query's batches."""
    worst, done = 0, 0
    for b in sorted(batches, key=lambda b: b["start"]):
        if b["id"] in measured:
            released = sum(1 for t in release_times if t <= b["start"])
            worst = max(worst, released - done - 1)
        done = b["last_file"] + 1
    return worst


def layer_metrics(ev, batches: list[dict], spans, state_dir: str) -> dict:
    """Streaming per-layer metrics of the measured micro-batches, from
    the event log (jobs attributed by trigger window), the apply spans
    and Spark's progress records. Returns name -> (value, samples)."""
    n = len(batches)
    tasks = ev.tasks_of([j for b in batches for j in ev.jobs_in(b["start"], b["end"])])
    ids = {b["id"] for b in batches}
    apply_ms = [(s[2] - s[1]) * 1000 for s in spans if s[0] in ids]
    ms = [b["ms"] for b in batches]
    return {
        **unit_metrics(ev, [(b["start"], b["end"]) for b in batches]),
        "streaming.apply_batch_ms_p50": (median(apply_ms), len(apply_ms)),
        "streaming.trigger_overhead_ms_p50": (median([d["triggerExecution"] - d["addBatch"] for d in ms]), n),
        "streaming.state_rows_read_per_batch": (ev.scan_rows(tasks, state_dir) / n, n),
        "streaming.state_files": (sum(1 for f in os.listdir(state_dir) if f.endswith(".parquet")), 1),
        "sources.latest_offset_ms_p50": (median([d.get("latestOffset", 0) for d in ms]), n),
        "sources.get_batch_ms_p50": (median([d.get("getBatch", 0) for d in ms]), n),
    }


def run(r: Run) -> dict:
    spark = r.start_spark()
    r.mark("jvm")
    applier, feeder, state_dir, staging = new_feeder(
        r, "stream", SNAPSHOT_KEYS, BATCH_EVENTS, STAGED_BATCHES, repeats=STAGING_REPEATS
    )
    r.mark("staging")
    feeder.release()  # the snapshot
    cpu_cold = tree_cpu_s()
    query = start_query(r, applier, feeder.inbox)
    feeder.thread.start()
    try:
        applier.wait_for(lambda: len(applier.spans) >= 1, query, 170)
        cpu_cold = applier.spans[0][4] - cpu_cold
        applier.wait_for(lambda: len(applier.spans) > WARMUP_BATCHES, query, 170)
        t0 = applier.spans[WARMUP_BATCHES][2]
        cpu0, host0 = tree_cpu_s(), host_ticks()
        r.mark("warmup")
        setup_s = t0 - r.t_start - sum(staging) + median(staging)
        deadline = t0 + 0.85 * r.seconds
        feeder.stop_at = deadline
        time.sleep(max(0.0, deadline - time.time()))
        # the batch running at the deadline is the last one measured
        applier.wait_for(lambda: applier.running_since is None or applier.running_since >= deadline, query, 120)
        cpu1, host1 = tree_cpu_s(), host_ticks()
        r.mark("window")
        measured = [s for s in applier.spans if t0 <= s[1] < deadline]
        drain(query, applier, feeder)
    finally:
        query.stop()
    r.mark("drain")
    t_end = max(s[2] for s in measured)
    ids = {s[0] for s in measured}
    all_batches = progress(query)
    batches = [b for b in all_batches if b["id"] in ids]
    if len(batches) != len(measured) or any(b["rows"] != BATCH_EVENTS for b in batches):
        raise RuntimeError("a measured micro-batch did not apply exactly one batch file")

    files = [os.path.join(feeder.inbox, f) for f in feeder.released]
    correct, state_rows = check_against_batch(spark, state_dir, files)

    r.mark("check")
    reads, read_cpu = timed_reads(
        lambda: to_noop(spark.read.parquet(state_dir)),
        0.15 * r.seconds,
    )

    r.mark("reads")
    commit_ms = [b["ms"]["triggerExecution"] for b in batches]
    apply_cpu = [s[4] - s[3] for s in measured]
    apply_jit = [s[5] for s in measured]
    tail_ms, tail_pct = tail(commit_ms)
    events = BATCH_EVENTS * len(measured)
    per_kevent = 1000 / BATCH_EVENTS
    out = {
        "correct": correct,
        "attempted": len(measured) + len(reads),
        "failed": 0 if correct else 1,
        "e2e": {
            "setup_s": setup_s,
            # bytes the JVM and its workers read and wrote inside the
            # apply_batch calls, per 1000 events
            "read_mb_per_unit": median([s[6] for s in measured]) / 1e6 * per_kevent,
            "write_mb_per_unit": median([s[7] for s in measured]) / 1e6 * per_kevent,
        },
        # reported every run, not bounded: too unsteady for a bound (NOTES.md)
        "demoted": {
            # CPU of the apply_batch calls only, per 1000 events
            "cpu.ms_per_unit": median(apply_cpu) * 1000 * per_kevent,
            "wall.latency_p50_ms": median(commit_ms),
            "wall.throughput_per_s": events / (t_end - t0),
            "wall.read_p50_ms": median([(b - a) * 1000 for a, b in reads]),
            "wall.cold_ms": all_batches[0]["ms"]["triggerExecution"],
            # stream start and the snapshot micro-batch: first use of
            # every plan, 500x a batch
            "cpu.cold_ms": cpu_cold * 1000,
            "tables.read_cpu_ms": median(read_cpu) * 1000,
        },
        "samples": {
            "read_mb_per_unit": len(measured),
            "write_mb_per_unit": len(measured),
            "cpu.ms_per_unit": len(measured),
            "tables.read_cpu_ms": len(reads),
            "setup_s": STAGING_REPEATS,
            "cpu.cold_ms": 1,
            "wall.latency_p50_ms": len(commit_ms),
            "wall.throughput_per_s": len(measured),
            "wall.read_p50_ms": len(reads),
            "wall.cold_ms": 1,
        },
        "notes": {
            "steal_pct": steal_pct(host0, host1),
            "window_cpu_ms_per_kevent": round((cpu1 - cpu0) * 1000 / (events / 1000), 1),
            "latency_tail_ms": tail_ms,
            "tail_percentile": round(tail_pct, 1),
            "batches": len(measured),
            "state_rows": state_rows,
            "files_released": len(files),
        },
    }
    if r.trace:
        late = [x for x, t in zip(feeder.late_s, feeder.release_times[QUEUE_DEPTH:]) if t0 <= t < deadline]
        ev = r.event_log_after_stop()
        out["layers"] = {
            **layer_metrics(ev, batches, applier.spans, state_dir),
            **read_metrics(ev, reads, state_dir),
            "jvm.jit_cpu_ms_per_unit": (median(apply_jit) * 1000, len(apply_jit)),
            "sources.backlog_files_max": (backlog_max(feeder.release_times, all_batches, ids), len(batches)),
            "generator.late_ms_max": (max(late) * 1000 if late else 0.0, len(late)),
        }
    return out
