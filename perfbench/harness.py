"""Shared plumbing for the workloads: the Spark session, the work
directory, phase timing, CPU and I/O accounting from /proc, order statistics and the
event-log reader of the traced run."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs):
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample. Returns (value, percentile); with ten or fewer
    samples there is no such percentile and the maximum is returned
    with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# ---------------------------------------------------------------------------
# CPU and I/O of this process tree (the benchmark process, its JVM child, Python workers)
# ---------------------------------------------------------------------------


def tree_usage(root_pid: int | None = None) -> tuple[float, int, int]:
    """One sample of ``root_pid``'s process tree: (CPU seconds, bytes
    read, bytes written).

    CPU is utime+stime plus reaped children's cutime+cstime, summed over
    the root and every live descendant. I/O is rchar and wchar of
    /proc/<pid>/io — the bytes passed to read and write calls on files,
    pipes and sockets — summed over the live descendants only: the
    root is the benchmark process, whose reads inside a timed window
    are these /proc samples. Differences of two samples give what the
    tree did between them, including processes that ended in between
    (the kernel adds a reaped child's CPU and I/O to its parent)."""
    root_pid = root_pid or os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        f = raw[raw.rfind(")") + 2 :].split()
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    cpu, rchar, wchar, stack = 0, 0, 0, [root_pid]
    while stack:
        pid = stack.pop()
        cpu += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
        if pid == root_pid:
            continue
        try:
            with open(f"/proc/{pid}/io") as fh:
                io = dict(line.split(": ") for line in fh.read().splitlines())
        except OSError:
            continue  # exited since the listing
        rchar += int(io["rchar"])
        wchar += int(io["wchar"])
    return cpu / CLK_TCK, rchar, wchar


def tree_cpu_s() -> float:
    """CPU seconds of this process tree (see ``tree_usage``)."""
    return tree_usage()[0]


_JVM: list[int] = []  # pid of the JVM child, found on first use


def jvm_pid() -> int | None:
    """The ``java`` process among this process's descendants."""
    if _JVM and os.path.exists(f"/proc/{_JVM[0]}"):
        return _JVM[0]
    _JVM.clear()
    me, parent = os.getpid(), {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            parent[int(d)] = int(raw[raw.rfind(")") + 2 :].split()[1])
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p != me:
            p = parent.get(p)
        if p == me:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        _JVM.append(pid)
                        return pid
            except OSError:
                continue
    return None


def jit_ticks() -> dict:
    """CPU ticks of each live JIT compiler thread of the JVM, by thread
    id. HotSpot starts and stops these threads as its compile queue
    grows and shrinks, so a delta is taken over the threads alive at
    both samples (``jit_s``)."""
    pid = jvm_pid()
    out = {}
    if pid is None:
        return out
    base = f"/proc/{pid}/task"
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
            with open(f"{base}/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rfind(")") + 2 :].split()
        out[tid] = int(f[11]) + int(f[12])
    return out


def jit_s(a: dict, b: dict) -> float:
    """JIT compiler CPU seconds between two ``jit_ticks`` samples."""
    return sum(v - a[t] for t, v in b.items() if t in a) / CLK_TCK


def to_noop(df) -> None:
    """Run ``df`` to completion into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def same_rows(a, b) -> bool:
    """Multiset equality of two DataFrames with the same columns."""
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def timed_reads(read, seconds: float, at_least: int = 3):
    """Call ``read()`` until ``seconds`` have passed and at least
    ``at_least`` times. Returns the (start, end) span of each call and
    the process tree's CPU seconds spent in each."""
    spans, cpu, t0 = [], [], time.time()
    while len(spans) < at_least or time.time() - t0 < seconds:
        a, c = time.time(), tree_cpu_s()
        read()
        cpu.append(tree_cpu_s() - c)
        spans.append((a, time.time()))
    return spans, cpu


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat. On a
    shared VM, the stolen share of a window says how much other tenants
    slowed it; runs report it so a spread can be traced to the host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return round(100.0 * (t1[0] - t0[0]) / max(1, t1[1] - t0[1]), 1)


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


class Run:
    """One benchmark run: owns the work directory under the checkout,
    the Spark session and the timing of the run's phases."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.t_start = time.time()
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.phases: dict[str, float] = {}
        self._last_mark = self.t_start
        self.spark = None
        self._gateway = None
        self.cache_root = os.path.join(root, "aurora_cdc_demo_spark", ".cache")
        self._cache_before = set(os.listdir(self.cache_root)) if os.path.isdir(self.cache_root) else set()

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, phase: str) -> None:
        """Close the current phase of the run; phases go to the notes."""
        now = time.time()
        self.phases[phase] = round(now - self._last_mark, 2)
        self._last_mark = now

    def start_spark(self):
        """local[nproc] session from the package's own factory. The
        package goes on PYTHONPATH so Python workers (the cdc_replay
        DataSource, Arrow UDFs) can import it; every scratch file of
        the JVM and of Python lands in the work directory."""
        tmp = self.path("tmp")
        local = self.path("local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ.setdefault("SPARK_DRIVER_MEM", "2g")  # a small JVM on a shared host
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        args = [
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={self.path('warehouse')}",
        ]
        if self.trace:
            os.makedirs(self.path("eventlog"))
            args += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{self.path('eventlog')}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        if self.root not in sys.path:
            sys.path.insert(0, self.root)
        import tempfile

        tempfile.tempdir = tmp
        from aurora_cdc_demo_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        self._gateway = self.spark.sparkContext._gateway
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark (which ends the JVM and its Python workers), drop
        the binlog caches this run added to the package directory, and
        the work directory."""
        self.stop_spark()
        if self._gateway is not None:
            gw, self._gateway = self._gateway, None
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        if os.path.isdir(self.cache_root):
            for name in set(os.listdir(self.cache_root)) - self._cache_before:
                shutil.rmtree(os.path.join(self.cache_root, name), ignore_errors=True)
            if not self._cache_before and not os.listdir(self.cache_root):
                os.rmdir(self.cache_root)
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def event_log_after_stop(self) -> "EventLog":
        """Stop Spark, which flushes and closes the event log, and
        parse it."""
        self.stop_spark()
        files = glob.glob(self.path("eventlog", "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log, found {files}")
        return EventLog(files[0])


# ---------------------------------------------------------------------------
# Spark event log (traced run)
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, tasks and SQL scan metrics from an uncompressed,
    non-rolling Spark event log, parsed with the stdlib. Times are
    epoch seconds, comparable with ``time.time()`` spans."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self._scan_accums: dict[int, str] = {}  # accumulator id -> scan location
        self._scan_bytes_accums: dict[int, str] = {}
        self._driver_accums: list[tuple[int, int, int]] = []  # (execution, id, value)
        self._exec_start: dict[int, float] = {}
        with open(path) as fh:
            for line in fh:
                self._feed(json.loads(line))

    def _feed(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.jobs[jid] = {
                "start": e["Submission Time"] / 1000,
                "end": None,
                "stages": list(e["Stage IDs"]),
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = jid
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "launch": info["Launch Time"] / 1000,
                    "finish": info["Finish Time"] / 1000,
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "rows_in": m.get("Input Metrics", {}).get("Records Read", 0),
                    "rows_out": m.get("Output Metrics", {}).get("Records Written", 0),
                    "bytes_out": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    "accums": [
                        (a["ID"], a.get("Update"))
                        for a in info.get("Accumulables", ())
                        if "Update" in a
                    ],
                }
            )
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            if "time" in e:
                self._exec_start[e["executionId"]] = e["time"] / 1000
            self._walk(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            x = e["executionId"]
            self._driver_accums.extend((x, a, v) for a, v in e["accumUpdates"])

    def _walk(self, node: dict) -> None:
        loc = node.get("metadata", {}).get("Location")
        if node["nodeName"].startswith("Scan parquet") and loc:
            for m in node["metrics"]:
                if m["name"] == "number of output rows":
                    self._scan_accums[m["accumulatorId"]] = loc
                elif m["name"] == "size of files read":
                    self._scan_bytes_accums[m["accumulatorId"]] = loc
        for c in node.get("children", ()):
            self._walk(c)

    # -- selections --------------------------------------------------

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        """Jobs submitted inside [t0, t1]."""
        return [j for j, d in self.jobs.items() if t0 <= d["start"] <= t1]

    def tasks_of(self, job_ids) -> list[dict]:
        jobs = set(job_ids)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def stages_of(self, job_ids) -> int:
        return sum(len(self.jobs[j]["stages"]) for j in job_ids)

    def job_busy_s(self, job_ids, t0: float, t1: float) -> float:
        """Length of the union of the jobs' [submit, end] intervals,
        clipped to [t0, t1]."""
        iv = sorted(
            (max(t0, self.jobs[j]["start"]), min(t1, self.jobs[j]["end"] or t1))
            for j in job_ids
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def scan_rows(self, tasks, location_path: str) -> int:
        """Rows produced by parquet scans of ``location_path`` in
        ``tasks`` (SQL metric 'number of output rows' of the scan
        node)."""
        ids = self._accums_for(self._scan_accums, location_path)
        return sum(int(v) for t in tasks for a, v in t["accums"] if a in ids)

    def scan_bytes(self, location_path: str, t0: float, t1: float) -> int:
        """'size of files read' of parquet scans of ``location_path`` by
        SQL executions started inside [t0, t1] (a driver-side metric,
        so it is attributed by execution, not by job)."""
        ids = self._accums_for(self._scan_bytes_accums, location_path)
        return sum(
            int(v)
            for x, a, v in self._driver_accums
            if a in ids and t0 <= self._exec_start.get(x, -1) <= t1
        )

    @staticmethod
    def _accums_for(table: dict, location_path: str) -> set:
        pat = re.compile(r"file:" + re.escape(location_path.rstrip("/")) + r"/?(?=[,\]])")
        return {a for a, loc in table.items() if pat.search(loc)}


def unit_metrics(ev: EventLog, windows: list[tuple[float, float]]) -> dict:
    """Spark-side work per unit of a workload (a micro-batch or a warm
    query pass), from the jobs submitted inside each unit's window.
    Job time is the union of the unit's job spans (execution); driver
    time is the rest of the unit's wall: planning, trigger bookkeeping
    and Python on the driver."""
    n = len(windows)
    per = [ev.jobs_in(a, b) for a, b in windows]
    jobs = [j for js in per for j in js]
    tasks = ev.tasks_of(jobs)
    wall = sum(b - a for a, b in windows)
    busy = sum(ev.job_busy_s(js, a, b) for js, (a, b) in zip(per, windows))
    return {
        "spark.jobs_per_unit": (len(jobs) / n, n),
        "spark.stages_per_unit": (ev.stages_of(jobs) / n, n),
        "spark.tasks_per_unit": (len(tasks) / n, n),
        "spark.driver_ms_per_unit": ((wall - busy) * 1000 / n, n),
        "spark.job_ms_per_unit": (busy * 1000 / n, n),
        "spark.executor_cpu_ms_per_unit": (sum(t["cpu_ms"] for t in tasks) / n, len(tasks)),
        "spark.shuffle_bytes_per_unit": (sum(t["shuffle_bytes"] for t in tasks) / n, n),
        "spark.rows_written_per_unit": (sum(t["rows_out"] for t in tasks) / n, n),
        "spark.bytes_written_per_unit": (sum(t["bytes_out"] for t in tasks) / n, n),
    }


def read_metrics(ev: EventLog, reads: list[tuple[float, float]], location: str) -> dict:
    """Bytes and rows the timed full reads scanned from ``location``."""
    n = len(reads)
    tasks = ev.tasks_of([j for a, b in reads for j in ev.jobs_in(a, b)])
    return {
        "tables.read_scan_bytes": (sum(ev.scan_bytes(location, a, b) for a, b in reads) / n, n),
        "tables.read_scan_rows": (ev.scan_rows(tasks, location) / n, n),
    }

