"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same declarative plans scale to a
multi-executor cluster because nothing here hand-schedules work — we
only set planner knobs (AQE, shuffle partitions, Arrow) and how
shuffle blocks are written (once, zstd-compressed).

On a local master the session's Python processes (UDF and read-task
workers, the data source planners) import the installed pyspark the
driver imported, not ``$SPARK_HOME/python/lib/pyspark.zip``: see
``use_installed_pyspark``.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
from pathlib import PurePath

import pyspark
from pyspark.sql import SparkSession

# Starts a Spark Python process with the entries Spark itself puts on
# PYTHONPATH (first placeholder: its pyspark.zip, py4j zip and
# spark-core jar) dropped, every other entry kept in order, then execs
# the interpreter in the second placeholder.
_LAUNCHER = """#!/bin/sh
set -f
kept=
IFS=:
for p in $PYTHONPATH; do
  case $p in
    %s) ;;
    *) kept=${kept:+$kept:}$p ;;
  esac
done
unset IFS
PYTHONPATH=$kept
export PYTHONPATH
exec %s "$@"
"""

_FIND_PYSPARK = "import importlib.util as u; print(u.find_spec('pyspark').origin)"


def get_spark(app_name: str = "aurora-cdc-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER is the master URL deployment setting, e.g.
    # local-cluster[2,16,4096] for real executor JVMs (serialized
    # shuffle files, per-executor memory) that local[N]'s single-JVM
    # fast paths hide.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        # Write each shuffle map output once. Under the default
        # threshold (200) a 32-way exchange takes the bypass-merge
        # writer: one temp file per reducer, then a copy of them all
        # into the final data file, so the map side writes its output
        # twice. At 0 every SQL exchange takes the serialized writer,
        # which renames its one spill into place. Measured on 4 cores,
        # a 32-way exchange of 300k longs: 3.11 MB written by the JVM
        # for 1.55 MB of shuffle output (2.0x), then 1.56 MB (1.0x).
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        # Shuffle, broadcast and spill blocks in zstd, not lz4: the
        # same exchange's output 1.55 -> 0.39 MB. Session-internal
        # blocks only; the state-store checkpoint codec is its own
        # conf (spark.sql.streaming.stateStore.compression.codec).
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet carries naive (isAdjustedToUTC=false)
        # timestamps; read them as LTZ instants (pre-3.4 behavior) so
        # unix_micros/window functions apply and, with the UTC session
        # tz, values equal DuckDB's naive reading bit-for-bit.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # static conf: keep stdout clean (bench's one-line JSON
        # contract; progress bars interleave carriage returns)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    use_installed_pyspark(spark)
    return spark


def zip_free_workers(
    master: str,
    jvm_version: str,
    driver_version: str,
    driver_pyspark: str,
    worker_pyspark: str | None,
) -> bool:
    """Whether the session's Python processes may start through the
    zip-free launcher: they run on this host (a local master), the
    driver's pyspark is an unzipped install of the JVM's version, and
    the launcher's interpreter imports that same ``pyspark/__init__.py``
    (``worker_pyspark``; None when it could not be asked)."""
    return (
        master.startswith("local")
        and driver_version == jvm_version
        and not any(part.endswith(".zip") for part in PurePath(driver_pyspark).parts)
        and worker_pyspark == driver_pyspark
    )


def use_installed_pyspark(spark: SparkSession) -> None:
    """Point ``sc.pythonExec`` at a launcher that keeps Spark's own
    entries off the PYTHONPATH of the session's Python processes.

    Spark puts its pyspark.zip, py4j zip and spark-core jar first on
    that PYTHONPATH, and pyspark/worker_util.py calls
    ``importlib.invalidate_caches()`` at the start of every task and
    planner call. On Python 3.11 that makes each cached zipimporter
    re-read its archive's central directory. Measured on a 4-core host
    (median of 20 one-row UDF tasks in a reused worker): 2.56 MB of
    reads and ~280 ms of CPU per task with those entries, ~5 KB and
    ~16 ms without them, the processes then importing the installed
    pyspark from its cached .pyc files.

    The launcher execs a user-set ``PYSPARK_PYTHON`` as is, else the
    driver's own interpreter. It is asked once which pyspark it
    imports with Spark's entries on PYTHONPATH, and
    ``zip_free_workers`` decides; otherwise Spark's default stays. Data
    source registrations and UDFs copy ``pythonExec`` when they are
    built, so setting it after ``getOrCreate()`` covers every one built
    on this session."""
    sc = spark.sparkContext
    launcher = os.path.join(sc._temp_dir, "python")
    spark_path = sc._jvm.PythonUtils.sparkPythonPath()
    if sc.pythonExec == launcher or not spark_path:
        return
    python = os.environ.get("PYSPARK_PYTHON") or sys.executable
    dropped = "|".join(shlex.quote(p) for p in spark_path.split(os.pathsep))
    with open(launcher, "w") as fh:
        fh.write(_LAUNCHER % (dropped, shlex.quote(python)))
    os.chmod(launcher, 0o755)
    user_path = os.environ.get("PYTHONPATH")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, (spark_path, user_path))))
    try:
        found = subprocess.run(
            [launcher, "-c", _FIND_PYSPARK],
            env=env, capture_output=True, text=True, timeout=60, check=True,
        )
        worker_pyspark = os.path.realpath(found.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        worker_pyspark = None
    if zip_free_workers(
        sc.master,
        spark.version,
        pyspark.__version__,
        os.path.realpath(pyspark.__file__),
        worker_pyspark,
    ):
        sc.pythonExec = launcher


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone so date functions agree with the
    DuckDB oracle (which treats parquet timestamps as naive/UTC).

    Safe to call on a driver-provided session: it is a runtime conf.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # NTZ parquet columns (timestamp[us], isAdjustedToUTC=false) must
    # read as LTZ: the operators use unix_micros/time windows, which
    # require TIMESTAMP, and UTC session tz keeps values identical to
    # the oracle's naive reading.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark


def duck_memory_limit_gb() -> int:
    """DuckDB memory cap for the oracle side, derived from
    MemAvailable at CONNECT time.

    A static 24GB cap still failed a full oracle run with
    'Failed to allocate block of 16384 bytes (bad allocation)' — an
    OS-level bad_alloc, not DuckDB's own limit firing: with the
    Spark JVM co-resident the host can have LESS free memory than
    the static cap, so DuckDB asks the OS for memory that is not
    there before its own eviction/spill machinery ever engages. Cap
    at half of what the OS reports available right now (floor 2GB so
    tiny-SF oracles still run, ceiling 24GB to keep the heavy
    inlined oracles spilling deterministically), so the buffer
    manager spills to temp_directory instead of malloc-failing."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return max(2, min(24, avail_gb // 2))
    except OSError:
        pass
    return 8
