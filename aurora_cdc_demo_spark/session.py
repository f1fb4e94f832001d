"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same declarative plans scale to a
multi-executor cluster because nothing here hand-schedules work — we
only set planner knobs (AQE, shuffle partitions, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    return spark


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
