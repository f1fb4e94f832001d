"""Scale sweep: run registered queries at one or more scale points in
one session and record how their wall time grows.

    python tools/scale.py OUT.json SF_DIR [SF_DIR ...] [-q NAME ...]

Each query (default: every registered query, sorted) runs at each sf
dir, point by point, end to end through the ``noop`` sink, as bench.py
does. OUT.json gets, per point, the wall seconds of each query or the
first line of its error (``"ERROR: ..."``), the bytes the session's
JVM and Python workers read and wrote while it ran (``read_bytes``,
``written_bytes``: rchar and wchar of /proc/<pid>/io, taken with
perfbench/harness.tree_usage), and, per pair of
consecutive points, each query's log-log exponent
``log10(t_b / t_a) / log10(sf_b / sf_a)``, the sf being parsed from
the dir name (``.../sf0.1`` is 0.1). A query that failed at either
point, or a dir name without an sf, gets ``null``. OUT.json is
rewritten after every point, so a long sweep keeps what it measured.

The deployment settings set the session: ``SPARK_DRIVER_MEM=64g`` for
an sf10 corpus, ``SPARK_GRAFT_MASTER='local-cluster[2,16,4096]'`` for
real executor JVMs (serialized shuffle files, per-executor memory).
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from aurora_cdc_demo_spark.registry import QUERIES  # noqa: E402
from aurora_cdc_demo_spark.session import get_spark  # noqa: E402
from perfbench.harness import tree_usage  # noqa: E402


def parse_sf(sf_dir: str) -> float | None:
    try:
        return float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        return None


def run_query(spark, sf_dir: str, name: str) -> None:
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str, names: list[str]) -> None:
    """Run each query once at sf_dir, untimed; errors show when timed."""
    for name in names:
        try:
            run_query(spark, sf_dir, name)
        except Exception:  # noqa: BLE001
            pass


def run_point(spark, sf_dir: str, names: list[str]) -> dict:
    results: dict[str, float | str] = {}
    read: dict[str, int] = {}
    written: dict[str, int] = {}
    for name in names:
        _, r0, w0 = tree_usage()
        t0 = time.perf_counter()
        try:
            run_query(spark, sf_dir, name)
            results[name] = round(time.perf_counter() - t0, 3)
            print(f"OK   {sf_dir} {name} {results[name]}s", flush=True)
        except Exception as e:  # noqa: BLE001
            msg = str(e).strip().split("\n")[0][:200]
            results[name] = f"ERROR: {msg}"
            print(f"FAIL {sf_dir} {name}: {msg}", flush=True)
        _, r1, w1 = tree_usage()
        read[name], written[name] = r1 - r0, w1 - w0
    n_error = sum(isinstance(v, str) for v in results.values())
    return {
        "sf_dir": sf_dir,
        "sf": parse_sf(sf_dir),
        "n_ok": len(results) - n_error,
        "n_error": n_error,
        "results": results,
        "read_bytes": read,
        "written_bytes": written,
    }


def exponents(a: dict, b: dict) -> dict:
    """Log-log growth of each query's seconds from point a to point b."""
    out: dict[str, float | None] = {}
    for name, t_a in a["results"].items():
        t_b = b["results"][name]
        timed = isinstance(t_a, float) and isinstance(t_b, float) and min(t_a, t_b) > 0
        if timed and a["sf"] and b["sf"] and a["sf"] != b["sf"]:
            out[name] = round(math.log10(t_b / t_a) / math.log10(b["sf"] / a["sf"]), 3)
        else:
            out[name] = None
    return {"from": a["sf_dir"], "to": b["sf_dir"], "exponents": out}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", help="JSON file to write")
    ap.add_argument("sf_dirs", nargs="+", help="scale points, in order")
    ap.add_argument("-q", "--query", action="append", metavar="NAME",
                    help="query to run (repeatable; default: all)")
    args = ap.parse_args(argv)
    names = sorted(set(args.query or QUERIES))
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = get_spark("scale")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.sf_dirs[0], names)
    points: list[dict] = []
    for sf_dir in args.sf_dirs:
        points.append(run_point(spark, sf_dir, names))
        record = {
            "points": points,
            "pairs": [exponents(a, b) for a, b in zip(points, points[1:])],
        }
        Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps({p["sf_dir"]: [p["n_ok"], p["n_error"]] for p in points}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
