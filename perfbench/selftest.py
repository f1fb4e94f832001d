"""Self-test of the stream≡batch gate of cdc_upsert_large_state.

    python3 perfbench/selftest.py [--seed N]

Run from the root of a checkout. The same seeded change log is streamed
twice into ``ParquetStateStore`` through the parquet file source
(maxFilesPerTrigger=1), with every file staged before the stream starts:
once with file mtimes in log order, once with the batch files' mtimes
shuffled. The file source takes files in mtime order, so the shuffled
delivery applies batches out of order; the gate must pass the first and
fail the second. Exit code 0 means both happened. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import Run  # noqa: E402
from upsert import check_against_batch, drain, new_feeder, start_query  # noqa: E402

SNAPSHOT_KEYS = 5_000
BATCH_EVENTS = 500
BATCHES = 8


def stream_once(r: Run, name: str, order) -> tuple[bool, int]:
    applier, feeder, state_dir, _ = new_feeder(r, name, SNAPSHOT_KEYS, BATCH_EVENTS, BATCHES, order)
    for _ in range(BATCHES + 1):
        feeder.release()
    feeder.stop_at = 0.0  # everything is staged; the load thread has nothing to do
    query = start_query(r, applier, feeder.inbox)
    feeder.thread.start()
    try:
        drain(query, applier, feeder)
    finally:
        query.stop()
    files = [os.path.join(feeder.inbox, f) for f in feeder.released]
    return check_against_batch(r.spark, state_dir, files)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aurora_cdc_demo_spark", "__init__.py")):
        print("selftest: run from a checkout of the repository", file=sys.stderr)
        return 2
    rng = np.random.default_rng(args.seed)
    perm = rng.permutation(BATCHES)
    while (perm == np.arange(BATCHES)).all():
        perm = rng.permutation(BATCHES)
    shuffled = [0] + [1 + int(p) for p in perm]  # the snapshot stays first
    r = Run(root, "selftest", args.seed, 0, False)
    try:
        r.start_spark()
        in_order = stream_once(r, "in_order", None)
        out_of_order = stream_once(r, "shuffled", shuffled)
    finally:
        r.close()
    ok = in_order[0] and not out_of_order[0]
    print(
        json.dumps(
            {
                "gate_passes_in_order": in_order[0],
                "gate_fails_shuffled": not out_of_order[0],
                "state_rows": {"in_order": in_order[1], "shuffled": out_of_order[1]},
                "shuffled_mtime_order": shuffled,
                "ok": ok,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
