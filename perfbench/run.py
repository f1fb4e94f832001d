"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Every input is
generated from ``--seed`` inside ``.perfbench_work/`` and removed at
exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named
in BENCHMARK.json. The line before it (``# samples ...``) gives each
metric's sample count and the run's own notes. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_upsert_large_state", "analytics_mix")


def metric_units() -> tuple[dict, dict]:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aurora_cdc_demo_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository (no aurora_cdc_demo_spark/ here)", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_units()

    from harness import Run

    if args.workload == "cdc_upsert_large_state":
        import upsert as workload
    else:
        import mix as workload

    r = Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        out = workload.run(r)
    finally:
        r.close()
    r.mark("close")

    if args.trace:
        layers = out["layers"]
        # the demoted metrics, and the end-to-end metrics measured with
        # the event log on: the tracing overhead against untraced runs
        counts = out["samples"]
        layers.update({k: (v, counts.get(k, 1)) for k, v in out["demoted"].items()})
        layers.update({f"trace.{k}": (v, counts.get(k, 1)) for k, v in out["e2e"].items()})
        unknown = set(layers) - set(layer_units)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload does not exercise did no work: 0, n=0
        values = {k: layers.get(k, (0, 0)) for k in layer_units}
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, (v, _) in values.items()}
        samples = {k: n for k, (_, n) in values.items()}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in e2e_units.items()}
        samples = out["samples"]
    notes = {**out["notes"], "demoted": out["demoted"], "phase_s": r.phases}
    print("# samples " + json.dumps({"samples": samples, "notes": notes}))
    print(
        json.dumps(
            {
                "correct": bool(out["correct"]),
                "attempted": int(out["attempted"]),
                "failed": int(out["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
