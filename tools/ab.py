"""Revision A/B over the repository's benchmark (perfbench/run.py).

    python3 tools/ab.py --workload cdc_upsert_large_state \
        [--base HEAD] [--change WORKTREE] [--pairs 10] [--seed 1] \
        [--trace 0|1] [--workdir DIR] [--out runs.json]

Each revision is exported into its own temporary directory: a git
revision with ``git archive``, ``WORKTREE`` as the working tree's
tracked and untracked, non-ignored files. No git state is touched (no
worktree, no checkout, no index write). Then ``--pairs`` pairs of runs
are made, one run at a time, pair i with seed ``--seed + i``, each run
as long as BENCHMARK.json's ``run_seconds``; the order alternates (base
first in even pairs, change first in odd ones), so a drift in host load
does not favour one side.

For every metric named in BENCHMARK.json (the end-to-end ones, or the
per-layer ones with ``--trace 1``) it prints each side's median and
quartiles, the change's wins and ties over the pairs, and whether a
claim of gain holds: at least ten pairs, the change wins at least 9 in
10 of them, and its median is better than the base's by more than the
base's interquartile range. A pair with a failed run (not correct, a
failed operation, or no result) is left out of the statistics, and
while any run failed no claim holds. Every run's result line is kept in
``--out``.
"""

from __future__ import annotations

import argparse
import io
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
WORKTREE = "WORKTREE"
# shown per run with --trace 1 (the end-to-end metrics are shown otherwise)
TRACE_PROGRESS = ("cpu.ms_per_unit", "streaming.apply_batch_ms_p50")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), interpolated between samples."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def compare(base: list[float], change: list[float], better: str) -> dict:
    """Pairwise comparison of one metric; ``base[i]`` and ``change[i]``
    come from the same pair (same seed)."""
    if len(base) != len(change) or not base:
        raise ValueError("need one value per side for each pair")
    sign = 1 if better == "lower" else -1
    gains = [sign * (b - c) for b, c in zip(base, change)]
    bq, cq = quartiles(base), quartiles(change)
    wins = sum(g > 0 for g in gains)
    gap = sign * (bq[1] - cq[1])
    return {
        "base": bq,
        "change": cq,
        "wins": wins,
        "ties": sum(g == 0 for g in gains),
        "pairs": len(gains),
        "claim": len(gains) >= 10 and wins * 10 >= 9 * len(gains)
        and gap > bq[2] - bq[0],
    }


def passed(run: dict) -> bool:
    return bool(run["correct"]) and not run["failed"] and bool(run["metrics"])


def summarize(runs: dict, metrics: list) -> tuple[list, int]:
    """``compare`` for each metric over the pairs whose two runs both
    passed; and how many pairs were left out. No claim holds while any
    run failed."""
    kept = [(b, c) for b, c in zip(runs["base"], runs["change"])
            if passed(b) and passed(c)]
    left_out = len(runs["base"]) - len(kept)
    rows = []
    for m in metrics if kept else []:
        side = [[r["metrics"][m["name"]]["value"] for r in rs] for rs in zip(*kept)]
        c = compare(side[0], side[1], m["better"])
        c["claim"] = c["claim"] and not left_out
        rows.append((m["name"], c))
    return rows, left_out


def export(rev: str, dest: Path) -> None:
    """Write revision ``rev`` of the repository into ``dest``."""
    dest.mkdir(parents=True)
    if rev == WORKTREE:
        names = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=REPO, check=True, capture_output=True,
        ).stdout.decode().split("\0")
        for name in filter(None, names):
            src = REPO / name
            if src.is_file():  # a tracked file deleted in the tree is left out
                (dest / name).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dest / name)
        return
    tar = subprocess.run(
        ["git", "archive", "--format=tar", rev],
        cwd=REPO, check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")


def run_once(command: list, checkout: Path, workload: str, seed: int,
             seconds: int, trace: int) -> dict:
    """One benchmark run; its JSON result line, or a failed record."""
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(command + args, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        if proc.returncode != 0:
            raise ValueError(f"exit {proc.returncode}")
        return json.loads(lines[-1])
    except (ValueError, IndexError) as exc:
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"correct": False, "attempted": 0, "failed": 1, "metrics": {},
                "error": f"{exc}: {' | '.join(tail)}"}


def main(argv=None) -> int:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--change", default=WORKTREE)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="where to export the revisions (default: a temp dir)")
    ap.add_argument("--out", help="write every run's result here (JSON)")
    args = ap.parse_args(argv)

    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    work = Path(tempfile.mkdtemp(prefix="ab_", dir=args.workdir))
    runs = {"base": [], "change": []}
    try:
        sides = {"base": work / "base", "change": work / "change"}
        export(args.base, sides["base"])
        export(args.change, sides["change"])
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                res = run_once(spec["command"], sides[side], args.workload,
                               seed, spec["run_seconds"], args.trace)
                res["seed"], res["first"] = seed, order[0]
                runs[side].append(res)
                names = TRACE_PROGRESS if args.trace else [m["name"] for m in metrics]
                shown = {n: res["metrics"].get(n, {}).get("value") for n in names}
                print(f"pair {i} seed {seed} {side}: correct={res['correct']} "
                      f"failed={res['failed']} {json.dumps(shown)}"
                      + (f" error={res['error']}" if "error" in res else ""), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if args.out:
            Path(args.out).write_text(json.dumps({"args": vars(args), "runs": runs}, indent=1))

    rows, left_out = summarize(runs, metrics)
    print(f"\n{args.workload}: {args.base} vs {args.change}, {args.pairs} pairs, "
          f"every run correct with 0 failed: {not left_out}")
    if left_out:
        print(f"{left_out} pair(s) with a failed run left out of the statistics; "
              f"no claim holds")
    print(f"{'metric':40} {'base q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'wins':>5} {'ties':>5} claim")

    def fmt(q):
        return "/".join(f"{v:.4g}" for v in q)

    for name, c in rows:
        print(f"{name:40} {fmt(c['base']):>28} {fmt(c['change']):>28} "
              f"{c['wins']:>5} {c['ties']:>5} {'yes' if c['claim'] else 'no'}")
    return 1 if left_out else 0


if __name__ == "__main__":
    sys.exit(main())
