"""Interleaved A/B of the repository benchmark: a base git ref against
this checkout.

    python tools/ab_perfbench.py --base REF --workload {nav,ops} \
        --pairs N --seed S [--scratch DIR] [--out PATH]

The base tree is extracted with ``git archive REF`` into a temporary
directory (under ``--scratch`` if given, removed at the end); the change
tree is the checkout this tool lives in, uncommitted edits included. Pair
*i* runs ``python3 perfbench/run.py --workload W --seed S+i --seconds X
--trace 0`` (X: ``run_seconds`` in ``BENCHMARK.json``) once in each tree,
one after the other, the base first in even pairs and the change first in
odd ones, so drift of a shared machine falls on both
sides alike. Each run's last stdout line is its JSON result.

For every end-to-end metric in ``BENCHMARK.json`` the report gives both
medians, the base's IQR / median, how many pairs the change won (by the
metric's ``better`` direction), and whether the claim rule of
``perfbench/README.md`` holds: the change wins at least nine in ten pairs
and the medians differ by more than the base's own IQR. The report is
one JSON object on stdout (and in ``--out``); a table goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(ref: str, dest: str) -> str:
    """Write the tree of *ref* to *dest* and return its commit id."""
    commit = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--verify", f"{ref}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", commit], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {commit} failed")
    return commit


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in *tree*: its JSON result plus wall."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t = time.monotonic()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    wall = time.monotonic() - t
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"no JSON result from {tree} (exit {proc.returncode})")
    result["wall_s"] = round(wall, 1)
    return result


def quartiles(xs: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def summarize(metric: dict, pairs: list[dict]) -> dict:
    """Medians, base spread, wins and the claim rule for one metric."""
    name, lower = metric["name"], metric["better"] == "lower"
    base = [p["base"]["metrics"][name]["value"] for p in pairs]
    change = [p["change"]["metrics"][name]["value"] for p in pairs]
    wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
    b_med, c_med = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    better = (c_med < b_med) if lower else (c_med > b_med)
    return {
        "unit": metric["unit"],
        "better": metric["better"],
        "base_median": b_med,
        "change_median": c_med,
        "change_over_base": c_med / b_med if b_med else None,
        "base_quartiles": [q1, q3],
        "change_quartiles": list(quartiles(change)),
        "base_iqr": q3 - q1,
        "base_iqr_over_median": (q3 - q1) / b_med if b_med else None,
        "change_wins": wins,
        "pairs": len(pairs),
        "claim_holds": (
            len(pairs) >= 10
            and wins >= math.ceil(0.9 * len(pairs))
            and better
            and abs(c_med - b_med) > q3 - q1
        ),
        "base": base,
        "change": change,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git ref of the base tree")
    ap.add_argument("--workload", required=True, choices=("nav", "ops"))
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True, help="pair i runs seed S+i")
    ap.add_argument("--scratch", default=None, help="directory for the base tree")
    ap.add_argument("--out", default=None, help="also write the report here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    scratch = tempfile.mkdtemp(prefix="ab_perfbench_", dir=args.scratch)
    base_tree = os.path.join(scratch, "base")
    try:
        commit = extract(args.base, base_tree)
        trees = {"base": base_tree, "change": ROOT}
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(trees[side], args.workload, seed, seconds)
            pairs.append(pair)
            print(
                f"pair {i + 1}/{args.pairs} seed={seed} first={order[0]} "
                f"base {pair['base']['wall_s']}s change {pair['change']['wall_s']}s",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    report = {
        "workload": args.workload,
        "base_ref": args.base,
        "base_commit": commit,
        "seeds": [p["seed"] for p in pairs],
        "seconds": seconds,
        "failed": {
            side: sum(p[side]["failed"] for p in pairs) for side in ("base", "change")
        },
        "attempted": {
            side: sum(p[side]["attempted"] for p in pairs) for side in ("base", "change")
        },
        "metrics": {m["name"]: summarize(m, pairs) for m in bench["end_to_end"]},
        "runs": [
            {"seed": p["seed"], "first": p["first"],
             "base_wall_s": p["base"]["wall_s"], "change_wall_s": p["change"]["wall_s"]}
            for p in pairs
        ],
    }
    for name, s in report["metrics"].items():
        print(
            f"{name:16s} base {s['base_median']:10.3f}  change {s['change_median']:10.3f}  "
            f"base IQR/med {s['base_iqr_over_median']:.3f}  wins {s['change_wins']}/{s['pairs']}  "
            f"claim {'holds' if s['claim_holds'] else 'no'}",
            file=sys.stderr,
        )
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
