"""Benchmark entry point.

    python3 perfbench/run.py --workload {nav,ops} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It generates the inputs from the seed
under ``.perfbench_work/``, runs the workload for about S seconds of timed
operations, checks every answer against DuckDB (outside the timed
region), and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run is traced and
the metrics are the per-layer ones (README.md lists both).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common, datagen, nav, ops  # noqa: E402

WORKLOADS = {"nav": nav, "ops": ops}
#: scale factor of each workload's generated inputs (sf0.05: 300k lineitem
#: and 75k orders rows; the operator list runs at sf0.001)
SCALE = {"nav": 0.05, "ops": 0.001}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_workload(spark, work, workload, seed, seconds, trace, session_s, sf=None, max_ops=None):
    """Run one workload in an open session; returns (outcome, metrics,
    raw result). *sf* and *max_ops* shrink a run for the tests."""
    sf = sf or SCALE[workload]
    data_dir = datagen.write_tables(seed, sf, work.data_dir(seed, sf))
    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    mod = WORKLOADS[workload]
    outcome = common.Outcome()
    res = mod.run(spark, data_dir, sf, seed, seconds, tracer=tracer, max_requests=max_ops)
    outcome.attempted = res["attempted"]
    for e in res.get("errors", []):
        outcome.fail(e)
    import duckdb

    t = common.now()
    con = duckdb.connect()
    con.execute("SET threads=2")
    mod.check_result(spark, con, data_dir, res, outcome)
    con.close()
    check_s = common.now() - t
    if tracer is not None:
        tracer.uninstall()
        metrics = tracer.metrics(res)
        tracer.write(os.path.join(work.root, "traces", f"{workload}-seed{seed}.json"))
        print(tracer.report(metrics), file=sys.stderr)
    else:
        setup_s = session_s + statistics.median(res["setups"])
        metrics = common.end_to_end(
            setup_s, res.get("requests", res["attempted"]), res["timed_s"],
            res["first_ms"], res["follow_ms"],
        )
    print(
        f"perfbench: {workload} seed={seed} session={session_s:.2f}s setups="
        + ",".join(f"{x:.2f}" for x in res["setups"])
        + f" timed={res['timed_s']:.2f}s check={check_s:.2f}s"
        + f" ops={outcome.attempted} failed={outcome.failed}"
        + f" first[{_quantiles(res['first_ms'])}] follow[{_quantiles(res['follow_ms'])}]",
        file=sys.stderr,
    )
    return outcome, metrics, res


def _quantiles(ms: list[float]) -> str:
    """Sample count, median and the highest of p90/p99 with at least ten
    samples beyond it, for the human-readable summary."""
    out = f"n={len(ms)} p50={statistics.median(ms):.1f}ms"
    for p in (99, 90):
        if len(ms) * (100 - p) >= 1000:
            q = statistics.quantiles(ms, n=100, method="inclusive")[p - 1]
            return out + f" p{p}={q:.1f}ms"
    return out


def result_line(outcome, metrics, trace) -> dict:
    """The JSON result: every metric of the run's kind, with its unit."""
    units = dict(common.END_TO_END)
    if trace:
        from perfbench.trace import PER_LAYER

        units = dict(PER_LAYER)
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # the JVM and py4j may write to fd 1; keep it on stderr until the
    # result line so that line stays the last one on stdout
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    import bacon_spark  # noqa: F401  (fail before starting a JVM)

    work = common.Workdir(os.getcwd())
    work.enter()
    spark = None
    try:
        t = common.now()
        spark = common.start_session(work)
        session_s = common.now() - t
        outcome, metrics, _ = run_workload(
            spark, work, args.workload, args.seed, args.seconds, args.trace, session_s
        )
    finally:
        if spark is not None:
            common.stop_session(spark)
        work.remove()
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    line = result_line(outcome, metrics, args.trace)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
