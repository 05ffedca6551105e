"""Fast tests of the benchmark itself, on sf0.001 inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common, nav, ops, run  # noqa: E402

SF = 0.001


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    work = common.Workdir(str(tmp_path_factory.mktemp("perfbench")))
    work.enter()
    spark = common.start_session(work)
    yield spark, work
    common.stop_session(spark)
    work.remove()


def _run(bench, workload, seed=5, trace=0, max_ops=3):
    spark, work = bench
    return run.run_workload(
        spark, work, workload, seed, 1.0, trace, session_s=1.0, sf=SF, max_ops=max_ops
    )


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_every_end_to_end_metric_is_emitted_with_its_unit(bench, workload):
    outcome, metrics, _ = _run(bench, workload)
    line = run.result_line(outcome, metrics, trace=0)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert {k: v["unit"] for k, v in line["metrics"].items()} == dict(common.END_TO_END)
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_every_per_layer_metric_is_emitted_in_a_traced_run(bench):
    from perfbench.trace import PER_LAYER

    outcome, metrics, _ = _run(bench, "nav", trace=1, max_ops=40)
    line = run.result_line(outcome, metrics, trace=1)
    assert line["failed"] == 0
    assert {k: v["unit"] for k, v in line["metrics"].items()} == dict(PER_LAYER)
    m = {k: v["value"] for k, v in line["metrics"].items()}
    assert m["builders.url.unparse_calls"] > 0 and m["observers.rows_rendered"] > 0
    assert m["engine.local_hit_base"] == sum(
        m[f"engine.route.{r}"] for r in ("local_warm_exact", "local_warm_derived", "local_cold", "spark")
    ) + m["engine.route.lattice"]


def _nav_with_a_refresh(bench):
    """A nav run long enough to absorb one delta and revisit two views."""
    return _run(bench, "nav", max_ops=sum(len(slot[3]) + 1 for slot in nav.SLOTS) + 2)


def test_a_wrong_nav_answer_counts_as_failed(bench):
    _outcome, _m, res = _nav_with_a_refresh(bench)
    assert res["deltas"] and res["log"][-1][4] == 1
    bad = dict(res, log=copy.deepcopy(res["log"]))
    for entry in (bad["log"][0], bad["log"][-1]):
        totals = entry[3]["totals"]
        v = next(iter(totals))
        totals[v] = (totals[v] or 0) + 1
    spark, work = bench
    out = common.Outcome()
    import duckdb

    nav.check_result(spark, duckdb.connect(), work.data_dir(5, SF), bad, out)
    assert out.failed == 2


def test_a_wrong_refreshed_answer_counts_as_failed(bench):
    _outcome, _m, res = _nav_with_a_refresh(bench)
    view, rows = res["finals"][0]
    row = rows[0]
    bad = dict(res, finals=[(view, [tuple(row[:2]) + (row[2] + 1,) + tuple(row[3:])] + rows[1:])]
               + res["finals"][1:])
    spark, work = bench
    out = common.Outcome()
    import duckdb

    nav.check_result(spark, duckdb.connect(), work.data_dir(5, SF), bad, out)
    assert out.failed == 1


def test_a_wrong_ops_answer_counts_as_failed(bench):
    _outcome, _m, res = _run(bench, "ops", max_ops=1)
    name = ops.OPS[0][1]
    cols, rows = res["results"][name]
    bad = dict(res, results={name: (cols, rows[1:])})
    spark, work = bench
    out = common.Outcome()
    import duckdb

    ops.check_result(spark, duckdb.connect(), work.data_dir(5, SF), bad, out)
    assert out.failed == 1


def test_same_seed_sends_identical_requests(bench):
    runs = [_run(bench, "nav", seed=s, max_ops=30)[2]["log"] for s in (9, 9, 10)]
    reqs = [[entry[2] for entry in log] for log in runs]
    assert reqs[0] == reqs[1]
    assert reqs[0] != reqs[2]
