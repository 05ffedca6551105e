"""``ops``: a fixed, named list of gate queries over ``operators/``,
``llm/``, ``streaming/`` and ``gate/``.

Each query is built (``fn(spark, dir)``, the "first" operation: plan
construction, and for streaming queries the stream run itself) and then
executed with ``count()`` (the "follow" operation). Between queries the
run drops temp views, calls ``release_caches()`` and ``clearCache()``, as
``bench.py`` does; that clean-up is not timed. ``prepare`` hooks run in
set-up. The list never touches the CuttingBoard caches or the renderers.
"""

from __future__ import annotations

import contextlib
import os
import sys

from . import common

#: (gate module, query): every gate module, and the queries the roadmap
#: names that fit one run's time (README.md lists the ones left out)
OPS = (
    ("core", "q39_cube_lattice"),
    ("streaming", "q54_incremental_maintenance"),
    ("streaming", "q85_streaming_session"),
    ("llm", "q109_winnow_overlap_pairs"),
    ("llm", "q131_bloom_prefilter_decontam"),
    ("llm", "q148_corpus_novelty"),
    ("textprep", "q23_text_quality"),
    ("temporal", "q59_asof_join"),
    ("warehouse", "q76_table_profile"),
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _warmup(spark, data_dir: str) -> None:
    """JVM and codegen warm-up on shapes outside the list: a scan, a
    join, an aggregate and a window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{data_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{data_dir}/orders.parquet")
    j = li.join(od, li.l_orderkey == od.o_orderkey)
    j.groupBy("o_orderpriority").agg(F.sum("l_quantity"), F.count("*")).collect()
    w = Window.partitionBy("l_returnflag").orderBy("l_shipdate")
    li.select(F.row_number().over(w).alias("r")).agg(F.max("r")).collect()


def _setup(spark, data_dir: str, state_dir: str) -> None:
    """One set-up: warm-up plus every ``prepare`` hook, into a fresh
    library state dir (so each repeat builds its artifacts again)."""
    from bacon_spark.queries import QUERIES

    os.environ["SPARK_GRAFT_STATE_DIR"] = state_dir
    _warmup(spark, data_dir)
    for _mod, name in OPS:
        prep = getattr(QUERIES[name], "prepare", None)
        if prep is not None:
            prep(spark, data_dir)
    _cleanup(spark)


def _cleanup(spark) -> None:
    from bacon_spark import release_caches

    for tbl in spark.catalog.listTables():
        if tbl.isTemporary:
            spark.catalog.dropTempView(tbl.name)
    release_caches()
    spark.catalog.clearCache()


def _one(spark, fn, data_dir, tracer=None):
    """Build and execute one query: (build s, execute s, frame)."""
    span = tracer.span if tracer is not None else (lambda _name: contextlib.nullcontext())
    t = common.now()
    with span("build"):
        df = fn(spark, data_dir)
    tb = common.now() - t
    t = common.now()
    with span("execute"):
        df.count()
    te = common.now() - t
    return tb, te, df


def _timed(spark, fn, data_dir, tracer, k, mod):
    """One timed query. Traced runs execute it twice, traced and untraced
    in alternating order, and report the traced timings (the frame of
    the second run, whose temp views are still registered, is returned
    for the output check)."""
    if tracer is None:
        return _one(spark, fn, data_dir)
    runs = {}
    order = (True, False) if k % 2 == 0 else (False, True)
    for n, traced in enumerate(order):
        if n:
            _cleanup(spark)
        tracer.enabled = traced
        with tracer.request("query", unit=k, module=mod):
            runs[traced] = _one(spark, fn, data_dir, tracer)
    tb, te, _ = runs[True]
    return tb, te, runs[order[-1]][2]


def run(spark, data_dir, sf, seed, seconds, tracer=None, max_requests=None):
    """One pass over the list. The list is sized so that a pass takes
    about the benchmark's ``run_seconds``; a fixed pass keeps every run's
    work identical, where a time budget would cut passes at varying
    points."""
    from bacon_spark.queries import QUERIES

    state0 = os.environ.get("SPARK_GRAFT_STATE_DIR", "")
    setups = []
    for i in range(common.SETUP_REPEATS):
        t = common.now()
        _setup(spark, data_dir, f"{state0}-{i}")
        setups.append(common.now() - t)
    first_ms, follow_ms, results, errors = [], [], {}, []
    for k, (mod, name) in enumerate(OPS[:max_requests] if max_requests else OPS):
        try:
            tb, te, df = _timed(spark, QUERIES[name], data_dir, tracer, k, mod)
            first_ms.append(tb * 1000.0)
            follow_ms.append(te * 1000.0)
            print(f"perfbench: ops {name} build={tb:.3f}s execute={te:.3f}s", file=sys.stderr)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:
            errors.append(f"ops {name}: {type(e).__name__}: {e}")
        finally:
            _cleanup(spark)
    return {
        "attempted": len(first_ms) + len(errors),
        "errors": errors,
        "setups": setups,
        "timed_s": (sum(first_ms) + sum(follow_ms)) / 1000.0,
        "first_ms": first_ms,
        "follow_ms": follow_ms,
        "results": results,
    }


def check_result(spark, con, data_dir, res, outcome) -> None:
    """Each query's first-pass rows against its DuckDB oracle, with the
    row normalisation of ``tools/check_oracle.py``."""
    from bacon_spark.queries import ORACLES
    from tools.check_oracle import norm_rows

    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for _mod, name in OPS:
        if name not in res["results"]:
            continue  # already counted as failed
        cols, rows = res["results"][name]
        try:
            cur = con.execute(ORACLES[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            outcome.fail(f"ops {name}: oracle error {e}")
            continue
        if sorted(cols) != sorted(dcols):
            outcome.fail(f"ops {name}: columns {sorted(cols)} != {sorted(dcols)}")
        elif norm_rows(cols, rows) != norm_rows(dcols, drows):
            outcome.fail(f"ops {name}: rows differ from the oracle ({len(rows)} vs {len(drows)})")
