"""AQE-skew-join vs auto_salt_join adjudication (VERDICT r6 #8).

Spark 4's AQE skew-join splits oversized post-shuffle partitions of a
SortMergeJoin at runtime — overlapping what operators/scale.salted_join
does manually. This tool measures both on the q168 fixture shape (one
key holding ~90% of the big side) so SCALE.md can encode WHEN the
manifest-persisted salt decision still wins:

* AQE skew-join only applies to sort-merge joins: a broadcastable small
  side never skews (no shuffle of the big side), and a join that feeds
  a co-grouped / bucketed / streaming-foreachBatch path is outside
  AQE's reach — those remain salted_join territory.
* AQE decides per run from runtime stats; the sidecar decision is
  deterministic table metadata (same plan every run, no mid-query
  re-planning risk) and is free on repeat joins.

Variants measured (inner equi-join, skewed big x 100k-row dim, result
count forced):
  plain_noaqe   SMJ, AQE off                  (the hotspot baseline)
  plain_aqe     SMJ, AQE + skewJoin on        (Spark's answer)
  salted        salted_join, AQE off          (the manual answer)
  salted_aqe    salted_join under AQE         (interaction check)

Usage: python tools/bench_salt.py [rows] [out.json]
Prints one JSON line and (optionally) writes it to out.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else None

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bacon_spark.operators.scale import salted_join
    from bacon_spark.session import conf_override

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bacon-salt-vs-aqe")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        # force the SMJ regime AQE skew-join targets: no broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_dim = 100_000
    # q168 shape: ~90% of big-side rows land on key 7
    big = spark.range(rows).select(
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.col("id") % n_dim)
        .cast("long")
        .alias("k"),
        (F.col("id") % 1000).alias("x"),
    )
    dim = spark.range(n_dim).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("c")
    )

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 2)

    def set_aqe(on: bool) -> None:
        spark.conf.set("spark.sql.adaptive.enabled", str(on).lower())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(on).lower())

    results = {}
    # warm the scan/codegen once
    big.join(dim.limit(1), "k").count()

    set_aqe(False)
    results["plain_noaqe"] = timed(lambda: big.join(dim, "k").count())
    set_aqe(True)
    results["plain_aqe"] = timed(lambda: big.join(dim, "k").count())
    # tuned AQE: drop the skew thresholds so the splitter definitely
    # engages on this partition size (defaults: 256 MB / factor 5)
    with conf_override(spark, {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    }):
        results["plain_aqe_tuned"] = timed(lambda: big.join(dim, "k").count())
    set_aqe(False)
    results["salted"] = timed(lambda: salted_join(big, dim, "k", 16).count())
    set_aqe(True)
    results["salted_aqe"] = timed(lambda: salted_join(big, dim, "k", 16).count())

    line = {
        "fixture": "q168-shape skew join (90% of rows on one key)",
        "rows_big": rows,
        "rows_dim": n_dim,
        "cpus": int(cpus),
        "seconds": results,
    }
    print(json.dumps(line, separators=(",", ":")), flush=True)
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(line, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
