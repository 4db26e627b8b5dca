"""Capture the PER-ITERATION physical plans of the iterative graph
operators.

The materializer hides the loop from ``df.explain()``: every
``localCheckpoint`` replaces the plan with an ``ExistingRDD`` scan, so
the end-of-query plan of pagerank/hits/bfs/kcore/components shows only
the final checkpoint scan (see plans/r07/pagerank_before.txt).  This
tool swaps in a pass-through materializer (no cuts, no persists) so the
whole recurrence stays one logical plan, then writes
``plans/<tag>/<op>_step_<suffix>.txt`` — the evidence for per-iteration
exchange/join-strategy claims.

Usage: python tools/plan_steps.py [--out plans/r07] [--suffix after]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webindex_spark.operators.materialize import Materializer  # noqa: E402


class PassThroughMat(Materializer):
    """Plan-inspection materializer: every cut/pin is the identity, so
    the full iteration lineage stays visible to explain()."""

    def cut(self, df):
        return df

    def pin(self, df):
        return df


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="plans/r07")
    ap.add_argument("--suffix", default="after")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    from webindex_spark.session import get_spark

    spark = get_spark("plan-steps", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    import pyspark.sql.functions as F

    edges = spark.range(1000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89 + 100).alias("dst")
    )
    seeds = spark.range(5).select(F.col("id").alias("id"))

    from webindex_spark.operators import components, hits, kcore, pagerank

    plans = {}
    plans["pagerank_step"] = pagerank.pagerank(
        edges, iterations=1, materialize=PassThroughMat()
    )
    plans["hits_step"] = hits.hits(
        edges, iterations=1, materialize=PassThroughMat()
    )
    plans["components_round"] = components._small_star(
        components._large_star(edges)
    )
    plans["kcore_round"] = kcore.kcore_peel(
        edges, k=2, rounds=1, materialize=PassThroughMat()
    )
    plans["bfs_round"] = kcore.hop_distances(
        edges, seeds, rounds=1, materialize=PassThroughMat()
    )

    for name, df in plans.items():
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(fmt(df))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
