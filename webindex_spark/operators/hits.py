"""HITS (hubs & authorities) over the crawl's link graph — integer
fixed-point, bit-exact deterministic, oracle-replayable.

Kleinberg's HITS is THE classic web-index centrality pair: a page is a
good *hub* if it links to good *authorities* and vice versa.  Like
operators/pagerank.py, all arithmetic is int64 fixed-point so two runs
(and two engines) agree to the last unit:

    a_raw(v) = Σ h(u)           over edges u→v
    a(v)     = a_raw(v) div max(1, (Σ a_raw) div scale)     (L1 norm)
    h_raw(u) = Σ a(v)           over edges u→v
    h(u)     = h_raw(u) div max(1, (Σ h_raw) div scale)

The normalizer divides by the GRANULE ``total div scale`` instead of
multiplying by ``scale`` first — the multiply-then-divide form
overflows int64 once ``a_raw`` carries degree mass; the granule form
loses ≤ 1 part in ``scale`` of precision, identically in both engines
(determinism, not ulp fidelity, is what the oracle certifies).

Scale posture: mirrors pagerank — the static edge list is partitioned
and materialized once; each half-step is one linear shuffle of the
rank table plus ONE scalar aggregate (the L1 total, same class as the
dangling-mass probe); iteration lineage is truncated per round.  At a
10^10-node graph the int64 headroom bound is ``scale · Σoutdeg`` —
callers drop ``scale`` accordingly (the docstring math, not a hidden
constraint).

Reference parity: the reference exposes inbound counts per URI
(UriInfo) but no spectral centrality; this is the crawl-analytics lane
companion to `pagerank`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webindex_spark.operators.materialize import Materializer


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    scale: int = 10**9,
    materialize: str | Materializer = "local_lazy",
) -> DataFrame:
    """Fixed-point HITS over a directed edge list.

    Returns ``(id, hub, auth)`` for every node, int64 fixed-point
    scores L1-normalized to ~``scale`` per vector per iteration (0 for
    roles a node never plays).  Multi-edges count once per occurrence —
    pass a distinct list for simple-graph semantics.

    ``materialize`` selects the lineage-truncation backend
    (operators/materialize.py): executor-local for single-app runs,
    ``"parquet:<dir>"`` for the durable preemptible-cluster seam.
    """
    mat = Materializer.of(materialize)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # pinned static edge list (persist keeps the repartition's layout —
    # a checkpoint would report UnknownPartitioning and re-shuffle the
    # edges every half step; materialize.Materializer.pin): a_raw joins
    # it exchange-free on src; h_raw joins on dst and pays the one
    # remaining edge shuffle per iteration (a second dst-partitioned
    # pin was measured slower — cache pressure beat the saved exchange)
    adj = mat.pin(e.repartition("src"))
    adj_d = adj
    srcs = adj.select(F.col("src").alias("id")).distinct()
    n_src = srcs.count()
    h = mat.cut(
        srcs.select(
            "id", F.lit(scale // max(n_src, 1)).cast("long").alias("h")
        ),
    )

    # per iteration: each half-step's raw vector feeds BOTH its L1
    # granule aggregate and the normalized vector, so it is cut through
    # the materializer (lazy localCheckpoint by default: computed once
    # at the caller's first action, cached, lineage truncated) — a
    # plain persist() released before return was silently recomputed
    # 2-3x per iteration under the lazy backend because no job ever ran
    # inside the loop to fill it.  The L1 granules are 1-row aggregates
    # CROSS-JOINED back (Spark broadcasts them) instead of driver
    # .first() scalars — no driver round-trips, no extra job scheduling
    # (measured: the 24-job collect form spent its time on job
    # overhead, not data).
    gran = f"greatest(CAST(1 AS BIGINT), coalesce(sum(raw), 0) div {scale}) AS g"
    a = None
    for _ in range(iterations):
        a_raw = mat.cut(
            adj.join(h, adj.src == h.id)
            .select(F.col("dst").alias("id"), F.col("h").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("raw"))
        )
        a = a_raw.crossJoin(F.broadcast(a_raw.agg(F.expr(gran)))).select(
            "id", F.expr("raw div g").cast("long").alias("a")
        )
        h_raw = mat.cut(
            adj_d.join(a, adj_d.dst == a.id)
            .select(F.col("src").alias("id"), F.col("a").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("raw"))
        )
        h = mat.cut(
            h_raw.crossJoin(F.broadcast(h_raw.agg(F.expr(gran))))
            .select("id", F.expr("raw div g").cast("long").alias("h"))
        )

    # h covers every node with out-edges, a every node with in-edges;
    # their full outer join is exactly srcs ∪ dsts — the node set —
    # without recomputing the edge derivation for a separate distinct
    # (the old nodes.join(h).join(a) re-ran the upstream scan + join)
    return h.join(a, "id", "full_outer").select(
        "id",
        F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub"),
        F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth"),
    )
