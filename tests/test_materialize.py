"""The lineage-truncation seam (operators/materialize.py): every
bounded-round iterative operator must produce IDENTICAL results under

* the executor-local default (lazy ``localCheckpoint``, cut folded into
  the first consuming job), and
* the durable parquet round-trip (the preemptible-cluster seam the
  reference's resume contract demands — IndexIT.java:107-135).

The recurrences are integer fixed-point, so "identical" is exact row
equality, not tolerance."""

from __future__ import annotations

import pytest

from webindex_spark.operators.components import connected_components
from webindex_spark.operators.hits import hits
from webindex_spark.operators.kcore import hop_distances, kcore_peel
from webindex_spark.operators.materialize import Materializer
from webindex_spark.operators.pagerank import pagerank

# a graph with a cycle, a dangling sink, a hub, and two components
EDGES = (
    [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    + [(f"leaf{i}", "hub") for i in range(5)]
    + [("q1", "q2"), ("q2", "q3")]
)


def _backends(tmp_path):
    return {
        "local_lazy": "local_lazy",
        "parquet": f"parquet:{tmp_path}/snaps",
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "op",
    ["pagerank", "hits", "kcore", "bfs", "components"],
)
def test_backends_agree_exactly(spark, tmp_path, op):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    seeds = spark.createDataFrame([("a",), ("q1",)], ["id"])

    def run(mat):
        if op == "pagerank":
            return pagerank(df, iterations=4, materialize=mat)
        if op == "hits":
            return hits(df, iterations=3, materialize=mat)
        if op == "kcore":
            return kcore_peel(df, k=2, rounds=4, materialize=mat)
        if op == "bfs":
            return hop_distances(df, seeds, rounds=5, materialize=mat)
        return connected_components(df, materialize=mat)

    want = None
    for name, mat in _backends(tmp_path).items():
        got = _rows(run(mat))
        if want is None:
            want = got
        assert got == want, f"{op}: backend {name} diverged"
        assert len(got) > 0


def test_parquet_backend_leaves_inspectable_snapshots(spark, tmp_path):
    snaps = f"{tmp_path}/pr_snaps"
    out = pagerank(
        spark.createDataFrame(EDGES, ["src", "dst"]),
        iterations=3,
        materialize=f"parquet:{snaps}",
    )
    assert out.count() > 0
    import os

    dirs = sorted(os.listdir(snaps))
    # static nodes + adj + one per iteration = 5 snapshots
    assert len(dirs) == 5
    # every snapshot is a readable parquet dataset (the resume surface)
    for d in dirs:
        assert spark.read.parquet(f"{snaps}/{d}").count() > 0


def test_materializer_of_coercions(tmp_path):
    m = Materializer()
    assert Materializer.of(m) is m
    assert Materializer.of(None).mode == "local_lazy"
    p = Materializer.of(f"parquet:{tmp_path}/x")
    assert p.mode == "parquet" and p.path == f"{tmp_path}/x"
    with pytest.raises(ValueError):
        Materializer("local")  # only local_lazy and parquet exist
    with pytest.raises(ValueError):
        Materializer("parquet")  # needs a path
    with pytest.raises(TypeError):
        Materializer.of(42)


def test_release_frees_cuts_and_pins(spark):
    """release() (the context-manager exit) unpersists every local
    checkpoint and persist the owner made, used or not."""
    import pyspark.sql.functions as F

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    df = spark.range(50).groupBy((F.col("id") % 5).alias("k")).count()
    with Materializer() as mat:
        cut = mat.cut(df)
        pinned = mat.pin(df.where("k > 1"))
        mat.cut(df.where("k > 2"))  # never consumed
        assert cut.join(pinned, "k").count() == 3
        assert set(sc._jsc.getPersistentRDDs().keys()) - before
    assert not set(sc._jsc.getPersistentRDDs().keys()) - before


def test_kcore_run_to_fixpoint(spark):
    # K5 + tail: rounds=None must reach the true 3-core and say so
    k5 = [(f"k{i}", f"k{j}") for i in range(5) for j in range(i + 1, 5)]
    edges = k5 + [("k0", "t1"), ("t1", "t2"), ("t2", "t3")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r for r in kcore_peel(df, k=3, rounds=None).collect()}
    assert all(got[f"k{i}"]["in_core"] for i in range(5))
    assert not any(got[t]["in_core"] for t in ("t1", "t2", "t3"))
    assert all(r["converged"] for r in got.values())

    # a long path with k=2 dissolves end-in, one layer per round: the
    # fixpoint mode must keep peeling past any small fixed bound
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(14)]
    pdf = spark.createDataFrame(path, ["src", "dst"])
    done = kcore_peel(pdf, k=2, rounds=None).collect()
    assert not any(r["in_core"] for r in done)
    assert all(r["converged"] for r in done)


def test_bfs_run_to_fixpoint(spark):
    # 9-node path, seed at one end, rounds=None reaches the far end
    path = [(f"n{i}", f"n{i + 1}") for i in range(8)]
    df = spark.createDataFrame(path, ["src", "dst"])
    seeds = spark.createDataFrame([("n0",)], ["id"])
    got = {r["id"]: r["dist"] for r in
           hop_distances(df, seeds, rounds=None).collect()}
    assert got == {f"n{i}": i for i in range(9)}
