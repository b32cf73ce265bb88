"""PageRank invariants (float iteration → rows-only; pytest pins the
mathematical properties instead of a cross-engine hash)."""

from __future__ import annotations

from mapreduceinfrastructure_spark.operators.graph import pagerank_nations, trade_edges


def test_trade_graph_shape(spark, sf_dir):
    edges = trade_edges(spark, sf_dir).collect()
    assert len(edges) > 25  # dense-ish 25-node digraph
    assert all(r["w"] > 0 for r in edges)


def test_pagerank_invariants(spark, sf_dir):
    rows = pagerank_nations(spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-3  # probability mass conserved
    assert all(r["rank"] > 0 for r in rows)
    # asymmetric trade weights must differentiate the ranks
    assert len({r["rank"] for r in rows}) > 5


def test_pagerank_deterministic(spark, sf_dir):
    a = {(r["node"], r["rank"]) for r in pagerank_nations(spark, sf_dir).collect()}
    b = {(r["node"], r["rank"]) for r in pagerank_nations(spark, sf_dir).collect()}
    assert a == b


def test_connected_components_deep_chain(spark):
    """A 200-node path graph (diameter 199) must fully converge within
    the 20-round bound — only possible via the pointer-jumping path
    (plain propagation moves the min label one hop per round)."""
    from pyspark.sql import functions as F

    from mapreduceinfrastructure_spark.operators.dedup import connected_components

    n = 200
    fwd = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    edges = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = connected_components(edges).collect()
    assert len(labels) == n
    assert {r["label"] for r in labels} == {0}  # one component, min label


def test_connected_components_releases_round_checkpoints(spark):
    """Each round's labels are a localCheckpoint whose blocks
    ``unpersist()`` cannot free; the loop releases the previous round's
    blocks itself, so after a multi-round run (pre-jump and jumping
    rounds both) only the returned labels stay in block storage."""
    import time

    from pyspark.sql import functions as F

    from mapreduceinfrastructure_spark.operators.dedup import connected_components

    def stored() -> set[int]:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    before = stored()
    n = 40
    fwd = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    edges = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = connected_components(edges)
    assert {r["label"] for r in labels.collect()} == {0}
    # releases are asynchronous: wait for them to land
    deadline = time.time() + 10
    while len(stored() - before) > 1 and time.time() < deadline:
        time.sleep(0.2)
    kept = stored() - before
    assert kept == {labels._jdf.queryExecution().analyzed().rdd().id()}


def test_triangle_degree_orientation_same_result(spark, sf_dir):
    """triangle_count now defaults to degree-ordered orientation (the
    100 TB refinement); prove it enumerates the same triangle set as
    the textbook id-ordered form — per-node counts must be identical."""
    from pyspark.sql import functions as F

    from mapreduceinfrastructure_spark.operators.graph import (
        trade_edges,
        triangle_count,
    )

    got = {
        (r["node"], r["n_triangles"])
        for r in triangle_count(spark, sf_dir).collect()
    }

    # id-ordered reference: edges canonicalized u < v, each triangle
    # x < y < z enumerated once by wedge(x->y->z) |><| edge(x, z)
    te = trade_edges(spark, sf_dir)
    und = (
        te.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    ab = und.select(F.col("u").alias("x"), F.col("v").alias("y"))
    bc = und.select(F.col("u").alias("y"), F.col("v").alias("z"))
    ac = und.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    want = {
        (r["node"], r["n_triangles"])
        for r in tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .collect()
    }
    assert got == want
