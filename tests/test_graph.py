"""PageRank invariants (float iteration → rows-only; pytest pins the
mathematical properties instead of a cross-engine hash)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from mapreduceinfrastructure_spark.operators.dedup import (
    HOT_SHINGLE_DF_CAP,
    connected_components,
    neardup_pairs,
    ppjoin_pairs_raw,
)
from mapreduceinfrastructure_spark.operators.graph import (
    copurchase_edges,
    copurchase_weighted,
    pagerank_nations,
    star_contraction,
    trade_edges,
)
from mapreduceinfrastructure_spark.operators.text_analysis import _docs_tokens
from tests.conftest import jobs_in_group

QUERIES = entrymod.queries()


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

    n = 200
    fwd = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    edges = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = connected_components(edges).collect()
    assert len(labels) == n
    assert {r["label"] for r in labels} == {0}  # one component, min label


@pytest.mark.parametrize(
    "cc", [connected_components, star_contraction], ids=lambda f: f.__name__
)
def test_connected_components_releases_round_checkpoints(spark, cc):
    """Each round's state is a localCheckpoint whose blocks
    ``unpersist()`` cannot free; the shared round loop releases the
    previous round's blocks itself, so after a multi-round run
    (propagation's pre-jump and jumping rounds both) only the returned
    labels stay in block storage."""
    import time

    from pyspark.sql import functions as F

    def stored() -> set[int]:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    before = stored()
    n = 40
    fwd = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    edges = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = cc(edges)
    assert {r["label"] for r in labels.collect()} == {0}
    # releases are asynchronous: wait for them to land
    deadline = time.time() + 10
    while len(stored() - before) > 1 and time.time() < deadline:
        time.sleep(0.2)
    kept = stored() - before
    # the labels are a projection of the checkpointed round state, so
    # look through it to the LogicalRDD leaf
    leaf = labels._jdf.queryExecution().analyzed().collectLeaves().head()
    assert kept == {leaf.rdd().id()}


def _path_edges(spark, n):
    """Symmetric edges of the path 0 - 1 - ... - n-1."""
    from pyspark.sql import functions as F

    fwd = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    return fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))


def test_connected_components_raises_when_rounds_run_out(spark):
    """A 40-node path needs far more than two rounds: returning its
    unconverged labels (38 distinct for one component) would be a
    silent wrong answer, so exhausting max_rounds must raise."""
    with pytest.raises(RuntimeError, match="max_rounds=2"):
        connected_components(_path_edges(spark, 40), max_rounds=2).collect()


def test_connected_components_job_cadence(spark, sf_dir):
    """Each propagation round is one exchange and one eager checkpoint
    carrying the convergence probe, so it costs at most two jobs (the
    AQE map stage and the checkpoint): a path of k + 1 nodes (k <= 2,
    before pointer jumping) needs k rounds after the build, the last
    one confirming the fixpoint.  dedup_clusters and cc_star (the same
    near-dup graph, star contraction on the same round loop) each run
    in at most 12 jobs on the test corpus, the final collect included."""
    from mapreduceinfrastructure_spark.operators.dedup import dedup_clusters
    from mapreduceinfrastructure_spark.operators.graph import cc_star

    build_jobs = 2  # one exchange: the AQE map stage + the checkpoint
    for k in (1, 2):
        edges = _path_edges(spark, k + 1)
        _, n_jobs = jobs_in_group(
            spark, f"test-cc-cadence-{k}", lambda: connected_components(edges)
        )
        assert n_jobs <= build_jobs + 2 * k, (k, n_jobs)

    for query in (dedup_clusters, cc_star):
        rows, n_jobs = jobs_in_group(
            spark, f"test-cc-{query.__name__}",
            lambda: query(spark, sf_dir).collect(),
        )
        assert rows
        assert n_jobs <= 12, (query.__name__, n_jobs)


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


def _diameter_pairs(spark, sf_dir):
    return neardup_pairs(spark, sf_dir, threshold=0.5, df_cap=HOT_SHINGLE_DF_CAP)


# The seven frame-state loops on the shared round driver: each one's
# warm job cap on the test corpus (the count before the driver in the
# comment, then the count before the stored shingle-list index where
# that index removed jobs) and the input builder whose retained blocks
# it may keep.
LOOPS = {
    "pagerank_nations": (30, trade_edges),  # 67
    "pagerank_docs": (18, ppjoin_pairs_raw),  # 26, 20
    "sssp_parts": (17, copurchase_weighted),  # 23
    "kcore_peel": (20, copurchase_edges),  # 44
    "label_prop_iterate": (31, trade_edges),  # 39
    "cluster_diameter": (26, _diameter_pairs),  # 31, 30
    "bpe_merges": (62, _docs_tokens),  # 63
}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_job_cadence(spark, sf_dir, name):
    """Each loop round is one eager checkpoint with its probes observed
    on it, so a loop's warm job count follows its rounds; the caps pin
    the counts on the round driver."""
    query = QUERIES[name]
    query(spark, sf_dir).collect()  # warm: schemas, memos, codegen
    rows, n_jobs = jobs_in_group(
        spark, f"test-loop-{name}", lambda: query(spark, sf_dir).collect()
    )
    assert rows
    assert n_jobs <= LOOPS[name][0], (name, n_jobs)


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_releases_what_it_does_not_return(spark, sf_dir, name):
    """A loop keeps no blocks beyond the checkpointed frames its result
    reads (none for the trajectory loops, whose result is built on the
    driver) and what its input builder keeps when called alone: every
    round's predecessor, and each input the loop materializes itself,
    is released explicitly, not left to GC."""
    before = _persisted(spark)
    LOOPS[name][1](spark, sf_dir).collect()
    builder_kept = len(_persisted(spark) - before)

    before = _persisted(spark)
    out = QUERIES[name](spark, sf_dir)
    out.collect()
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    read = {
        leaf.rdd().id()
        for leaf in map(leaves.apply, range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }
    kept = _persisted(spark) - before - read
    assert len(kept) <= builder_kept, (name, kept, builder_kept)
