"""Bit-identity pins for functions.batchmath (r18): every numpy kernel
must replay its JVM fold ORDER-EXACTLY — raw-double equality, no
tolerance — because the operators that now route through mapInPandas
(PQ training assignment, IVF nearest, the exact/ADC search legs) bank
oracle hashes computed from the fold results.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapreduceinfrastructure_spark.functions import batchmath as bm
from mapreduceinfrastructure_spark.functions.vector import (
    dot_expr,
    lit_double_array,
)
from mapreduceinfrastructure_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(1804)
    n, dim = 60, sim.EMBED_DIM
    V = rng.uniform(-1, 1, size=(n, dim)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, v array<double>",
    )
    return df, V


def test_pq_codes_bit_identical(corpus):
    df, V = corpus
    flat = [float(x) for x in V[: sim.PQ_K].ravel()]
    jvm = (
        df.select(
            "vec_id",
            sim._pq_code_arr(lit_double_array(flat), sim.PQ_K).alias("cs"),
        )
        .orderBy("vec_id")
        .collect()
    )
    J = np.array([r["cs"] for r in jvm], dtype=np.int32)
    N = bm.pq_codes(V, flat, sim.PQ_K, sim.PQ_SUB, sim.PQ_SUBDIM)
    assert np.array_equal(J, N)


def test_subspace_d2_bit_identical(corpus):
    df, V = corpus
    flat = [float(x) for x in V[: sim.PQ_K].ravel()]
    acc = bm.subspace_d2(V, flat, sim.PQ_K, sim.PQ_SUB, sim.PQ_SUBDIM)
    for c in (0, sim.PQ_K - 1):
        cols = [
            sim._pq_d2(F.col("v"), lit_double_array(flat), s, c).alias(f"d{s}")
            for s in range(sim.PQ_SUB)
        ]
        jvm = df.select("vec_id", *cols).orderBy("vec_id").collect()
        J = np.array([[r[f"d{s}"] for s in range(sim.PQ_SUB)] for r in jvm])
        assert np.array_equal(J, acc[:, :, c])


def test_full_d2_bit_identical(corpus):
    df, V = corpus
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d2c = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    jvm = {
        (r["qid"], r["vec_id"]): r["d2"]
        for r in df.crossJoin(F.broadcast(q))
        .select("qid", "vec_id", d2c.alias("d2"))
        .collect()
    }
    N = bm.full_d2(V, V[:5])
    for qi in range(5):
        for vi in range(V.shape[0]):
            assert jvm[(qi, vi)] == N[vi, qi]


def test_dot_fold_bit_identical(corpus):
    df, V = corpus
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    jvm = {
        (r["qid"], r["vec_id"]): r["dot"]
        for r in df.crossJoin(F.broadcast(q))
        .select("qid", "vec_id", dot_expr(F.col("qv"), F.col("v")).alias("dot"))
        .collect()
    }
    acc = np.zeros((V.shape[0], 3), dtype=np.float64)
    for j in range(sim.EMBED_DIM):
        acc += V[:, j][:, None] * V[:3, j][None, :]
    for qi in range(3):
        for vi in range(V.shape[0]):
            assert jvm[(qi, vi)] == acc[vi, qi]


def test_train_partials_reproduce_per_cell_membership(corpus, spark):
    """The partial-sum pass must assign exactly the same rows to each
    (code, pos) cell as the JVM posexplode + group-by it replaced:
    counts integer-equal, sums equal up to reassociation (checked at
    1 ulp-scale tolerance), and the assignment itself bit-identical
    (covered by test_pq_codes_bit_identical)."""
    df, V = corpus
    flat = [float(x) for x in V[: sim.PQ_K].ravel()]
    part = (
        df.select("v")
        .mapInPandas(
            bm.pq_train_partials_fn(flat, sim.PQ_K, sim.PQ_SUB, sim.PQ_SUBDIM),
            schema="code int, pos int, s double, c long",
        )
        .groupBy("code", "pos")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .collect()
    )
    codes = bm.pq_codes(V, flat, sim.PQ_K, sim.PQ_SUB, sim.PQ_SUBDIM)
    got = {(r["code"], r["pos"]): (r["s"], r["c"]) for r in part}
    for (code, pos), (s, c) in got.items():
        members = V[codes[:, pos // sim.PQ_SUBDIM] == code, pos]
        assert c == len(members)
        assert s == pytest.approx(members.sum(), rel=1e-12)
    # every non-empty cell present
    n_cells = sum(
        sim.PQ_SUBDIM
        for sp in range(sim.PQ_SUB)
        for code in np.unique(codes[:, sp])
    )
    assert len(got) == n_cells


def test_exact_topk_partials_superset_of_global_topk(corpus, spark):
    """Per-batch top-k candidates must contain the global (d2,
    neighbor_id) top-k for every query, with bit-identical d2."""
    df, V = corpus
    qids = list(range(4))
    fn = bm.exact_topk_partials_fn(qids, V[:4], topk=3)
    out = (
        df.repartition(5)
        .mapInPandas(fn, schema="qid long, neighbor_id long, d2 double")
        .collect()
    )
    cand = {(r["qid"], r["neighbor_id"]): r["d2"] for r in out}
    D = bm.full_d2(V, V[:4])
    for qi in qids:
        order = sorted(
            (D[vi, qi], vi) for vi in range(V.shape[0]) if vi != qi
        )[:3]
        for d2, vi in order:
            assert cand[(qi, vi)] == d2


def test_pq_codes_cache_keys_on_codebook_content(spark, sf_dir, corpus):
    """_PQ_CODES_CACHE keys on the codebook's float64 bytes: codebooks
    differing in one value get separate entries, even where Python's
    hash() of the values collides (hash(-1.0) == hash(-2.0))."""
    df, _ = corpus
    n_codes = 4
    flat_a = [0.5] * (n_codes * sim.EMBED_DIM)
    flat_a[0] = -1.0
    flat_b = list(flat_a)
    flat_b[0] = -2.0
    assert hash(tuple(flat_a)) == hash(tuple(flat_b))

    def codes(flat):
        return sim._codes_frame(
            spark, sf_dir, df, flat, n_codes, ("vec_id",), "v", "cache-key-test"
        )

    before = set(sim._PQ_CODES_CACHE)
    try:
        fa, fb = codes(flat_a), codes(flat_b)
        assert fa is not fb
        assert len(set(sim._PQ_CODES_CACHE) - before) == 2
        assert codes(flat_a) is fa  # a bit-identical codebook hits
    finally:
        for k in set(sim._PQ_CODES_CACHE) - before:
            del sim._PQ_CODES_CACHE[k]


def test_cosine_topk_zero_norm_row():
    """Pins the kernel on a zero-norm corpus row (outside the module's
    finite, non-zero-norm precondition): its sim is 0/0 = NaN, and
    np.lexsort orders NaN after every number, so the row never enters
    a batch's top-k while more than topk candidates remain; a batch
    with <= topk candidates emits every row unsorted, NaN included."""
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(5, dtype=np.int64),
            "v": [
                np.array([1.0, 0.0, 0.0]),  # the query itself
                np.array([0.0, 0.0, 0.0]),  # zero norm
                np.array([1.0, 1.0, 0.0]),
                np.array([-1.0, 0.0, 0.0]),
                np.array([0.0, 1.0, 0.0]),
            ],
        }
    )

    def top(k):
        fn = bm.cosine_topk_partials_fn([0], [[1.0, 0.0, 0.0]], k)
        with np.errstate(invalid="ignore"):
            (out,) = fn(iter([pdf]))
        return out

    assert top(2)["neighbor_id"].tolist() == [2, 4]
    assert top(3)["neighbor_id"].tolist() == [2, 4, 3]
    everything = top(4)
    assert everything["neighbor_id"].tolist() == [1, 2, 3, 4]
    assert np.isnan(everything["sim"].iloc[0])
