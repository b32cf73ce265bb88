"""Similarity search over the ``embeddings`` table (array<float> column).

North-star operators (BASELINE.json): brute-force cosine top-k as the
correctness baseline, LSH-bucketed ANN as the scale path, and
threshold-based embedding near-dup pairs.

Scale notes (100 TB design point):
- ``cosine_topk`` broadcasts the (small) query set and streams the
  corpus once — O(corpus × queries) flops, no corpus self-shuffle.
  All vector math is JVM higher-order functions in double precision.
- ``ann_lsh`` buckets vectors by random-hyperplane signatures (8
  tables × adaptive bits, 1-bit query multiprobe), then searches only
  within matching buckets: each table prunes candidates ~2^bits×, and
  bits grows with log2(corpus) so occupancy stays bounded.  The
  hyperplanes are deterministic (seeded PRNG literals) so results are
  reproducible across runs/sessions.
- ``embedding_neardup`` is the all-pairs exact variant — correct at
  small SF, superseded by ann_lsh buckets at scale (same verify math).
"""

from __future__ import annotations

import hashlib
import math
import os
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.vector import cosine_similarity_expr, lit_double_array
from ..sources.tables import fan_out, load_table

EMBED_DIM = 64
N_TABLES = 8
# Bucket width is ADAPTIVE: bits = max(floor, ceil(log2(n / target)))
# so expected bucket occupancy stays ~TARGET_OCCUPANCY as the corpus
# grows (hyperplane sign bits split mass roughly in half each) — the
# fixed-4-bit form had unbounded occupancy at 100 TB.  The floor keeps
# bits = 4 for every corpus up to 8192 vectors, which covers all test
# SFs (500 / 500 / 2000 rows), so small-SF bucket ids — and therefore
# driver hashes and the measured recall floors — are unchanged.
BITS_FLOOR = 4
TARGET_OCCUPANCY = 512
BITS_PER_TABLE = BITS_FLOOR  # compat alias: the width at test SFs
TOPK = 5
N_QUERIES = 50

# ann_lsh plane POOL (VERDICT r10 #4 — removes the oracle regime
# cliff): table t owns the fixed stride-POOL_BPT block
# [t*POOL_BPT, (t+1)*POOL_BPT) of one seed-42 pool and uses its first
# bpt planes, so the (table, bit) -> plane mapping no longer depends
# on the adaptive bpt.  The DuckDB oracle embeds the SAME pool
# (one generator, lsh_plane_pool) and computes bpt from count(*) in
# SQL, staying bit-exact for every corpus up to
# ORACLE_MAX_VECTORS = TARGET_OCCUPANCY * 2**POOL_BPT (~33.5M vectors
# — far past any driver SF).  Beyond that, ann_lsh falls back to a
# wider stride and the oracle must be regenerated (pinned in
# tests/test_round11_ops.py).
POOL_BPT = 16
ORACLE_MAX_VECTORS = TARGET_OCCUPANCY * 2**POOL_BPT


def lsh_plane_pool(stride: int = POOL_BPT) -> list[list[float]]:
    """THE shared plane generator for ann_lsh and its oracle: row-major
    seed-42 pool of N_TABLES * stride planes; table t's bit k is plane
    t*stride + k."""
    return _hyperplanes(N_TABLES * stride)


def _bits_per_table(n_vectors: int) -> int:
    """Bucket width for a corpus of ``n_vectors`` (see module note)."""
    if n_vectors <= 0:
        return BITS_FLOOR
    return max(
        BITS_FLOOR, math.ceil(math.log2(max(1.0, n_vectors / TARGET_OCCUPANCY)))
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 50 query vectors.

    r18 (guide §4.2): one mapInPandas corpus pass — numpy replays the
    cosine_similarity_expr folds order-exactly (sequential over dims;
    bit-identical sims) and emits per-batch top-TOPK candidates per
    query under (sim DESC, neighbor_id), which is exact for the global
    top-k; the final window ranks the bounded survivors.  The former
    plan evaluated three interpreted 64-term folds per
    |corpus| x |q| pair under a broadcast NLJ before an equally wide
    window.  Ties broken by neighbor id for determinism.
    """
    from ..functions import batchmath as bm
    from ..session import ensure_package_on_executors

    emb = _embeddings(spark, sf_dir)
    cq = _collect_queries(emb, sf_dir)
    if cq is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, cosine double, rn long"
        )
    qids, qvecs = cq
    ensure_package_on_executors(spark)
    part = emb.select("vec_id", "v").mapInPandas(
        bm.cosine_topk_partials_fn(qids, qvecs, TOPK),
        schema="qid long, neighbor_id long, sim double",
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id", F.round("sim", 6).alias("cosine"), "rn")
    )


def _hyperplanes(n_planes: int) -> list[list[float]]:
    """Deterministic random hyperplanes (seed 42) as plain literals —
    shipped to executors inside the plan, no closure capture.  The
    generator fills row-major, so the first 32 planes are identical for
    every ``n_planes`` ≥ 32 (wider corpora extend, never reshuffle)."""
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, EMBED_DIM)).tolist()


def _bit_exprs(planes):
    """One sign-bit expression per hyperplane over column ``v`` —
    JVM higher-order fold, whole-stage codegen."""
    def bit(plane):
        return F.when(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    lit_double_array(plane),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))

    return [bit(p) for p in planes]


def _bucket_expr(bits, t, bpt):
    """Integer bucket id of table ``t``: its ``bpt`` owned bits packed."""
    idx = range(t * bpt, (t + 1) * bpt)
    return sum((bits[i] * (2 ** j) for j, i in enumerate(idx)), start=F.lit(0))


def _bucket_ids_flat(n_tables: int, bpt: int):
    """Array expression of all ``n_tables`` bucket ids over column
    ``v`` — the same sign-bit math as :func:`_bit_exprs` +
    :func:`_bucket_expr` (identical fold order, so identical IEEE
    sums and identical buckets), but built from ONE flattened plane
    literal and HOF-indexed dot products instead of n_tables*bpt
    separate 64-literal fold expressions.  The expression tree is
    O(1) in the signature width, where the unrolled form made the
    driver's analysis/codegen the bottleneck past ~64 planes
    (measured: the 128-plane strict operator spent ~15 s/plan in
    compile with unrolled folds, ~1 s flat) — per-row compute is the
    same dot products either way.
    """
    planes = _hyperplanes(n_tables * bpt)
    # ONE parsed expression for the whole literal: even list-form
    # F.lit marshals ~0.6 ms/element over the gateway (the r12->r13
    # pq_adc_topk bench regression — scratch/pq_adc_ab.py), so the
    # pool literal goes through lit_double_array's repr+parse path
    flat = lit_double_array(x for row in planes for x in row)

    def dot(b):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(F.col("v"), j + 1)
            * F.element_at(flat, b * EMBED_DIM + j + 1),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(0), F.lit(bpt - 1)),
            F.lit(0).cast("long"),
            lambda acc, k: acc
            + F.when(
                dot(t * bpt + k) > 0, F.pow(F.lit(2.0), k).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def _bucket_ids_matmul(n_tables: int, bpt: int):
    """Arrow-batched twin of :func:`_bucket_ids_flat`: the SAME planes
    and sign convention (dot > 0 → bit k of table t set, plane index
    t·bpt + k, weight 2^k), computed as ONE numpy matmul per Arrow
    batch instead of n_tables·bpt interpreted HOF folds per row.

    Why this is the right 100 TB shape (VERDICT r7 #4): a dense
    projection is a matrix product — (batch × dim) @ (dim × planes) —
    and Catalyst's higher-order functions evaluate it one element_at
    at a time: measured at sf0.1, the 128-plane key stage alone cost
    6.5–9 s (~2.4 MFLOP/s effective) while this matmul computes the
    identical 16M multiply-adds in milliseconds and the stage drops to
    Arrow transfer cost.  This is exactly the "UDFs are the slow path
    EXCEPT vectorized kernels" boundary: per-row Python is banned in
    this repo, but a BLAS-shaped batch kernel beats JVM expression
    interpretation by orders of magnitude, which is why production
    vector pipelines run projections in Arrow/numpy.

    Equivalence: bit flips vs the sequential-fold JVM form require a
    dot within float-summation error of 0 (~1e-13 relative); on
    N(0,1) data the smallest |dot| across the corpus is ~1e-5, so the
    bucket ids are identical in practice — pinned by
    tests/test_round8_ops.py::test_matmul_bucket_ids_match_hof on the
    real test corpus, and harmless even if one ever flipped (buckets
    only generate candidates; the verify stage is exact cosine).
    """
    from pyspark.sql.functions import pandas_udf

    from ..functions import batchmath as bm

    planes = np.asarray(_hyperplanes(n_tables * bpt), dtype=np.float64)
    weights = 1 << np.arange(bpt, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def bucket_ids(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = bm._stack(v)  # (batch, dim)
        bits = (m @ planes.T > 0).astype(np.int64)
        ids = bits.reshape(len(m), n_tables, bpt) @ weights
        return pd.Series(list(ids))

    return bucket_ids(F.col("v"))


def _probe_keys(
    emb: DataFrame, bpt: int, radius: int = 1, n_tables: int = N_TABLES
) -> DataFrame:
    """(vec_id, tbl, bucket) rows: each vector's exact bucket plus
    every bucket within Hamming distance ``radius`` of it, in each of
    the ``n_tables`` tables (radius 0 = exact bucket only).

    Candidate-join geometry: joining a radius-r ball against radius-s
    covers signature distance <= r + s, and the candidate volume per
    key multiplies by |ball_r| x |ball_s|.  The near-dup join
    therefore probes radius 2 on ONE side against exact buckets on
    the other — identical Hamming-2 coverage to the former two-sided
    radius-1 product at (1 + k + C(k,2)) / (1 + k)^2 of the candidate
    volume (11/25 at k=4; see embedding_neardup).
    """
    # the matmul bucket builder runs Python on executors — make the
    # package importable there under a vanilla foreign-cwd session
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(emb.sparkSession)
    masks = [0]
    if radius >= 1:
        masks += [1 << j for j in range(bpt)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(bpt) for j in range(i + 1, bpt)
        ]
    # The bucket ids cost n_tables * bpt hyperplane dot products per
    # row — materialize them ONCE in a dedicated projection (the CDC
    # codepoint-array lesson: CollapseProject won't inline a non-cheap
    # alias referenced |tables| x |masks| times), so each probe struct
    # is a constant XOR over the stored id, not a re-derivation.  The
    # ids come from the Arrow-batched matmul builder (same math as the
    # JVM _bucket_ids_flat twin, pinned identical by test; see its
    # docstring for the measured 6.5 s -> ms gap at 128 planes).
    with_buckets = emb.select(
        "vec_id", _bucket_ids_matmul(n_tables, bpt).alias("_bk")
    )
    structs = []
    for t in range(n_tables):
        bucket = F.element_at(F.col("_bk"), t + 1)
        for m in masks:
            structs.append(
                F.struct(
                    F.lit(t).alias("tbl"),
                    (bucket.bitwiseXOR(F.lit(m)) if m else bucket).alias("bucket"),
                )
            )
    return with_buckets.select(
        "vec_id", F.explode(F.array(*structs)).alias("tb")
    ).select("vec_id", "tb.tbl", "tb.bucket")


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4), LSH-bucketed.

    Candidate generation reuses the ann_lsh hyperplane tables instead
    of the former all-pairs BroadcastNestedLoopJoin (the textbook O(n²)
    scale-killer): one join side probes its full Hamming-≤2 ball
    (1 + 4 + 6 = 11 keys per table), the other emits only its exact
    bucket, so any pair whose signatures agree within Hamming distance
    2 in SOME of the 8 tables becomes a candidate — the same coverage
    as a two-sided radius-1 product at 11/25 of the candidate volume;
    candidates are deduped, then exact-cosine verified against the
    same ≥ 0.4 threshold as before.

    Recall bound: at the 0.4 threshold the per-bit agreement is
    p = 1 − arccos(0.4)/π ≈ 0.631, so a qualifying pair is missed by
    one table with prob 1 − P(Binom(4, 1−p) ≤ 2) ≈ 0.145 and by all 8
    with prob ≈ 2e-7 — higher-sim pairs are safer still.  Empirically
    the output hash-matches the exact all-pairs scan at sf0.01 and
    sf0.1 (tests/test_scale_fixes.py), so the exact DuckDB oracle is
    unchanged.  At adaptive widths (corpus > 8192 → bpt > 4) this
    0.4-threshold exhaustive form does NOT scale, in two measurable
    ways: (1) the probe ball multiplies one side's bucket load by
    1 + bpt + C(bpt,2), so self-join candidates grow as
    n·occupancy·(1 + bpt + C(bpt,2))/2 per table — ~1e8 candidate rows
    already at 20k vectors (why tests only run ann_lsh beyond the
    floor); (2) the fixed Hamming-2 ball covers a shrinking signature
    fraction, so the recall bound above decays.  A production near-dup pass at that
    scale runs in the true near-dup regime (cosine ≥ 0.9, per-bit
    agreement ≈ 0.856) with single-bucket collisions (no probe ball on
    either side) and more tables — the binomial above is the sizing
    knob; below the floor this operator stays byte-exact vs the oracle.

    Scale shape: explode → shuffle join on (tbl, bucket) → pair dedup →
    two shuffle joins to fetch vectors for the verify; no broadcast of
    anything corpus-sized, no NLJ (pinned in test_plans.py).  Bucket
    width tracks log2(corpus) via ``_bits_per_table`` (the count is a
    parquet-metadata action), bounding expected occupancy at
    ~TARGET_OCCUPANCY regardless of corpus size.
    """
    emb = _embeddings(spark, sf_dir)
    bpt = _bits_per_table(load_table(spark, sf_dir, "embeddings").count())
    # ONE-SIDED radius-2 ball against exact buckets: same Hamming-2
    # coverage as the former two-sided radius-1 product at 11/25 of
    # the candidate volume (the ball arithmetic is in _probe_keys).
    a = _probe_keys(emb, bpt, radius=2).select(
        F.col("vec_id").alias("da"), "tbl", "bucket"
    )
    b = _probe_keys(emb, bpt, radius=0).select(
        F.col("vec_id").alias("db"), "tbl", "bucket"
    )
    # explicit width on the bucket join: probe keys are tiny in bytes
    # but each (tbl, bucket) key fans out quadratically in candidate
    # pairs, so AQE's size-based coalescing otherwise folds the pair
    # generation onto a handful of straggling tasks (the semdedup_prune
    # lesson).  REPARTITION_BY_NUM is exempt from coalescing and the
    # join reuses the co-partitioning.  Net local effect of ball +
    # width + bucket materialization: 10.2 -> ~8.5 s min at sf0.1 —
    # bounded, because at this deliberately-exhaustive radius the
    # candidate set approaches all-pairs (the docstring's point); the
    # structural halving of raw pair volume is what scales.
    from ..session import two_pass_rank_width

    width = two_pass_rank_width(spark)
    a = a.repartition(width, "tbl", "bucket")
    b = b.repartition(width, "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    # norms carried from the vector projection: one dot fold per
    # candidate pair (see embedding_neardup_strict's verify note)
    from ..functions.vector import dot_expr, l2_norm_expr

    va = emb.select(
        F.col("vec_id").alias("da"),
        F.col("v").alias("va"),
        l2_norm_expr(F.col("v")).alias("norm_a"),
    )
    vb = emb.select(
        F.col("vec_id").alias("db"),
        F.col("v").alias("vb"),
        l2_norm_expr(F.col("v")).alias("norm_b"),
    )
    sim = dot_expr(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        cand.join(va, "da")
        .join(vb, "db")
        .select("da", "db", sim.alias("sim"))
        .filter(F.col("sim") >= 0.4)
        .select("da", "db", F.round("sim", 6).alias("cosine"))
    )


# Production near-dup regime (VERDICT r6 #4): true near-duplicates
# (cosine >= STRICT_COS) collide on SINGLE buckets — no probe ball on
# either side — so per-table candidate volume is bucket occupancy, not
# ball x occupancy.  Recall comes from MORE tables instead: per-bit
# agreement at cosine c is p = 1 - arccos(c)/pi (0.856 at 0.9), a pair
# collides in one table w.p. p^bpt, and the L-table miss probability
# (1 - p^bpt)^L is the sizing knob — at the 8-bit strict floor L=16
# gives miss (1-0.856^8)^16 ~ 0.004 at exactly cosine 0.9, and every
# higher-sim pair is safer: the planted self-audit pairs sit at
# ~0.956 (p ~ 0.905, per-pair miss ~7e-5), which is why the exact
# all-pairs DuckDB twin can gate this operator byte-for-byte.
STRICT_COS = 0.9
STRICT_N_TABLES = 16
# The strict regime keeps its OWN signature-width floor, wider than the
# ann/0.4 floor of 4: at p ~ 0.856 per bit (cosine 0.9), 8-bit buckets
# still collide w.p. p^8 ~ 0.29 per table — miss (1-0.29)^16 ~ 0.004 —
# while cutting expected occupancy (and therefore candidate volume)
# 16x versus 4-bit buckets.  Wide signatures are exactly what true
# near-duplicates afford; the 0.4-threshold operator cannot widen
# without losing recall, which is the regime difference in one number.
STRICT_BITS_FLOOR = 8
# Self-audit plant: the test corpora have NO organic pairs at 0.9 (64-d
# standard normal), so the operator plants PLANT_N deterministic
# near-duplicates — vector i < PLANT_N re-weighted coordinate-wise by
# 1.3/0.7 alternating, which pins cosine(v, v') into [0.953, 0.965]
# for ANY v (min over energy split s of (0.7+0.6s)/sqrt(0.49+1.2s))
# — and must find exactly those pairs.  The plant is pure arithmetic
# reproduced verbatim in the oracle; at production scale the plant is
# dropped and the same plan runs on the raw corpus.
PLANT_N = 40
PLANT_ID_OFFSET = 1_000_000


def embedding_neardup_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs in the PRODUCTION regime: cosine >=
    STRICT_COS, single-bucket collisions, STRICT_N_TABLES hyperplane
    tables — the operator embedding_neardup's docstring names as the
    form that survives past the adaptive-width floor.

    Where :func:`embedding_neardup` (threshold 0.4) needs a Hamming-2
    probe ball whose candidate volume approaches all-pairs at wide
    signatures, true near-duplicates agree on almost every hyperplane
    sign (p ~ 0.856 per bit at 0.9), so exact-bucket collisions in 16
    independent tables already catch a qualifying pair with
    probability 1 - (1 - p^bpt)^16 — the binomial sizing argument in
    the module constants.  Candidate volume per table is bounded by
    bucket occupancy (STRICT_BITS_FLOOR = 8 keeps it 16x below the
    ann floor's; the adaptive width takes over past ~130k vectors),
    so the join is linear in the corpus with a constant factor of L,
    never quadratic — measured locally: the 4-bit floor draft spent
    7.2 s verifying ~2M floor-width candidates at sf0.1, the 8-bit
    floor cuts that to the planted pairs plus noise.

    Scale shape: ONE bucket materialization per vector (16 ids in a
    dedicated projection), explode to (tbl, bucket) keys, explicit-
    width self-join (the semdedup AQE-coalescing lesson), pair dedup,
    exact-cosine verify.  The deterministic PLANT_N self-audit rows
    make the test-SF output non-trivial: the driver gate proves all
    40 planted pairs are found with exact cosines — a 100%-recall
    check of the single-bucket regime at the floor width, where the
    analytic per-pair miss bound is ~7e-5 (seed-fixed, so the check
    is deterministic in practice).
    """
    emb = _embeddings(spark, sf_dir)
    planted = emb.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + PLANT_ID_OFFSET).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x
            * F.when(i % 2 == 0, F.lit(1.3)).otherwise(F.lit(0.7)),
        ).alias("v"),
    )
    corpus = emb.unionByName(planted)
    n = load_table(spark, sf_dir, "embeddings").count()
    bpt = max(STRICT_BITS_FLOOR, _bits_per_table(n + PLANT_N))
    # ONE bucket-projection execution: the key table is |corpus| x L
    # integer triples (tiny relative to the vectors), and both sides of
    # the self-join consume it — checkpointing materializes the 2048
    # hyperplane dot products per vector once instead of once per side
    # (the minhash candidate-checkpoint pattern).
    keys = _probe_keys(
        corpus, bpt, radius=0, n_tables=STRICT_N_TABLES
    ).localCheckpoint(eager=True)
    a = keys.select(F.col("vec_id").alias("da"), "tbl", "bucket")
    b = keys.select(F.col("vec_id").alias("db"), "tbl", "bucket")
    from ..session import two_pass_rank_width

    width = two_pass_rank_width(spark)
    a = a.repartition(width, "tbl", "bucket")
    b = b.repartition(width, "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    # verify: norms are per-VECTOR quantities — compute them once in
    # the (corpus-sized) vector projections and carry them through the
    # join, so each candidate pair costs ONE dot fold instead of a dot
    # plus two norm folds (the folds are interpreted HOFs, and the
    # candidate set is the hot row count here: measured 11.2 -> ~4 s
    # on the 148k-candidate sf0.1 verify).  dot/(na*nb) is the same
    # IEEE expression as the inline cosine — hashes unchanged.
    from ..functions.vector import dot_expr, l2_norm_expr

    va = corpus.select(
        F.col("vec_id").alias("da"),
        F.col("v").alias("va"),
        l2_norm_expr(F.col("v")).alias("norm_a"),
    )
    vb = corpus.select(
        F.col("vec_id").alias("db"),
        F.col("v").alias("vb"),
        l2_norm_expr(F.col("v")).alias("norm_b"),
    )
    # r18 negative result (banked; the VERDICT r17 item-4 experiment):
    # routing the per-pair dot through an Arrow batch kernel (a
    # mapInPandas replay of the dot_expr fold) LOSES here — the
    # candidate-pair frame carries both 64-double vectors per row, so
    # the Python boundary ships ~150 MB of pair rows at sf0.1 and the
    # round trip costs more than the interpreted fold it saves
    # (measured 3.26 -> 3.82 s warm min, interleaved).  The fold
    # verify stays the JVM floor.
    sim = dot_expr(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        cand.join(va, "da")
        .join(vb, "db")
        .select("da", "db", sim.alias("sim"))
        .filter(F.col("sim") >= STRICT_COS)
        .select("da", "db", F.round("sim", 6).alias("cosine"))
    )


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multiprobe random-hyperplane LSH: 8 tables × adaptive
    bits (4 at test SFs), each on its own planes, query-side 1-bit
    multiprobe.

    A single long signature has vanishing recall (all bits must agree);
    multi-table banding trades one bucket join for L=8 smaller ones,
    and each table gets its OWN planes — the fixed stride-POOL_BPT
    block of one seed-42 pool (reusing planes across tables correlates
    their misses and caps effective L; a bpt-dependent mapping put the
    DuckDB twin on a regime cliff, VERDICT r10 #4).  The query side
    additionally probes every bucket at Hamming distance 1 (4 flips +
    exact = 5 keys/table), so per table P(hit) = p⁴ + 4p³(1-p) with
    p = 1 - angle/π — ≥0.95 overall even for cosine≈0 neighbors.
    Corpus vectors still emit only 8 keys each (multiprobe cost rides
    the tiny query side); candidates join on (table, bucket), are
    deduped, then exact-cosine ranked top-5 per query.  Recall < 1 by
    construction vs ``cosine_topk`` (floor pinned in
    tests/test_ann_recall.py), but the OUTPUT is fully deterministic
    and oracle-exact: the DuckDB twin (__spark_entry__._ann_lsh_sql)
    embeds the same pool, derives bpt from count(*) in SQL, and
    replays the identical plane dots via the same left-fold order, so
    buckets and the candidate set reproduce bit-identically at any
    corpus up to ORACLE_MAX_VECTORS (r10 — retired from rows-only;
    r11 — regime cliff removed).
    """
    emb = _embeddings(spark, sf_dir)
    bpt = _bits_per_table(load_table(spark, sf_dir, "embeddings").count())
    # Past ORACLE_MAX_VECTORS the adaptive width outgrows the embedded
    # pool's stride and the DuckDB twin (which keeps POOL_BPT-stride
    # indexing, uncapped) would fail as an opaque row mismatch — make
    # it an actionable error instead (ADVICE r11; the
    # degree_assortativity envelope-guard pattern).  The raise is a
    # VERIFICATION limit, not an algorithmic one: the stride-widening
    # fallback below stays correct on any corpus (each table still
    # gets disjoint seed-42 planes) — it just leaves the pinned
    # oracle's coverage.  Production corpora past the pool cap can opt
    # in via SPARK_GRAFT_ANN_LSH_BEYOND_ORACLE=1 instead of losing the
    # operator outright (ADVICE r12).
    if bpt > POOL_BPT:
        if os.environ.get("SPARK_GRAFT_ANN_LSH_BEYOND_ORACLE") != "1":
            raise RuntimeError(
                f"ann_lsh: corpus needs {bpt} bits/table > pool stride "
                f"{POOL_BPT} (~{ORACLE_MAX_VECTORS:,} vectors max). Raise "
                f"POOL_BPT and regenerate the embedded oracle pool in "
                f"__spark_entry__._ann_lsh_sql to match, or set "
                f"SPARK_GRAFT_ANN_LSH_BEYOND_ORACLE=1 to run with a "
                f"widened plane pool (correct, but beyond the pinned "
                f"DuckDB twin's coverage)."
            )
        warnings.warn(
            f"ann_lsh: {bpt} bits/table exceeds the embedded oracle pool "
            f"stride {POOL_BPT}; widening the generated pool — results "
            f"are beyond the pinned oracle's coverage.",
            stacklevel=2,
        )
    # bpt-independent plane mapping (r11): table t's bit k is pool
    # plane t*stride + k with stride = POOL_BPT for every corpus the
    # oracle covers — only the 8*bpt USED planes become bit
    # expressions, so plan size still tracks bpt, not the pool width.
    stride = max(bpt, POOL_BPT)
    pool = lsh_plane_pool(stride)
    used = [pool[t * stride + k] for t in range(N_TABLES) for k in range(bpt)]
    bits = _bit_exprs(used)

    tables = [
        F.struct(F.lit(t).alias("tbl"), _bucket_expr(bits, t, bpt).alias("bucket"))
        for t in range(N_TABLES)
    ]
    keyed = emb.select(
        "vec_id", "v", F.explode(F.array(*tables)).alias("tb")
    ).select("vec_id", "v", "tb.tbl", "tb.bucket")
    # multiprobe on the query side only: exact bucket + the bpt buckets
    # one bit-flip away, per table.
    probes = []
    for t in range(N_TABLES):
        bucket = _bucket_expr(bits, t, bpt)
        probes.append(F.struct(F.lit(t).alias("tbl"), bucket.alias("bucket")))
        for j in range(bpt):
            probes.append(
                F.struct(
                    F.lit(t).alias("tbl"),
                    bucket.bitwiseXOR(F.lit(1 << j)).alias("bucket"),
                )
            )
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.explode(F.array(*probes)).alias("tb"),
        )
        .select("qid", "qv", "tb.tbl", "tb.bucket")
    )
    cand = (
        keyed.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "vec_id", "v")
        .distinct()
    )
    sim = cosine_similarity_expr(F.col("qv"), F.col("v"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.select("qid", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id", F.round("sim", 6).alias("cosine"), "rn")
    )


N_CLUSTERS_MOD = 40  # deterministic seed centroids: vec_id % 40 == 0
LLOYD_ITERATIONS = 2
NPROBE = 2

# Two-level (coarse-quantized) assignment switch (r13; measured in
# scratch/two_level_quantizer.py, production restatement in SCALE.md
# "Two-level quantizer for large-k IVF assignment"): the flat
# crossJoin(broadcast(centroids)) argmin ships the full k x dim
# centroid table into every task — dead once k = n/N_CLUSTERS_MOD
# outgrows broadcast range (~25M x 64 doubles at n = 1e9).  Past
# IVF_TWO_LEVEL_MIN_K estimated centroids the assignment switches to
# the IMI-style two level: ~sqrt(k) hash-sampled leader centroids ride
# a broadcast 1-row array (the codebook transport rule), each vector
# takes its IVF_COARSE_PROBES nearest GROUPS map-side (zero shuffle,
# n x sqrt(k) distance folds), and the exact argmin runs only over
# those groups' members via a gid-keyed join — n x ~(1+p)*sqrt(k)
# folds instead of n x k, with no broadcast that grows with the
# corpus.  Measured on worst-case uniform vectors at k=1024:
# p=2 -> 16.8x faster at 91.9% exact-argmin agreement, p=4 -> 11.0x
# at 99.7%; probing all groups reproduces the flat argmin bit-for-bit
# (pinned in tests/test_ann_recall.py).  The oracle-verified test
# geometry (k = 50 at sf0.01) stays on the flat path, so banked
# results are untouched; SPARK_GRAFT_IVF_TWO_LEVEL=1/=0 forces the
# path for tests and for production corpora whose stat-based size
# estimate is unavailable.
IVF_TWO_LEVEL_MIN_K = 4096
IVF_COARSE_PROBES = 4


def _sq_dist(a, b):
    d = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def _two_level_nearest(
    emb: DataFrame, cents: DataFrame, m: int, p: int
) -> DataFrame:
    """Two-level nearest-centroid assignment: coarse-probe the ``p``
    nearest of ~k/``m`` leader groups, exact argmin inside them.

    Leaders are the centroids with hash(cid) % m == 0 — deterministic
    (Murmur3, fixed seed), map-only, no global rank over the k-row
    table — plus the min-cid centroid so the leader set is provably
    non-empty.  The leader array rides a broadcast-joined 1-row frame
    (g x dim doubles, ~2.5 MB at k = 25M / g = sqrt(k)); the coarse
    top-p is an in-row array_sort over g (d2, gid) structs, so the
    coarse pass is ZERO-shuffle.  The fine pass joins the n x p probe
    rows with the grouped centroid table on gid (hash join; broadcast
    at test scale, a plain gid exchange once the centroid table
    outgrows broadcast range — each task sees only its groups' ~m
    members) and keeps the flat path's exact min_by(struct(d2, cid))
    argmin + tie-break, so with p >= #groups the result is
    bit-identical to the flat assignment (pinned in
    tests/test_ann_recall.py).
    """
    min_cid = cents.groupBy().agg(F.min("cid").alias("__min_cid"))
    leaders = (
        cents.crossJoin(F.broadcast(min_cid))
        .filter(
            (F.pmod(F.hash("cid"), F.lit(m)) == 0)
            | (F.col("cid") == F.col("__min_cid"))
        )
        .select(F.col("cid").alias("gid"), F.col("cv").alias("gv"))
    )
    larr = leaders.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("gid", "gv"))).alias("__leaders")
    )

    def coarse_sorted(vcol):
        # (d2, gid) structs sort lexicographically — the flat path's
        # (d2, cid) tie-break, applied at the group level.
        return F.array_sort(
            F.transform(
                F.col("__leaders"),
                lambda l: F.struct(
                    _sq_dist(vcol, l["gv"]).alias("d2"), l["gid"].alias("gid")
                ),
            )
        )

    cent_groups = cents.crossJoin(F.broadcast(larr)).select(
        "cid",
        "cv",
        F.element_at(coarse_sorted(F.col("cv")), 1)["gid"].alias("gid"),
    )
    vec_probes = emb.crossJoin(F.broadcast(larr)).select(
        "vec_id",
        "v",
        F.explode(
            F.transform(
                F.slice(coarse_sorted(F.col("v")), 1, p), lambda s: s["gid"]
            )
        ).alias("gid"),
    )
    return (
        vec_probes.join(cent_groups, "gid")
        .withColumn("d2", _sq_dist(F.col("v"), F.col("cv")))
        .groupBy("vec_id")
        .agg(
            F.min_by("cid", F.struct("d2", "cid")).alias("cid"),
            F.first("v").alias("v"),
        )
        .select("vec_id", "v", "cid")
    )


def _ivf_assignment_mode(sf_dir: str) -> tuple[bool, int]:
    """(two_level, m) decision for :func:`ivf_assignments`, job-free:
    the env force wins; otherwise estimate k = rows/N_CLUSTERS_MOD
    from the on-disk byte size of the embeddings table (the
    `_input_bytes` width rule — a threshold with 80x headroom doesn't
    need exact row counts; an unstatable input estimates 0 and stays
    flat, which is why the env force exists for object-store
    production corpora).  ``m`` is the leader sampling modulus
    ~sqrt(k) that minimizes the n x (k/m + p*m) two-level cost at
    m = sqrt(k) group members per group."""
    from .dedup import _input_bytes

    n_est = _input_bytes(sf_dir, "embeddings") // (EMBED_DIM * 8)
    k_est = n_est // N_CLUSTERS_MOD
    m = max(2, math.isqrt(max(1, k_est)))
    mode = os.environ.get("SPARK_GRAFT_IVF_TWO_LEVEL", "")
    if mode in ("0", "1"):
        return mode == "1", m
    return k_est >= IVF_TWO_LEVEL_MIN_K, m


# Build-once memo for the IVF coarse quantizer (r16, the
# _RESIDUAL_FRAME_CACHE pattern one level down): every IVF consumer
# (ann_ivf, ann_ivf_adc, ann_probe_sweep, ivf_split_plan, the whole
# residual family via _residual_frame) shares one trained quantizer
# per corpus instead of re-running the Lloyd recurrence per call —
# production trains the coarse quantizer once and serves it.  Keyed
# by (Spark application id, sf_dir, corpus fingerprint, resolved
# (two_level, m) assignment mode — ADVICE r16: flat and two-level
# assignments differ by design, so an env-forced two-level session
# must not serve its handle to a flat-mode caller); the payload
# is two DataFrame handles (the centroids are already eagerly
# localCheckpointed inside, so reuse skips the training passes AND
# their K x EMBED_DIM driver collects).
_IVF_ASSIGN_CACHE: dict[tuple, tuple] = {}


def ivf_assignments(spark: SparkSession, sf_dir: str):
    """IVF index build: deterministic seed centroids (every 40th vector)
    refined by 2 Lloyd iterations, then nearest-centroid assignment.
    Memoized per (application, sf_dir, corpus fingerprint) — train the
    coarse quantizer once per corpus (r16; the _pq_train_flat /
    _residual_frame precedent, measured in scratch/ivf_memo_ab.py).

    Flat regime (k below IVF_TWO_LEVEL_MIN_K — every test SF) since
    r18 (guide §4.2): each Lloyd pass is ONE mapInPandas corpus scan —
    per Arrow batch, numpy computes the bit-identical `_sq_dist`
    argmin (batchmath.full_d2, sequential over dims; first-min ==
    min_by's (d2, cid) tie-break over the ascending-cid centroid
    array) and scatter-adds per-(cid, pos) partial sums + counts;
    Spark sum-merges the bounded partials and the driver re-centers.
    The former JVM pass crossJoined the corpus with the broadcast
    centroid table (n x k interpreted 64-term folds) and posexploded
    the corpus 64-wide into the mean hash-agg — measured 4.8 -> 1.3 s
    cold at sf0.1.  The driver holds only k x dim doubles — bounded
    by the flat regime itself (the k >= IVF_TWO_LEVEL_MIN_K corpora
    that would outgrow it switch paths).  Empty clusters drop out of
    the centroid table exactly as the old groupBy did.  Means
    re-associate per batch (each engine's own float avg — the DuckDB
    twin already computes its own; contracted by the argmin + round-6
    outputs; full-family oracle sweep at both SFs gates).

    Past IVF_TWO_LEVEL_MIN_K estimated centroids every assignment
    pass switches to :func:`_two_level_nearest` — n x ~(1+p)*sqrt(k)
    distance folds instead of n x k, broadcasting only the
    sqrt(k)-row leader array; that path keeps the r13 DataFrame Lloyd
    loop (its centroid table is corpus-scale and must never drop to a
    driver array).  Returns (assign_df, centroids_df).
    """
    fp = _pq_corpus_fingerprint(sf_dir)
    two_level, m = _ivf_assignment_mode(sf_dir)
    key = None
    if fp is not None:
        key = (spark.sparkContext.applicationId, sf_dir, fp, two_level, m)
        hit = _IVF_ASSIGN_CACHE.get(key)
        if hit is not None:
            return hit
    emb = _embeddings(spark, sf_dir)
    if two_level:
        out = _ivf_lloyd_two_level(spark, emb, m)
    else:
        out = _ivf_lloyd_flat_batched(spark, emb)
    if key is not None:
        _IVF_ASSIGN_CACHE[key] = out
    return out


def _ivf_lloyd_flat_batched(spark: SparkSession, emb: DataFrame):
    """Flat-regime Lloyd via batched numpy kernels (see
    ivf_assignments docstring for the shape and exactness notes)."""
    import numpy as np

    from ..functions import batchmath as bm
    from ..session import ensure_package_on_executors

    assign_schema = "vec_id long, v array<double>, cid long"
    cents_schema = "cid long, cv array<double>"
    seeds = (
        emb.filter(F.col("vec_id") % N_CLUSTERS_MOD == 0)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .orderBy("cid")
        .collect()
    )
    if not seeds:
        return (
            spark.createDataFrame([], assign_schema),
            spark.createDataFrame([], cents_schema),
        )
    ensure_package_on_executors(spark)
    ids = np.array([r["cid"] for r in seeds], dtype=np.int64)
    C = np.array([r["cv"] for r in seeds], dtype=np.float64)
    vproj = emb.select("vec_id", "v")
    for _ in range(LLOYD_ITERATIONS):
        cells = (
            vproj.mapInPandas(
                bm.centroid_partials_fn(ids, C),
                schema="cid long, pos int, s double, c long",
            )
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .toPandas()
        )
        # re-center: mean = merged sum / merged count (one IEEE divide,
        # exactly the avg's final op); empty clusters emit no rows and
        # disappear, matching the old groupBy-over-assigned update
        means = cells["s"].to_numpy() / cells["c"].to_numpy()
        cid_arr = cells["cid"].to_numpy()
        ids = np.unique(cid_arr)
        C = np.zeros((len(ids), EMBED_DIM), dtype=np.float64)
        C[np.searchsorted(ids, cid_arr), cells["pos"].to_numpy()] = means
    # the final assignment is read by EVERY IVF consumer (often more
    # than once per query) — checkpoint it non-eagerly so the batch
    # kernel runs once per session and later consumers read the
    # (vec_id, v, cid) blocks instead of re-crossing the Python
    # boundary (plan-only consumers still print without a job).
    assign = vproj.mapInPandas(
        bm.nearest_centroid_fn(ids, C), schema=assign_schema
    ).localCheckpoint(eager=False)
    cents = spark.createDataFrame(
        [(int(cid), [float(x) for x in C[i]]) for i, cid in enumerate(ids)],
        cents_schema,
    )
    return assign, cents


def _ivf_lloyd_two_level(spark: SparkSession, emb: DataFrame, m: int):
    """Large-k Lloyd (the r13 DataFrame recurrence, unchanged): every
    assignment pass through :func:`_two_level_nearest`, centroid table
    kept distributed and localCheckpointed per iteration."""
    cents = emb.filter(F.col("vec_id") % N_CLUSTERS_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    def nearest(centroids: DataFrame) -> DataFrame:
        return _two_level_nearest(emb, centroids, m, IVF_COARSE_PROBES)

    for _ in range(LLOYD_ITERATIONS):
        assign = nearest(cents)
        # centroid update: element-wise mean per cluster
        dims = assign.select("cid", F.posexplode("v").alias("pos", "x"))
        means = dims.groupBy("cid", "pos").agg(F.avg("x").alias("m"))
        cents = (
            means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform(F.col("pm"), lambda s: s["m"]).alias("cv"))
        )
        # materialize the tiny (k x dim) centroid table each iteration
        # (the pagerank rank-vector pattern): without this, every
        # consumer branch of assign/cents re-runs the ENTIRE Lloyd
        # recurrence from parquet, and the recurrence lineage itself
        # nests one corpus pass per iteration inside the next.
        cents = cents.localCheckpoint(eager=True)
    return nearest(cents), cents


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF: search only the nprobe=2 nearest clusters per query.

    The other scale path next to ``ann_lsh``: corpus is bucketed by
    nearest centroid; each query scans ~nprobe/k of the corpus.  Recall
    < 1 by construction (exact baseline cosine_topk, floor pinned in
    tests), but the pipeline is deterministic end-to-end and
    oracle-exact: __spark_entry__._ann_ivf_sql unrolls the same Lloyd
    recurrence (kmeans_iterate pattern) and replays probe selection +
    in-cluster top-k (r10 — retired from rows-only).
    """
    assign, cents = ivf_assignments(spark, sf_dir)
    q = assign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # nprobe nearest centroids per query
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "d2", _sq_dist(F.col("qv"), F.col("cv"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("cid"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("qid", "qv", "cid")
    )
    cand = probes.join(assign, "cid").filter(F.col("vec_id") != F.col("qid"))
    sim = cosine_similarity_expr(F.col("qv"), F.col("v"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.select("qid", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id", F.round("sim", 6).alias("cosine"), "rn")
    )


# IVF operating points for ann_probe_sweep (VERDICT r14 #4): the
# probe counts every IVF rollout actually tunes between.  Ascending;
# the last entry bounds the single candidate fetch.
ANN_PROBE_SET = (1, 2, 4, 8)


def ann_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IVF recall@TOPK at every nprobe operating point in
    ANN_PROBE_SET — (nprobe, qid, n_exact, n_hit, recall).  The
    probe↔recall curve next to bm25_recall_report's CAP↔recall one:
    nprobe is THE knob a production IVF index tunes (more probed
    cells = more corpus scanned = higher recall), and this emits the
    whole curve as one oracle-verified query so a rollout can pick
    its operating point from measured data instead of folklore.

    Scale shape — the dedup_rate_by_threshold one-pass-many-points
    pattern: candidates are fetched ONCE at max(ANN_PROBE_SET) probes
    (the shared Lloyd index's broadcast-centroid argmin + one cid
    join), each candidate carries its cell's probe rank ``cr``, and
    the sweep EXPLODES the qualifying levels {p : p >= cr} (≤
    |ANN_PROBE_SET| small ints per row) so one window pass ranks all
    operating points — not one corpus pass per nprobe.  The cosine is
    a named Project column computed before the explode (single eval).
    Everything past the candidate join is query-set-sized; recall
    divides by n_exact (the *_recall_report convention).

    Exactness: probe selection and in-cell ranking replay ann_ivf's
    banked conventions ((d2, cid) and (sim desc, neighbor_id) ties);
    the exact leg is cosine_topk's banked fold; counts are integers
    and recall one exact int/int division.
    """
    exact = cosine_topk(spark, sf_dir).select("qid", "neighbor_id")
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )

    assign, cents = ivf_assignments(spark, sf_dir)
    q = assign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "d2", _sq_dist(F.col("qv"), F.col("cv"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("cid"))
    probes = (
        qc.withColumn("cr", F.row_number().over(wq))
        .filter(F.col("cr") <= max(ANN_PROBE_SET))
        .select("qid", "qv", "cid", "cr")
    )
    # probes is bounded (N_QUERIES x max nprobe rows) but descends
    # from a window, so Catalyst has no size estimate and picks
    # SortMergeJoin unhinted (the r14 pin) — broadcast it onto the
    # corpus-side cid hash join.
    cand = assign.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("qid")
    )
    sim = cosine_similarity_expr(F.col("qv"), F.col("v"))
    levels = F.filter(
        F.lit(list(ANN_PROBE_SET)), lambda p: p >= F.col("cr")
    )
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        sim.alias("sim"),
        F.explode(levels).alias("nprobe"),
    )
    w = Window.partitionBy("nprobe", "qid").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    got = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select(F.col("nprobe").cast("long").alias("nprobe"), "qid", "neighbor_id")
    )
    # rank-list-sized audit joins: broadcast explicitly (post-agg/
    # window frames carry no size estimates — the r14 pin)
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("nprobe", "qid")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    # per_q is post-agg (no size estimate): hint the 4-row level frame
    # or the cross lands as an unbroadcast CartesianProduct.
    base = per_q.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(int(p),) for p in ANN_PROBE_SET], "nprobe long"
            )
        )
    )
    return base.join(F.broadcast(hits), ["nprobe", "qid"], "left").select(
        "nprobe",
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search: top-TOPK cosine neighbors
    restricted to documents in the query's OWN language — (qid, lang,
    neighbor_id, cosine, rn), self excluded, ties to the lower
    neighbor id (the cosine_topk conventions).  The pattern every
    production vector store ends up needing (filtered ANN: "nearest
    neighbors WHERE lang = X / quality > q / source = s"), here with
    a per-query predicate (the query doc's lang, via the 1:1
    vec_id = doc_id pairing) rather than a global constant —
    pre-filter semantics, the ground truth a post-filtered index path
    is audited against.

    Scale shape — why the filter makes search CHEAPER, not costlier:
    the language equality becomes an equi-join KEY, so the
    query-corpus pairing is a broadcast HASH join on lang (each
    corpus row meets only the ~|q|/|langs| queries of its language)
    instead of cosine_topk's BroadcastNestedLoopJoin against every
    query — the filtered pair count drops by the selectivity factor
    exactly as a partition-pruned scan would.  The lang attach is a
    vec_id equi-join with the narrow documents projection; per-qid
    top-k prunes map-side (WindowGroupLimit).  At 100 TB this is the
    argument for PARTITIONING the vector table by the filter column:
    the same plan then prunes whole files.

    Exactness: the cosine pairing is cosine_topk's banked convention
    (Spark HOF fold vs DuckDB list_cosine_similarity, round 6, ties
    (sim desc, neighbor_id)); lang is an exact string key.
    """
    emb = _embeddings(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    corpus = emb.join(langs, "vec_id")
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("lang").alias("qlang"),
    )
    pairs = corpus.join(
        F.broadcast(q),
        (F.col("lang") == F.col("qlang"))
        & (F.col("vec_id") != F.col("qid")),
    )
    sim = cosine_similarity_expr(F.col("qv"), F.col("v"))
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.select(
            "qid",
            "lang",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOPK)
        .select(
            "qid",
            "lang",
            "neighbor_id",
            F.round("sim", 6).alias("cosine"),
            "rn",
        )
    )


def filtered_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall of POST-FILTERED IVF search against the
    pre-filter exact ground truth — (qid, n_exact, n_hit, recall).
    The filtered-ANN operating question every vector store documents:
    an index probes cells by geometry alone, the metadata filter is
    applied to the probed candidates AFTER the index (post-filter),
    and when the filter is selective the probed cells may hold few
    matching documents — recall degrades below the unfiltered IVF
    recall.  This measures that degradation on THIS corpus, against
    :func:`ann_filtered_topk`'s exact pre-filter rank list (the
    *_recall_report conventions: n_exact denominator, zero-filled
    grid over qids with exact neighbors).

    Scale shape: the candidate leg is ann_ivf's pinned plan with one
    extra broadcast lang attach and the lang equality folded into the
    candidate filter; everything past the corpus scans is
    query-set-sized; audit joins explicitly broadcast (post-agg
    frames carry no size estimates — the r14 pin).
    """
    exact = ann_filtered_topk(spark, sf_dir).select("qid", "neighbor_id")
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )

    assign, cents = ivf_assignments(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    corpus = assign.join(langs, "vec_id")
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("lang").alias("qlang"),
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "d2", _sq_dist(F.col("qv"), F.col("cv"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("cid"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("qid", "qv", "qlang", "cid")
    )
    cand = corpus.join(F.broadcast(probes), "cid").filter(
        (F.col("vec_id") != F.col("qid"))
        & (F.col("lang") == F.col("qlang"))
    )
    sim = cosine_similarity_expr(F.col("qv"), F.col("v"))
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    got = (
        cand.select("qid", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id")
    )
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("qid")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    return per_q.join(F.broadcast(hits), "qid", "left").select(
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


# Per-cluster quota for cluster_balanced_sample.
CLUSTER_SAMPLE_QUOTA = 10


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subset selection: at most CLUSTER_SAMPLE_QUOTA
    vectors per IVF cell, chosen by deterministic md5 order —
    (cid, vec_id, rk, n_members).  The diversity-sampling step a
    curation pipeline runs after semantic clustering: capping each
    semantic cluster's contribution flattens the corpus's topic skew
    (the SemDeDup/DoReMi-adjacent "don't let one mode dominate the
    mixture" move), and the md5 order makes the subset reproducible
    across runs, engines, and partitionings — no RNG state anywhere.

    Scale shape: assignment is :func:`ivf_assignments` (two-level past
    IVF_TWO_LEVEL_MIN_K); the quota is a per-cid row_number that
    prunes map-side via WindowGroupLimit before the single cid
    exchange, so the post-assignment cost is one corpus-linear window
    with k-bounded output.  The size join keys on cid against the
    k-row agg.  Exactness: integers and md5 end to end.

    Oracle pairing: the DuckDB twin unrolls the FLAT argmin only, so
    the pairing holds on the flat path — same contract as ann_ivf
    (the test geometry, k = 50 at sf0.01, stays flat; past
    IVF_TWO_LEVEL_MIN_K or under SPARK_GRAFT_IVF_TWO_LEVEL=1 the
    approximate two-level assignment can shift quotas/n_members and
    the oracle is not expected to match).
    """
    from .sketches import _hash48

    assign, _cents = ivf_assignments(spark, sf_dir)
    sz = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    w = Window.partitionBy("cid").orderBy(
        _hash48(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        assign.join(sz, "cid")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= CLUSTER_SAMPLE_QUOTA)
        .select("cid", "vec_id", "rk", "n_members")
    )


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector summary stats via JVM higher-order functions: dim,
    L2 norm, component mean.  The fold runs in array order in both
    engines, and rounding at 6 absorbs float->double promotion noise.
    Scale: narrow map-only pass, no shuffle, whole-stage codegen."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    sq_sum = F.aggregate(
        "v", F.lit(0.0), lambda acc, x: acc + x * x
    )
    s = F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size("v").cast("long").alias("dim"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(s / F.size("v"), 6).alias("mean_component"),
    )


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid affinity: each vector's cosine to the mean
    vector of its own label — the standard mislabel/outlier screen a
    curation pipeline runs over embedded data (low affinity = the
    vector does not belong with its labelmates).  Returns (vec_id,
    label, cos_centroid) ranked-ready; thresholding is the caller's
    policy decision.

    Scale shape: one posexplode (n × dim rows — a single corpus pass,
    all map-side), one algebraic hash agg keyed (label, pos) with
    map-side partials, centroid re-assembly over the |labels| × dim
    aggregate (tiny), and the centroid table joined back BROADCAST
    (|labels| rows) so embedding bytes move zero times.  Cosine math
    is the same JVM higher-order expression as cosine_topk.
    """
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = emb.select(
        "label", F.posexplode("v").alias("pos", "x")
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    cos = cosine_similarity_expr(F.col("v"), F.col("cv"))
    return (
        emb.join(F.broadcast(cvec), "label")
        .select("vec_id", "label", F.round(cos, 6).alias("cos_centroid"))
    )


# kmeans_step cluster count.  Deterministic seeding: the centroids are
# the vectors with vec_id < KMEANS_K (k-means|| at scale would sample;
# fixed-id seeding keeps the operator oracle-checkable end-to-end).
KMEANS_K = 8


def _kmeans_assign(spark: SparkSession, sf_dir: str):
    """(centroids, assignments): the broadcast-centroid nearest-seed
    assignment shared by :func:`kmeans_step` and
    :func:`semdedup_prune`.  Assignments carry (vec_id, v, cluster,
    d2); ties go to the lower cluster id via the algebraic
    min(struct(d2, cid))."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = emb.join(F.broadcast(cent)).select("vec_id", "v", "cid", d2.alias("d2"))
    assigned = (
        pairs.groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("d2"), F.col("cid"))).alias("m"),
            F.first("v").alias("v"),
        )
        .select(
            "vec_id", "v", F.col("m.cid").alias("cluster"), F.col("m.d2").alias("d2")
        )
    )
    return cent, assigned


def kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration over the embedding table: assign every
    vector to its nearest seed centroid (squared L2, ties to the lower
    cluster id), then report per cluster the member count, the inertia
    contribution (sum of squared distances — THE k-means convergence
    number), and how far the recomputed mean moved from the seed
    (centroid_shift).  Clustering is the workhorse of embedding-space
    curation (SemDeDup-style pruning, topic balance, stratified
    eval picks); one verifiable iteration is the building block the
    iterative driver loops (graph.pagerank shows the loop pattern).

    Scale shape: the K seed centroids ride a broadcast into a SINGLE
    pass over the vectors (K * dim doubles — kilobytes); assignment is
    an algebraic ``min(struct(d2, cid))`` per vector, never a window.
    The member count, inertia, and recomputed means all come out of
    ONE (cluster, pos) algebraic agg over the posexploded assignments
    (d2 rides along on every exploded row, so per-cluster inertia is
    just that agg's sum at any one pos) — embedding bytes cross the
    wire once as assignment partials and once as (cluster, pos)
    partial sums, both with map-side combine; everything after is
    K x dim rows.  The re-assembly is :func:`embedding_outliers`'s
    collect_list idiom over the tiny aggregate.
    """
    cent, assigned = _kmeans_assign(spark, sf_dir)
    cells = (
        assigned.select("cluster", "d2", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(
            F.count("*").alias("cnt"),
            F.avg("x").alias("nc"),
            F.sum("d2").alias("sd2"),
        )
    )
    per_cluster = cells.groupBy("cluster").agg(
        # cnt/sd2 are identical across the cluster's pos rows by
        # construction; max() just picks the shared value algebraically
        F.max("cnt").cast("long").alias("n"),
        F.round(F.max("sd2"), 4).alias("inertia"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "nc"))),
            lambda s: s["nc"],
        ).alias("nv"),
    )
    shift = F.sqrt(
        F.aggregate(
            F.zip_with("nv", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        per_cluster.join(
            F.broadcast(cent.withColumnRenamed("cid", "cluster")), "cluster"
        )
        .select("cluster", "n", "inertia", F.round(shift, 6).alias("centroid_shift"))
    )


# SemDeDup pruning threshold.  Real corpora run ~0.95 on real
# embeddings; the synthetic table's max pairwise cosine is ~0.51, so
# the reference grid point is set above the p99.9 pair (~0.38) to
# exercise the prune path while staying data-meaningful.  The
# threshold is a constant input, not learned — sweeping it is
# dedup_rate_by_threshold's job on the text side.
SEMDEDUP_COS = 0.35

# Salt width for the within-cluster pair join: spreads each cluster's
# quadratic pair work over SALT tasks (the bare cluster key caps join
# parallelism at K).  Semantics-free — any width gives identical
# results (partition-invariance battery).
SEMDEDUP_SALT = 8


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al., 2023 — public
    arXiv 2303.09540): cluster the embedding space (the
    :func:`kmeans_step` seed assignment), then WITHIN each cluster drop
    every vector that is near-duplicate (cosine > SEMDEDUP_COS) of a
    kept lower-id vector — i.e. a vector survives iff no lower-id
    clustermate sits above the threshold.  Reports the per-cluster
    admission table (n, n_pruned, n_kept).

    Greedy-by-id note: this is the ONE-SHOT prune variant, not the
    sequential greedy scan.  The "no lower-id neighbor above
    threshold" rule can prune strictly MORE than the greedy: cosine
    similarity is not transitive, so in a chain a~b, b~c, a!~c the
    greedy keeps c (its only above-threshold neighbor b was already
    pruned) while this rule prunes c for having the lower-id neighbor
    b, kept or not.  Both are accepted SemDeDup policies — the paper's
    own implementation prunes against ALL clustermates, not just kept
    ones — but they are not equivalent; the one-shot form is chosen
    here because it is order-free and hence a single self-join + agg.

    Scale shape: THE SemDeDup argument — the within-cluster self-join
    bounds the quadratic blowup to cluster populations (K grows with
    the corpus so cluster size stays ~constant), exactly like the IVF
    bucket join in ann_ivf; cosine verify is codegen zip_with math,
    and the admission report is one algebraic agg.  The join key is
    SALTED (cluster, ia % S) with the b side replicated S times —
    a bare cluster key gives the planner at most K partitions, so a
    fat cluster serializes its whole quadratic on one task (measured
    locally: 4.3 s → ~1 s at sf0.1); salting spreads each cluster's
    pair work over S tasks for S small-side copies, the same
    replicate-the-dim trade as advanced.salted_join.
    """
    _, assigned = _kmeans_assign(spark, sf_dir)
    vecs = assigned.select("vec_id", "cluster", "v")
    a = vecs.select(
        F.col("cluster"),
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.pmod(F.col("vec_id"), F.lit(SEMDEDUP_SALT)).alias("salt"),
    )
    b = vecs.select(
        F.col("cluster"),
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
    ).withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.lit(SEMDEDUP_SALT - 1)).cast("array<long>")),
    )
    cos = cosine_similarity_expr(F.col("va"), F.col("vb"))
    # EXPLICIT width on both sides: the pair stream is tiny in BYTES
    # (AQE's coalescing metric) but quadratic in COMPUTE, so adaptive
    # coalescing would fold the whole cosine workload onto one task
    # (measured: the unpinned join ran its 2M-cosine stage 1-task).
    # A user repartition with an explicit count is exempt from AQE
    # coalescing, and the join reuses the co-partitioning.
    from ..session import two_pass_rank_width

    width = two_pass_rank_width(spark)
    a = a.repartition(width, "cluster", "salt")
    b = b.repartition(width, "cluster", "salt")
    # join includes the self-pair (ib <= ia) so EVERY vector reaches the
    # aggregate; the prune flag fires only on strict lower-id neighbors
    # above threshold.  This folds detection and the admission report
    # into the ia-keyed agg — no pruned-set join back, so the
    # assignment lineage has exactly the join's two consumers.
    joined = (
        a.join(b, ["cluster", "salt"])
        .filter(F.col("ib") <= F.col("ia"))
        .select(
            "cluster",
            "ia",
            ((F.col("ib") < F.col("ia")) & (cos > SEMDEDUP_COS))
            .cast("int")
            .alias("hit"),
        )
    )
    per_vec = joined.groupBy("cluster", "ia").agg(F.max("hit").alias("pruned"))
    return per_vec.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pruned").cast("long").alias("n_pruned"),
        (F.count("*") - F.sum("pruned")).cast("long").alias("n_kept"),
    )


# Iterations for kmeans_iterate's convergence curve.
KMEANS_ITERS = 5


def kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's algorithm over the embedding table, KMEANS_ITERS
    iterations, reporting the convergence curve — per iteration the
    total inertia, the number of vectors that changed cluster, and the
    largest centroid movement.  This is the ITERATIVE driver-loop
    pattern (graph.pagerank, dedup connected components, BPE merges)
    with a difference: every quantity here is deterministic, so the
    whole 5-iteration trajectory is verified against a DuckDB oracle
    that unrolls the same recurrence — the repo's one exactly-checked
    iterative algorithm.

    Scale shape per iteration: the K current centroids are collected
    to the driver (K x dim doubles — kilobytes, the legitimate
    iterative-scalar pattern) and re-embedded as plan literals, so
    each assignment pass is ONE broadcast-free scan with codegen
    distance math (no join at all — centroids are constants), followed
    by the (cluster, pos) algebraic re-centering agg of
    :func:`kmeans_step`.  ``n_moved`` is computed in that SAME scan:
    the PREVIOUS iteration's centroids are also plan literals, so the
    previous assignment is a second ``least(struct…)`` expression and
    the moved count folds into the aggregation as
    ``sum((cur != prev)::int)`` — the only driver transfers per
    iteration are the K re-centered rows; no per-vector row ever
    crosses to the driver.  Lineage never grows: each iteration plans
    from the raw table plus fresh literals.
    """
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent_rows = (
        emb.filter(F.col("vec_id") < KMEANS_K)
        .select(F.col("vec_id").alias("cid"), "v")
        .collect()
    )
    centroids = {r["cid"]: list(r["v"]) for r in cent_rows}
    schema = "iteration long, inertia double, n_moved long, max_shift double"
    if not centroids:  # empty corpus: empty curve, schema preserved
        return spark.createDataFrame([], schema=schema)
    def argmin_expr(cents: dict[int, list[float]]):
        d2s = []
        for cid in sorted(cents):
            c = cents[cid]
            d2s.append(
                (
                    cid,
                    F.aggregate(
                        F.zip_with(
                            "v",
                            lit_double_array(c),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                )
            )
        return F.least(*[F.struct(d.alias("d2"), F.lit(cid).alias("cid")) for cid, d in d2s])

    prev_centroids: dict[int, list[float]] | None = None
    curve = []
    for it in range(1, KMEANS_ITERS + 1):
        best = argmin_expr(centroids)
        # Previous assignment re-derived from literals in the SAME scan:
        # on iteration 1 every vector counts as moved (matches the
        # "first assignment" semantics of the unrolled oracle).
        moved = (
            F.lit(1)
            if prev_centroids is None
            else (best.getField("cid") != argmin_expr(prev_centroids).getField("cid")).cast("int")
        )
        assigned = emb.select(
            "v",
            best.getField("cid").alias("cluster"),
            best.getField("d2").alias("d2"),
            moved.alias("moved"),
        )
        cells = (
            assigned.select("cluster", "d2", "moved", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.avg("x").alias("nc"),
                F.sum("d2").alias("sd2"),
                F.sum("moved").alias("mv"),
            )
        )
        newc_rows = (
            cells.groupBy("cluster")
            .agg(
                F.round(F.max("sd2"), 3).alias("inertia"),
                F.max("mv").alias("n_moved_c"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "nc"))),
                    lambda s: s["nc"],
                ).alias("nv"),
            )
            .collect()
        )
        inertia = round(sum(r["inertia"] for r in newc_rows), 3)
        n_moved = sum(int(r["n_moved_c"]) for r in newc_rows)
        new_centroids = dict(centroids)
        max_shift = 0.0
        for r in newc_rows:
            old = centroids[r["cluster"]]
            nv = list(r["nv"])
            shift = sum((a - b) * (a - b) for a, b in zip(nv, old)) ** 0.5
            max_shift = max(max_shift, shift)
            new_centroids[r["cluster"]] = nv
        curve.append((it, inertia, int(n_moved), round(max_shift, 6)))
        prev_centroids = centroids
        centroids = new_centroids
    return spark.createDataFrame(curve, schema=schema)


# Power-iteration PCA (r13): fixed iteration count from an exact
# binary start vector, so the whole trajectory is a deterministic
# recurrence both engines can replay (the kmeans_iterate discipline).
PCA_ITERS = 4
PCA_START = 0.125  # exact binary double; ||w0||^2 = 64/64 = 1


def pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding table via
    PCA_ITERS power-method iterations — (pos, loading, eigenvalue):
    the final unit eigenvector's 64 loadings plus the Rayleigh
    eigenvalue estimate of the sample covariance.  The whitening /
    dominant-direction step a curation pipeline runs before SemDeDup
    pruning or before debiasing embeddings (Mu & Viswanath 2018's
    "all-but-the-top").

    Scale shape per iteration (the kmeans_iterate pattern): the mean
    vector and current direction ride as plan literals (64 doubles),
    one corpus scan computes s = (v - mu)·w per row via a fixed-order
    codegen fold, and the matvec y = Σ (v - mu)·s reduces through a
    64-key algebraic hash-agg — the ONLY driver transfer is the 64
    summed components (the Gram trick: no 64x64 covariance matrix is
    ever materialized, so the pass stays O(dim) per row, not O(dim²)).
    Lineage never grows: each iteration plans from the raw table plus
    fresh literals.

    Exactness: per-row folds are order-fixed; the per-pos row sums and
    the mean are cross-row float aggs whose engine-order drift (~1
    ulp) is contracted by the normalization each iteration and rounds
    away at the 6-dp output (the kmeans_iterate precedent: its
    unrolled-avg oracle banks green).  Driver-side normalization uses
    ascending-j left folds, mirrored by the oracle's seeded
    list_reduce.
    """
    fit = _pca_fit(spark, sf_dir)
    schema = "pos long, loading double, eigenvalue double"
    if fit is None:
        return spark.createDataFrame([], schema=schema)
    _n, _mu, w, lam = fit
    out = spark.createDataFrame(
        [(j, w[j], lam) for j in range(EMBED_DIM)], schema=schema
    )
    return out.select(
        "pos",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    )


def _pca_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[int, list[float], list[float], float] | None:
    """The shared power-method fit behind pca_power_iter and
    pca_debias: returns (n, mu, w, lam) — corpus size, mean vector,
    final unit direction, Rayleigh eigenvalue — or None when the
    corpus is too small to define a direction.  Driver-side folds run
    ascending-j (mirrored by the oracle's seeded list_reduce)."""
    emb = _embeddings(spark, sf_dir)
    n = emb.count()
    if n < 2:
        return None
    mu_rows = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    mu = [float(r["m"]) for r in sorted(mu_rows, key=lambda r: r["pos"])]
    w = [PCA_START] * EMBED_DIM
    lam = 0.0
    for _ in range(PCA_ITERS):
        mu_l = lit_double_array(mu)
        w_l = lit_double_array(w)
        s = F.aggregate(
            F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + (F.element_at(F.col("v"), j + 1) - F.element_at(mu_l, j + 1))
            * F.element_at(w_l, j + 1),
        )
        y_rows = (
            emb.select(s.alias("s"), F.posexplode("v").alias("pos", "x"))
            .select(
                "pos",
                ((F.col("x") - F.element_at(mu_l, F.col("pos") + 1)) * F.col("s")).alias("t"),
            )
            .groupBy("pos")
            .agg(F.sum("t").alias("y"))
            .collect()
        )
        y = [float(r["y"]) for r in sorted(y_rows, key=lambda r: r["pos"])]
        acc = 0.0
        for j in range(EMBED_DIM):
            acc = acc + w[j] * y[j]
        lam = acc / (n - 1)
        nrm2 = 0.0
        for j in range(EMBED_DIM):
            nrm2 = nrm2 + y[j] * y[j]
        nrm = math.sqrt(nrm2)
        if nrm == 0.0:  # all-zero corpus: direction undefined, stop
            break
        w = [y[j] / nrm for j in range(EMBED_DIM)]
    return n, mu, w, lam


def pca_debias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-BUT-THE-TOP embedding debias (Mu & Viswanath, ICLR 2018):
    per vector, the component along the corpus's dominant principal
    direction and the residual norm after removing it —
    (vec_id, proj, norm_before, norm_after).  The standard
    post-processing before cosine retrieval: anisotropic embedding
    spaces concentrate mass along a few directions, and removing the
    top component measurably improves similarity quality — this is
    the operator a curation pipeline runs between embedding ingest and
    semdedup/ANN indexing.

    Scale shape: the fit is the pca_power_iter driver loop (bounded
    64-double transfers per iteration); the debias itself is ONE
    map-only projection — mu and w ride as plan literals, proj and
    norm_before are named columns of a first Project (computed once —
    referencing proj inside the residual fold's lambda would re-run
    its 64-term fold per element, the ADVICE-r12 LambdaVariable
    double-eval trap), and the residual fold reads them.  No join, no
    shuffle, no Python.

    Exactness: all three outputs are fixed-order per-row folds over
    (v, mu, w, proj) — identical expression trees both engines; the
    fit's cross-row drift (~ulp) rounds away at 6 dp.
    """
    schema = "vec_id long, proj double, norm_before double, norm_after double"
    fit = _pca_fit(spark, sf_dir)
    if fit is None:
        return spark.createDataFrame([], schema=schema)
    _n, mu, w, _lam = fit
    emb = _embeddings(spark, sf_dir)
    mu_l = lit_double_array(mu)
    w_l = lit_double_array(w)

    def fold(term):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)), F.lit(0.0), term
        )

    def xc(j):
        return F.element_at(F.col("v"), j + 1) - F.element_at(mu_l, j + 1)

    proj = fold(lambda acc, j: acc + xc(j) * F.element_at(w_l, j + 1))
    nb = F.sqrt(fold(lambda acc, j: acc + xc(j) * xc(j)))
    staged = emb.select(
        "vec_id", "v", proj.alias("proj"), nb.alias("norm_before")
    )
    na = F.sqrt(
        fold(
            lambda acc, j: acc
            + (xc(j) - F.col("proj") * F.element_at(w_l, j + 1))
            * (xc(j) - F.col("proj") * F.element_at(w_l, j + 1))
        )
    )
    return staged.select(
        "vec_id",
        F.round("proj", 6).alias("proj"),
        F.round("norm_before", 6).alias("norm_before"),
        F.round(na, 6).alias("norm_after"),
    )


# Reciprocal-rank-fusion constant (Cormack/Clarke/Buettcher 2009's
# standard k = 60) and the fused-list depth.
RRF_K = 60


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION of the exact and the ANN retrieval lists:
    per query, fuse :func:`cosine_topk`'s brute-force top-5 with
    :func:`ann_lsh`'s bucketed top-5 by RRF score
    Σ_lists 1/(RRF_K + rank) — the standard zero-tuning rank fusion a
    retrieval pipeline uses to combine rankers with incomparable
    scores (Cormack, Clarke & Buettcher, SIGIR 2009).  Neighbors both
    lists agree on float to the top; ANN-only candidates surface with
    one-list scores — the fused list is a practical recall hedge while
    the ANN index warms or drifts.

    Exactness: each rank contribution 1/(60+r) is one exact double
    division of small integers; a neighbor appears in at most two
    lists, so the score is at most ONE IEEE addition (commutative —
    order-free), and ties in the fused ordering break by neighbor id.
    Both input rankings are themselves driver-verified (oracle-exact),
    so the fusion inherits determinism end to end.

    Scale shape: two already-bounded top-k frames (|queries| × k rows
    each) union, one (qid, neighbor)-keyed agg, one qid-partitioned
    window — everything after the input operators is query-set-sized.
    """
    exact = cosine_topk(spark, sf_dir).select(
        "qid", "neighbor_id", F.col("rn").alias("r")
    )
    approx = ann_lsh(spark, sf_dir).select(
        "qid", "neighbor_id", F.col("rn").alias("r")
    )
    both = exact.unionByName(approx)
    scored = both.groupBy("qid", "neighbor_id").agg(
        F.sum(F.lit(1.0) / (F.lit(RRF_K) + F.col("r"))).alias("rrf"),
        F.count("*").cast("long").alias("n_lists"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rrf"), F.col("neighbor_id"))
    return (
        scored.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= TOPK)
        .select(
            "qid",
            "neighbor_id",
            F.round("rrf", 6).alias("rrf"),
            "n_lists",
            "fused_rank",
        )
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of BOTH ANN paths against exact search —
    (index, qid, n_exact, n_hit, recall): how many of
    :func:`cosine_topk`'s true top-5 the bucketed :func:`ann_lsh` and
    the cell-probed :func:`ann_ivf` retrievals each recovered.  The
    index-quality dashboard every ANN rollout watches before moving
    recall-sensitive traffic; tests/test_ann_recall.py pins aggregate
    floors, this exposes the same audit as an oracle-verified QUERY so
    a pipeline can alert on per-query regressions and compare the two
    index families side by side.

    Scale shape: all inputs are already-bounded (|queries| × k)-row
    rank lists, so everything here — the hit intersection joins, the
    qid aggs, the left joins — is query-set-sized regardless of corpus
    size.  Exactness: counts are integers; recall is one exact
    int/int IEEE division.
    """
    exact = cosine_topk(spark, sf_dir).select("qid", "neighbor_id")
    per_q = exact.groupBy("qid").agg(F.count("*").alias("n_exact"))

    def one(index_name: str, approx: DataFrame) -> DataFrame:
        # rank-list-sized joins: broadcast explicitly — post-agg/window
        # frames carry no size estimates, so the unhinted plan
        # co-shuffles two <=|q|xk sides (the r14 pq_recall_report pin)
        hits = (
            exact.join(
                F.broadcast(approx.select("qid", "neighbor_id")),
                ["qid", "neighbor_id"],
            )
            .groupBy("qid")
            .agg(F.count("*").alias("n_hit"))
        )
        return per_q.join(F.broadcast(hits), "qid", "left").select(
            F.lit(index_name).alias("index"),
            "qid",
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )

    return one("lsh", ann_lsh(spark, sf_dir)).unionByName(
        one("ivf", ann_ivf(spark, sf_dir))
    )


# Product quantization (r11): the IVF-PQ compression step — split each
# vector into PQ_SUB contiguous subspaces and store, per subspace, the
# id of the nearest codebook centroid.  64 dims × 8 bytes becomes
# PQ_SUB small codes (here 4 × 4 bits): the standard way a
# 100 TB-scale vector store fits in memory (Jégou et al., TPAMI 2011).
# Codebooks here are deterministic seed vectors (vec_id < PQ_K, the
# kmeans_step seeding convention) so the assignment is exactly
# verifiable; pq_train_codebooks (r14) runs the promised Lloyd
# refinement of each subspace codebook — deterministic, oracle-replayed
# end to end — and pq_recall_report measures what the training buys.
PQ_SUB = 4
PQ_K = 16
PQ_SUBDIM = EMBED_DIM // PQ_SUB


def _pq_collect_codebook(emb: DataFrame, k: int | None = None):
    """Driver-collect the seed codebook (vec_id < ``k``, default PQ_K
    — the kmeans_iterate seeding convention): returns (codes,
    flat_vals) where ``codes`` is the ascending list of actual seed
    vec_ids and ``flat_vals`` the flattened codebook as a plain
    Python list, or None when the corpus has no seeds.  BOUNDED by
    construction (<= k x EMBED_DIM doubles).  Attach to a frame with
    :func:`_pq_codebook_source` — NOT F.lit directly — so production
    geometries pick the broadcast transport.  ``k`` parameterizes the
    codebook-bits rung (r17: pq_bits_recall_report's 8-bit variant
    seeds 256 codes)."""
    if k is None:
        k = PQ_K
    seeds = (
        emb.filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("vec_id", "v")
        .collect()
    )
    if not seeds:
        return None
    codes = [int(r["vec_id"]) for r in seeds]
    flat_vals = [float(x) for r in seeds for x in r["v"]]
    return codes, flat_vals


# Codebook transport switch (VERDICT r12 #5): a plan-literal codebook
# is serialized into EVERY task binary of EVERY stage that scores
# codes; fine at the test 4x16x64 geometry (8 KiB) but at production
# IVF-PQ geometry (16 subspaces x 256 codes x 1024 dims = 2 MiB of
# doubles) it bloats task binaries cluster-wide.  Past this threshold
# the codebook rides a broadcast-joined 1-row frame instead: shipped
# once per executor via the broadcast exchange, O(1) bytes in the task
# binary.  A/B at both geometries: scratch/pq_codebook_ab.py; the two
# transports agree bit-for-bit (tests/test_round13_ops.py).
PQ_CODEBOOK_LITERAL_MAX_BYTES = 1 << 20


def _pq_codebook_source(df: DataFrame, flat_vals: list):
    """Attach the flattened codebook to ``df``; returns (df', col).
    Literal when small (the element_at folds reference it O(1) times
    in the expression tree); broadcast 1-row frame when past
    PQ_CODEBOOK_LITERAL_MAX_BYTES."""
    if len(flat_vals) * 8 <= PQ_CODEBOOK_LITERAL_MAX_BYTES:
        return df, lit_double_array(flat_vals)
    cb = df.sparkSession.createDataFrame(
        [(flat_vals,)], "__pq_cb array<double>"
    )
    return df.crossJoin(F.broadcast(cb)), F.col("__pq_cb")


def _pq_d2(vcol, flat, s, c):
    """Squared distance between subvector ``s`` of ``vcol`` and
    codebook entry ``c`` — the ONE left-fold both engines replay
    (the _ann_lsh_sql discipline); ``s``/``c`` may be ints or Columns.
    Fully HOF-indexed: the codebook literal appears O(1) times in the
    expression tree (an unrolled draft serialized a 5.7 MiB task
    binary from literal duplication)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_SUBDIM - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + (
            F.element_at(vcol, s * PQ_SUBDIM + j + 1)
            - F.element_at(flat, c * EMBED_DIM + s * PQ_SUBDIM + j + 1)
        )
        * (
            F.element_at(vcol, s * PQ_SUBDIM + j + 1)
            - F.element_at(flat, c * EMBED_DIM + s * PQ_SUBDIM + j + 1)
        ),
    )


def _pq_code_arr(flat, n_codes: int, vcol=None):
    """PQ codes for ``vcol`` (default: col("v")) as ONE positional-int
    array, s-major — the corpus-side index-build projection shared by
    pq_adc_topk and ann_ivf_adc.  The dists array is built ONCE per
    subspace by the inner transform; the outer lambda's ``ds`` is a
    LambdaVariable bound to that already-materialized array, so
    array_min + array_position are two O(n) scans of it, not
    re-evaluations of the d2 folds (Catalyst skips subexpression
    elimination under LambdaVariables, so naming the same transform
    twice would genuinely double the dominant PQ_SUB x n_codes x
    PQ_SUBDIM corpus-pass compute — ADVICE r12).  1-based
    array_position; ties to the first (lowest code), same as
    pq_quantize and the oracle's row_number ORDER BY (d2, pos)."""
    vcol = F.col("v") if vcol is None else vcol
    return F.transform(
        F.transform(
            F.sequence(F.lit(0), F.lit(PQ_SUB - 1)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda c: _pq_d2(vcol, flat, s, c),
            ),
        ),
        lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("int"),
    )


def _pq_adc_table(flat, n_codes: int, qvcol):
    """Per-query ADC lookup table (Jégou et al., TPAMI 2011): the
    PQ_SUB x n_codes subspace distances to the codebook, flattened
    s-major so entry [s * n_codes + c] is d2(query subvector s,
    codebook entry c) — one bounded row per query."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(PQ_SUB - 1)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda c: _pq_d2(qvcol, flat, s, c),
            ),
        )
    )


def _adc_sum(n_codes: int):
    """Fixed s-order chain of ADC table lookups over columns ``t``
    (the query's flat lookup table) and ``cs`` (the corpus vector's
    code array) — bit-identical to the oracle's fixed-order sum of
    the same folds (no order-unstable float aggregation)."""
    adc = F.lit(0.0)
    for s in range(PQ_SUB):
        adc = adc + F.element_at(
            F.col("t"), F.lit(s * n_codes + 1) + F.col("cs")[s]
        )
    return adc


def _batched_codes(
    src: DataFrame,
    flat_vals: list,
    n_codes: int,
    passthrough: tuple[str, ...] = ("vec_id",),
    vcol: str = "v",
) -> DataFrame:
    """(passthrough..., cs: array<int>) PQ corpus encode as ONE Arrow
    batch kernel (r18, guide §4.2) — numpy replays the `_pq_d2` folds
    order-exactly so codes are bit-identical to the `_pq_code_arr`
    projection it replaces (pinned in tests/test_batchmath.py); the
    JVM form interpreted PQ_SUB x n_codes x PQ_SUBDIM fold steps per
    row.  The codebook rides the closure into the per-stage task
    binary — one broadcast per stage, the same transport class as the
    `_pq_codebook_source` literal/broadcast-frame switch it subsumes
    on this path (2 MiB at production IVF-PQ geometry)."""
    from pyspark.sql import types as T

    from ..functions import batchmath as bm
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(src.sparkSession)
    out_schema = T.StructType(
        [src.schema[name] for name in passthrough]
        + [T.StructField("cs", T.ArrayType(T.IntegerType()))]
    )
    return src.select(*passthrough, vcol).mapInPandas(
        bm.pq_codes_fn(
            flat_vals, n_codes, PQ_SUB, PQ_SUBDIM, passthrough, vcol
        ),
        schema=out_schema,
    )


# Bounded query-set memo for the batched search kernels: every search
# audit reads the SAME vec_id < N_QUERIES rows, and without the memo
# each kernel invocation pays one collect job (~0.65 s of driver wall
# at sf0.1 — measured in scratch/r18_mip_overhead.py).  Keyed like
# _PQ_TRAIN_CACHE: (application id, sf_dir, corpus fingerprint) — a
# bounded input artifact (N_QUERIES x EMBED_DIM doubles), the same
# transport class as the collected codebook seeds.
_QUERY_SET_CACHE: dict[tuple, tuple | None] = {}


# Encode-once memo for the PQ code columns (r18): the IVF-filtered
# search family re-derived the corpus code projection on EVERY
# consumer invocation — at sf0.1 that is one extra Arrow stage per
# query run; production builds the code index ONCE and serves it (the
# codes ARE the index).  Keyed like _RESIDUAL_FRAME_CACHE plus the
# codebook content digest — sha1 of its float64 bytes, so two
# codebooks share an entry only if bit-identical (Python hash() of the
# values collides: hash(-1.0) == hash(-2.0)).  Covers seed-vs-trained,
# codebook bits, and the assignment mode the residual codebook already
# depends on.
# Payload is a non-eagerly checkpointed DataFrame handle — plan-only
# consumers print without materializing, the first action pays the
# encode, every later consumer reads the blocks.
_PQ_CODES_CACHE: dict[tuple, DataFrame] = {}


def _codes_frame(
    spark: SparkSession,
    sf_dir: str,
    src: DataFrame,
    flat_vals: list,
    n_codes: int,
    passthrough: tuple[str, ...],
    vcol: str,
    kind: str,
) -> DataFrame:
    key = None
    fp = _pq_corpus_fingerprint(sf_dir)
    if fp is not None:
        key = (
            spark.sparkContext.applicationId,
            sf_dir,
            fp,
            kind,
            n_codes,
            hashlib.sha1(np.asarray(flat_vals, dtype=np.float64).tobytes()).hexdigest(),
        )
        hit = _PQ_CODES_CACHE.get(key)
        if hit is not None:
            return hit
    out = _batched_codes(src, flat_vals, n_codes, passthrough, vcol)
    out = out.localCheckpoint(eager=False)
    if key is not None:
        _PQ_CODES_CACHE[key] = out
    return out


def _collect_queries(emb: DataFrame, sf_dir: str | None = None):
    """Driver-collect the bounded query set (vec_id < N_QUERIES) for
    the batched search kernels — (qids, qvecs) plain Python lists, or
    None when empty.  The same N_QUERIES x EMBED_DIM transport the
    broadcast query frame already paid, just landed in the closure.
    Memoized per (application, sf_dir, corpus fingerprint) when
    ``sf_dir`` is given."""
    key = None
    if sf_dir is not None:
        fp = _pq_corpus_fingerprint(sf_dir)
        if fp is not None:
            key = (emb.sparkSession.sparkContext.applicationId, sf_dir, fp)
            if key in _QUERY_SET_CACHE:
                return _QUERY_SET_CACHE[key]
    rows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "v")
        .orderBy("vec_id")
        .collect()
    )
    out = (
        ([int(r["vec_id"]) for r in rows], [list(r["v"]) for r in rows])
        if rows
        else None
    )
    if key is not None:
        _QUERY_SET_CACHE[key] = out
    return out


def _exact_topk_frame(
    emb: DataFrame, topk: int = TOPK, sf_dir: str | None = None
) -> DataFrame:
    """The brute-force exact squared-L2 leg every *_recall_report
    audits against, batched (r18, guide §4.2): one mapInPandas corpus
    pass emits per-batch top-``topk`` candidates per query (d2 via the
    bit-identical exact-leg fold replay, per-batch selection under the
    (d2, neighbor_id) total order is exact for global top-k), then the
    final window ranks the ~|q| x topk x n_batches survivors —
    (qid, neighbor_id, d2, rn), self excluded.  The JVM form built the
    full |corpus| x |q| pair table (broadcast NLJ) and evaluated the
    64-term fold per pair before an equally wide window."""
    from ..functions import batchmath as bm
    from ..session import ensure_package_on_executors

    spark = emb.sparkSession
    cq = _collect_queries(emb, sf_dir)
    if cq is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, d2 double, rn long"
        )
    qids, qvecs = cq
    ensure_package_on_executors(spark)
    part = emb.select("vec_id", "v").mapInPandas(
        bm.exact_topk_partials_fn(qids, qvecs, topk),
        schema="qid long, neighbor_id long, d2 double",
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("neighbor_id"))
    return (
        part.withColumn("rn", F.row_number().over(wq).cast("long"))
        .filter(F.col("rn") <= topk)
    )


def _adc_topk_frame(
    emb: DataFrame,
    flat_vals: list,
    n_codes: int,
    topk: int,
    sf_dir: str | None = None,
) -> DataFrame:
    """Full-scan compressed-domain search, fused into one Arrow batch
    kernel (r18, guide §4.2): encode the batch, build the per-query
    ADC tables once per task from the same codebook, score by the
    fixed s-order `_adc_sum` chain, emit per-batch top-``topk``
    candidates per query — (qid, neighbor_id, adc, rn) after the
    final window over the bounded survivors.  Codes, table entries
    and adc totals are bit-identical to the JVM path (see
    tests/test_batchmath.py); per-batch selection under
    (adc, neighbor_id) is exact for global top-k.  Replaces the
    corpus-encode projection + broadcast query-table join + full-width
    window of the former plan."""
    from ..functions import batchmath as bm
    from ..session import ensure_package_on_executors

    spark = emb.sparkSession
    cq = _collect_queries(emb, sf_dir)
    if cq is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, adc double, rn long"
        )
    qids, qvecs = cq
    ensure_package_on_executors(spark)
    part = emb.select("vec_id", "v").mapInPandas(
        bm.adc_topk_partials_fn(
            flat_vals, n_codes, PQ_SUB, PQ_SUBDIM, qids, qvecs, topk
        ),
        schema="qid long, neighbor_id long, adc double",
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc"), F.col("neighbor_id"))
    return (
        part.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= topk)
    )


def pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (vector, subspace): the nearest-codebook code and its
    squared quantization error — (vec_id, subspace, code, sq_err).

    Scale shape: the codebook is the Lloyd-TRAINED one (r15, VERDICT
    r14 #1 — _pq_production_codebook: PQ_TRAIN_ITERS one-scan training
    passes, memoized per corpus so every PQ consumer trains ONCE;
    SPARK_GRAFT_PQ_SEED=1 restores the seed codebook for the A/B),
    a BOUNDED driver artifact (16 × 64 doubles — the kmeans_iterate
    K-centroid precedent).  Assignment is then a SINGLE map-only
    projection over the corpus: the flattened codebook rides into the
    plan as one literal array (or a broadcast 1-row frame past
    PQ_CODEBOOK_LITERAL_MAX_BYTES — the production-geometry transport,
    VERDICT r12 #5), each subspace's 16 distances are JVM higher-order
    folds, and the argmin is array_position of the array_min (first
    match — ties to the lower code, the kmeans convention).  No join,
    no shuffle, no Python: the canonical embarrassingly-parallel
    encode pass.  The DuckDB twin replays the training recurrence
    (the unrolled _pq_train_cte Lloyd chain) and the same left-fold
    distance sums (bit-identical, the _ann_lsh_sql discipline) with a
    row_number-over-(d2, code) argmin.
    """
    emb = _embeddings(spark, sf_dir)
    cb = _pq_production_codebook(emb, sf_dir)
    if cb is None:
        return spark.createDataFrame(
            [], schema="vec_id long, subspace long, code long, sq_err double"
        )
    # Codes are the ACTUAL seed vec_ids, not collected positions
    # (ADVICE r11): with a gap below PQ_K the DuckDB twin — which uses
    # vec_id as the code — would otherwise silently diverge, and a
    # partial seed set would index element_at past the flat codebook
    # literal (ARITHMETIC-class error under Spark 4's ANSI default).
    # n_codes bounds every codebook index to what was really collected.
    codes, flat_vals = cb
    n_codes = len(codes)
    codes_lit = F.lit(codes)
    emb, flat = _pq_codebook_source(emb, flat_vals)

    def d2(s, c):
        return _pq_d2(F.col("v"), flat, s, c)

    sub = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_SUB - 1)),
        lambda s: F.struct(
            s.cast("long").alias("subspace"),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)), lambda c: d2(s, c)
            ).alias("dists"),
        ),
    )
    return (
        emb.select("vec_id", F.explode(sub).alias("q"))
        .select("vec_id", "q.subspace", "q.dists")
        .select(
            "vec_id",
            "subspace",
            # array_position is 1-based = element_at index; ties go to
            # the first (lowest-vec_id) match, same as the oracle's
            # row_number ORDER BY (d2, code).
            F.element_at(
                codes_lit,
                F.array_position(F.col("dists"), F.array_min("dists")).cast(
                    "int"
                ),
            )
            .cast("long")
            .alias("code"),
            F.round(F.array_min("dists"), 6).alias("sq_err"),
        )
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) top-5 search over the PQ
    codes — the query path that completes pq_quantize's encode path
    (Jégou et al., TPAMI 2011): each query precomputes a PQ_SUB x
    n_codes table of subspace distances to the codebook ONCE, and
    every corpus vector is then scored by PQ_SUB table lookups on its
    codes instead of a 64-dim distance — (qid, neighbor_id, adc_d2,
    rn), self excluded, ties to the lower neighbor id (the cosine_topk
    conventions).

    Scale shape — why ADC is THE 100 TB vector-search pattern: the
    corpus pass reads only the code columns (PQ_SUB small ints per
    vector, ~16x narrower than the raw embedding), scoring is O(PQ_SUB)
    lookups + adds per (query, vector) with NO per-pair vector
    arithmetic, the 50-row query-table frame rides a BroadcastExchange
    (bounded: |queries| x PQ_SUB x n_codes doubles), and the only
    shuffle is the per-qid top-k, pruned map-side by WindowGroupLimit
    to K rows per (partition, qid).  At production scale the same plan
    runs after an IVF list prefilter (ann_ivf's cluster assignment)
    so each query touches ~nprobe/k of the codes.

    Exactness: adc_d2 equals sum_s ||q_s - codebook[code_s]||^2 by
    construction, so the DuckDB twin recomputes each term with the
    identical _pq_d2 left fold and adds the PQ_SUB terms in the same
    fixed s-order — no order-unstable float aggregation anywhere; only
    the final round(…, 6) is presentational.
    """
    emb = _embeddings(spark, sf_dir)
    # trained codebook on the production search path (r15, VERDICT r14
    # #1) — memoized train-once; SPARK_GRAFT_PQ_SEED=1 for the A/B.
    cb = _pq_production_codebook(emb, sf_dir)
    if cb is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, adc_d2 double, rn long"
        )
    codes, flat_vals = cb
    n_codes = len(codes)

    # r18: the whole full-scan ADC search — corpus encode, per-query
    # lookup tables, fixed s-order scoring, per-batch top-k — fused
    # into one Arrow batch kernel (guide §4.2; bit-identical values,
    # see _adc_topk_frame).  The former plan built the corpus-encode
    # projection, broadcast the 50-row table frame, and windowed the
    # full |corpus| x |q| pair table.
    return _adc_topk_frame(emb, flat_vals, n_codes, TOPK, sf_dir).select(
        "qid", "neighbor_id", F.round("adc", 6).alias("adc_d2"), "rn"
    )


def ann_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-prefiltered ADC top-5 search — the full IVF-PQ production
    pipeline (Jégou et al., TPAMI 2011) that SCALE.md's pq_adc_topk
    entry promises: the coarse quantizer (``ivf_assignments``'
    deterministic-Lloyd cells) prunes the corpus to each query's
    NPROBE nearest cells, and only THOSE cells' PQ codes are
    ADC-scored — (qid, neighbor_id, adc_d2, rn), self excluded, ties
    to the lower neighbor id (the pq_adc_topk conventions).  Completes
    SURVEY §2.2's similarity-search north star: ann_ivf (cell
    prefilter, raw-vector rerank) + pq_quantize (encode) + pq_adc_topk
    (compressed-domain scoring) composed into one plan.

    Scale shape: the index build is ONE map-only corpus pass (cell id
    from the broadcast centroid table + PQ codes from the broadcast
    codebook literal — both bounded driver collects); the scoring join
    is a broadcast HASH join on cid (the bounded query side: N_QUERIES
    x NPROBE rows carrying one PQ_SUB x n_codes lookup table each), so
    each query touches ~NPROBE/k of the corpus codes and NO
    corpus-wide pair table exists past the cell prefilter — the
    plan-shape pin (tests/test_plans.py) rejects any
    BroadcastNestedLoopJoin here.  The per-qid top-k prunes map-side
    via WindowGroupLimit before its one exchange.  Recall vs
    pq_adc_topk's exact full-scan ADC ranks is audited in
    tests/test_ann_recall.py.

    Exactness: cells replay ann_ivf's unrolled-Lloyd oracle CTE; codes
    and the ADC total replay pq_adc_topk's fixed-order folds — the
    DuckDB twin (__spark_entry__._ann_ivf_adc_sql) composes those two
    already-banked recurrences, so the output is bit-identical, not
    merely close.
    """
    emb = _embeddings(spark, sf_dir)
    # trained codebook on the production search path (r15, VERDICT r14
    # #1) — memoized train-once; SPARK_GRAFT_PQ_SEED=1 for the A/B.
    cb = _pq_production_codebook(emb, sf_dir)
    if cb is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, adc_d2 double, rn long"
        )
    codes, flat_vals = cb
    n_codes = len(codes)

    assign, cents = ivf_assignments(spark, sf_dir)
    # index build: cell id + PQ codes — r18, encoded ONCE per session
    # by the Arrow batch kernel and checkpointed (bit-identical codes;
    # the codes ARE the index a production store serves from).
    corpus = _codes_frame(
        spark, sf_dir, assign, flat_vals, n_codes, ("vec_id", "cid"), "v", "raw"
    )

    # query side: NPROBE nearest cells (ann_ivf's probe selection,
    # ties ORDER BY (d2, cid)) + the ADC lookup table per probe row.
    # Queries come from the RAW embeddings, not assign — the probe
    # argmin re-derives the assignment anyway (rn=1 IS the nearest
    # cell), and reading assign here would drag a second full
    # assignment pass into the plan just to reach the same v.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "d2", _sq_dist(F.col("qv"), F.col("cv"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("cid"))
    p_src, p_flat = _pq_codebook_source(
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("qid", "cid", "qv"),
        flat_vals,
    )
    probes = p_src.select(
        "qid", "cid", _pq_adc_table(p_flat, n_codes, F.col("qv")).alias("t")
    )

    # cell-prefiltered scoring: broadcast HASH join on cid — a corpus
    # vector is in exactly one cell, so no (qid, neighbor) dedup is
    # needed.
    pairs = corpus.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("qid")
    )
    adc = _adc_sum(n_codes)
    w = Window.partitionBy("qid").orderBy(F.col("adc"), F.col("neighbor_id"))
    return (
        pairs.select(
            "qid", F.col("vec_id").alias("neighbor_id"), adc.alias("adc")
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id", F.round("adc", 6).alias("adc_d2"), "rn")
    )


# Build-once memo for the residual index frame (ADVICE r15): every
# residual consumer (ivf_pq_residual, ivf_pq_adc_topk and the recall
# reports over them) shares one checkpointed frame per corpus instead
# of re-materializing it per call.  Keyed by (Spark application id,
# sf_dir, corpus fingerprint) — localCheckpoint blocks live on THIS
# context's executors, so a new session must rebuild; the fingerprint
# reuses _pq_corpus_fingerprint's invalidation rule.  Payload is two
# DataFrame handles, not data.
_RESIDUAL_FRAME_CACHE: dict[tuple, tuple] = {}


def _residual_frame(spark: SparkSession, sf_dir: str):
    """The materialized residual index (vec_id, cid, rv = v − cell
    centroid) plus the checkpointed centroid table — shared by the
    residual encode (ivf_pq_residual) and the residual search
    (ivf_pq_adc_topk).  Materialize ONCE, re-spread across cores:
    assign's hash-agg output AQE-coalesces to 1 partition at test row
    counts, which would serialize the fold-heavy encode (and every
    training pass) onto one core — measured 71 s/pass vs 14 fanned at
    sf0.1 (SCALE.md "r15 residual training").  The checkpoint is the
    single-process analog of what production IVF-PQ does anyway:
    write the residual table once, train and encode against the
    materialized copy instead of re-deriving residuals (a Lloyd
    assignment pass each) per training scan.

    The checkpoint is NON-eager and the frame memoized per (app, sf_dir,
    corpus fingerprint) — ADVICE r15: plan-only consumers (dump_plans,
    test_plans' formatted_plan) print without triggering a
    materialization job, the first real action materializes the RDD
    blocks once, and every later consumer in the session reuses them.
    """
    fp = _pq_corpus_fingerprint(sf_dir)
    key = None
    if fp is not None:
        # The residual frame derives from ivf_assignments, so its memo
        # inherits the resolved assignment-mode key term (ADVICE r16):
        # a mode switch within one session must rebuild, not reuse.
        key = (
            spark.sparkContext.applicationId, sf_dir, fp,
        ) + _ivf_assignment_mode(sf_dir)
        hit = _RESIDUAL_FRAME_CACHE.get(key)
        if hit is not None:
            return hit
    assign, cents = ivf_assignments(spark, sf_dir)
    res = assign.join(F.broadcast(cents), "cid").select(
        "vec_id",
        "cid",
        F.zip_with("v", "cv", lambda x, y: x - y).alias("rv"),
    )
    out = fan_out(res, spark).localCheckpoint(eager=False), cents
    if key is not None:
        _RESIDUAL_FRAME_CACHE[key] = out
    return out


def ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVF-PQ encode — the encode step of Jégou et al. (TPAMI
    2011) as actually published: each vector is assigned to its IVF
    cell, the cell centroid is SUBTRACTED, and PQ quantizes the
    residual r = x - c(x) (residuals concentrate near 0, so a fixed
    codebook budget spends its resolution where the data is — the
    reason every production IVF-PQ index encodes residuals, not raw
    vectors).  Output: (vec_id, cid, subspace, code, sq_err) — the
    complete index entry a production vector store writes per vector.

    Scale shape: ivf_assignments' one-pass-per-iteration Lloyd (cells
    from checkpointed centroids), a broadcast join to attach the cell
    centroid, one zip_with subtraction, then pq_quantize's map-only
    encode over the residual — dists built once per subspace
    (struct+explode), codebook transport geometry-driven via
    _pq_codebook_source.  The residual codebook is Lloyd-TRAINED on
    the residuals themselves (r15, VERDICT r14 #1 — kind="residual"
    memo entry); training scans the checkpointed residual frame from
    :func:`_residual_frame` — the residual table is materialized ONCE
    per corpus and each of the PQ_TRAIN_ITERS passes reads that copy
    map-only, exactly what a production index build does (ADVICE r15
    docstring fix; SCALE.md "r15 residual training").  No shuffle
    beyond the Lloyd passes and the one materializing fan-out.

    Exactness: residual components are single IEEE subtractions (bit-
    identical in both engines); the codebook is the trained residual
    seeds' refinement (actual seed vec_ids as code labels, the
    pq_quantize convention); the DuckDB twin
    (__spark_entry__._ivf_pq_residual_sql) composes the unrolled-Lloyd
    CTE with the unrolled residual-training CTE and the same left-fold
    argmin over residuals.
    """
    res, _cents = _residual_frame(spark, sf_dir)
    cb = _pq_production_codebook(
        res.select("vec_id", F.col("rv").alias("v")), sf_dir, kind="residual"
    )
    if cb is None:
        return spark.createDataFrame(
            [],
            schema=(
                "vec_id long, cid long, subspace long, code long, "
                "sq_err double"
            ),
        )
    codes, flat_vals = cb
    n_codes = len(codes)
    codes_lit = F.lit(codes)
    res, flat = _pq_codebook_source(res, flat_vals)

    sub = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_SUB - 1)),
        lambda s: F.struct(
            s.cast("long").alias("subspace"),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda c: _pq_d2(F.col("rv"), flat, s, c),
            ).alias("dists"),
        ),
    )
    return (
        res.select("vec_id", "cid", F.explode(sub).alias("q"))
        .select("vec_id", "cid", "q.subspace", "q.dists")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cid"),
            "subspace",
            # ties to the first (lowest code) — the pq_quantize /
            # oracle row_number ORDER BY (d2, code) convention
            F.element_at(
                codes_lit,
                F.array_position(F.col("dists"), F.array_min("dists")).cast(
                    "int"
                ),
            )
            .cast("long")
            .alias("code"),
            F.round(F.array_min("dists"), 6).alias("sq_err"),
        )
    )


def ivf_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-ADC top-5 search — the IVFADC query path Jégou et al.
    (TPAMI 2011, §IV) actually publish, completing ivf_pq_residual's
    encode: each query picks its NPROBE nearest cells, subtracts THAT
    cell's centroid from itself (one query residual PER PROBE — the
    defining difference from raw-codebook ann_ivf_adc, whose one ADC
    table serves every probe), and ADC-scores the probed cells'
    residual codes against the residual-trained codebook — (qid,
    neighbor_id, adc_d2, rn), self excluded, ties to the lower
    neighbor id (the pq_adc_topk conventions).  ivf_pq_recall_report
    measures what residual encoding buys over the raw path.

    Scale shape: identical to ann_ivf_adc's pinned plan — ONE map-only
    index pass over the materialized residual frame (codes from the
    broadcast codebook transport), the bounded probe frame (N_QUERIES
    x NPROBE rows, one PQ_SUB x n_codes table each) as the BuildRight
    of a broadcast HASH join on cid, per-qid top-k pruned map-side by
    WindowGroupLimit.  The per-probe query residual is a named Project
    column computed once before the ADC table expression reads it
    PQ_SUB x n_codes x PQ_SUBDIM times (the pca_debias single-eval
    discipline).

    Exactness: query/corpus residual components are single IEEE
    subtractions; codes and ADC totals replay the banked fixed-order
    folds; the DuckDB twin (__spark_entry__._ivf_pq_adc_sql) composes
    the unrolled Lloyd chain, the materialized residual CTE, the
    prefixed residual-training replay, and the per-probe residual ADC.
    """
    ranked = _ivf_pq_adc_ranked(spark, sf_dir, TOPK)
    if ranked is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, adc_d2 double, rn long"
        )
    return ranked.select(
        "qid", "neighbor_id", F.round("adc", 6).alias("adc_d2"), "rn"
    )


def _ivf_pq_adc_ranked(spark: SparkSession, sf_dir: str, cap: int):
    """The shared IVFADC candidate stage — (qid, neighbor_id, adc, rn)
    with rn <= ``cap`` under the (adc, neighbor_id) window order, or
    None on an empty corpus.  ivf_pq_adc_topk serves it at cap=TOPK;
    ivf_pq_rerank_topk over-fetches at cap=RERANK_CAP and hands the
    candidates to the exact re-rank (one ranking, two consumers — the
    rn <= TOPK prefix of the cap ranking IS the ADC top-k, so the
    composed recall report prices both variants from one corpus
    pass)."""
    pairs = _ivf_pq_probe_pairs(spark, sf_dir, NPROBE)
    if pairs is None:
        return None
    w = Window.partitionBy("qid").orderBy(F.col("adc"), F.col("neighbor_id"))
    return (
        pairs.select("qid", "neighbor_id", "adc")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= cap)
    )


def _ivf_pq_probe_pairs(spark: SparkSession, sf_dir: str, max_probe: int):
    """The raw IVFADC candidate pairs — (qid, neighbor_id, adc, cr)
    for every corpus vector in the query's ``max_probe`` nearest
    cells, self excluded, ``cr`` the probed cell's rank (1 =
    nearest), or None on an empty corpus.  The per-probe query
    residual (qrv = qv − probed centroid) is named as a Project
    column before the ADC table reads it; a corpus vector is in
    exactly one cell so no (qid, neighbor) dedup is needed.
    _ivf_pq_adc_ranked consumes it at max_probe=NPROBE;
    ivf_pq_probe_sweep over-fetches at max(ANN_PROBE_SET) and
    explodes the qualifying operating points in-row."""
    emb = _embeddings(spark, sf_dir)
    res, cents = _residual_frame(spark, sf_dir)
    cb = _pq_production_codebook(
        res.select("vec_id", F.col("rv").alias("v")), sf_dir, kind="residual"
    )
    if cb is None:
        return None
    codes, flat_vals = cb
    n_codes = len(codes)

    # index build: residual PQ codes — r18, encoded ONCE per session
    # by the Arrow batch kernel over the materialized residual frame
    # and checkpointed (bit-identical codes; the production index
    # artifact).
    corpus = _codes_frame(
        spark, sf_dir, res, flat_vals, n_codes, ("vec_id", "cid"), "rv", "residual"
    )

    # query side: the max_probe nearest cells, then the PER-PROBE
    # residual (qrv = qv − probed centroid) named as a Project column
    # before the ADC table reads it.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "d2", _sq_dist(F.col("qv"), F.col("cv"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("cid"))
    pr = (
        qc.withColumn("cr", F.row_number().over(wq))
        .filter(F.col("cr") <= max_probe)
        .select(
            "qid",
            "cid",
            "cr",
            F.zip_with("qv", "cv", lambda x, y: x - y).alias("qrv"),
        )
    )
    p_src, p_flat = _pq_codebook_source(pr, flat_vals)
    probes = p_src.select(
        "qid",
        "cid",
        "cr",
        _pq_adc_table(p_flat, n_codes, F.col("qrv")).alias("t"),
    )

    pairs = corpus.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("qid")
    )
    adc = _adc_sum(n_codes)
    return pairs.select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc"),
        "cr",
    )


def ivf_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE: the cell-split plan — for every cell
    whose occupancy exceeds the corpus average, (cid, n_vectors,
    split_seed, max_d2) where split_seed is the member FARTHEST from
    the cell centroid (ties to the lowest vec_id) and max_d2 that
    distance.  This is the action end of the monitoring loop
    streaming_cell_occupancy feeds: oversized cells degrade IVF
    search (a probe scans the whole cell), and the standard remedy is
    splitting them with the farthest member as the second seed —
    exactly a 2-means init on the cell (the same farthest-point
    heuristic k-means++ formalizes, Arthur & Vassilvitskii SODA'07).
    An index rebuild consumes this table directly: one new seed per
    overfull cell.

    Scale shape: one broadcast join attaches the k-row centroid table
    to the assignment (both memoized artifacts of ivf_assignments),
    one map-side algebraic agg per cell — max_by over a (d2,
    -vec_id) struct is the argmax-with-tiebreak computed as a running
    winner, no per-cell sort, no window over the corpus (the
    keep_best_dedup shape) — and the above-average threshold is one
    unpartitioned window over the k-row aggregate.  Exactness: d2 is
    the banked j-ascending fold (identical doubles both engines), the
    argmax ties on the integer vec_id, the threshold compares an
    integer count against avg(integers) (exact in both engines), and
    max_d2 rounds at 6dp on output only.
    """
    assign, cents = ivf_assignments(spark, sf_dir)
    memb = assign.join(F.broadcast(cents), "cid").select(
        "cid",
        "vec_id",
        _sq_dist(F.col("v"), F.col("cv")).alias("d2"),
    )
    per_cell = memb.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.max_by(
            "vec_id",
            F.struct(F.col("d2"), (-F.col("vec_id")).alias("nv")),
        )
        .cast("long")
        .alias("split_seed"),
        F.round(F.max("d2"), 6).alias("max_d2"),
    )
    w = Window.partitionBy()
    return (
        per_cell.withColumn("avg_n", F.avg("n_vectors").over(w))
        .filter(F.col("n_vectors").cast("double") > F.col("avg_n"))
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_vectors",
            "split_seed",
            "max_d2",
        )
    )


def ivf_split_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance, the APPLY step (VERDICT r16 #5 — closes
    the monitor → plan → apply loop that streaming_cell_occupancy and
    :func:`ivf_split_plan` open): for every overfull cell in the split
    plan, reassign its members between the two split seeds — the OLD
    cell centroid and the plan's farthest-member split-seed vector
    (the k-means++-style 2-means init, Arthur & Vassilvitskii
    SODA'07) — and report the occupancy before/after: (cid, n_before,
    n_keep, n_split), where n_keep stays with the old centroid,
    n_split moves to the new seed's cell, and n_keep + n_split =
    n_before (the membership partition preserved by construction).
    The split seed itself always moves (its distance to itself is 0 <
    its max_d2 to the centroid), so every planned cell's occupancy
    strictly decreases on any cell with a nonzero-radius member set —
    the occupancy-reduction invariant pinned in pytest.

    Scale shape: the plan and seed-vector tables are k-row bounded —
    the seed vectors are fetched BY KEY (the plan broadcasts onto a
    vec_id hash join against the corpus, never a scan), and the one
    corpus-sized pass is the members-of-overfull-cells hash join
    (assign ⋈ broadcast(plan)) followed by a map-side algebraic
    count_if agg.  Every post-agg frame in the join tree is
    explicitly broadcast (no size estimates — the r14 pin).

    Exactness: both member-to-seed distances are the banked
    j-ascending _sq_dist fold (bit-identical in both engines), the
    move rule is a strict < on those exactly-computed doubles (ties
    stay with the old centroid in both engines), and the outputs are
    integer counts.  DuckDB twin: __spark_entry__._ivf_split_apply_sql
    (the shared split chain + the reassignment tail).
    """
    assign, cents = ivf_assignments(spark, sf_dir)
    plan = ivf_split_plan(spark, sf_dir)
    emb = _embeddings(spark, sf_dir)
    # split-seed vectors BY KEY: the k-row plan broadcasts onto the
    # corpus vec_id hash join — never a second corpus pair-scan.
    seeds = emb.join(
        F.broadcast(plan.select("cid", "split_seed")),
        emb["vec_id"] == F.col("split_seed"),
    ).select("cid", F.col("v").alias("sv"))
    two = cents.join(F.broadcast(seeds), "cid")
    memb = assign.join(F.broadcast(two), "cid")
    moves = _sq_dist(F.col("v"), F.col("sv")) < _sq_dist(
        F.col("v"), F.col("cv")
    )
    return (
        memb.select("cid", moves.alias("moves"))
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_before"),
            F.count_if(~F.col("moves")).cast("long").alias("n_keep"),
            F.count_if(F.col("moves")).cast("long").alias("n_split"),
        )
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_before",
            "n_keep",
            "n_split",
        )
    )


def ivf_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@TOPK of the two complete IVF-PQ pipelines —
    raw-codebook ann_ivf_adc vs residual-codebook ivf_pq_adc_topk —
    against exact squared-L2 over the FULL corpus: (variant, qid,
    n_exact, hits, recall), variants "raw" / "residual".  The audit
    that prices residual encoding end to end (IVF prefilter loss
    included, like ann_recall_report): Jégou et al.'s claim is that
    residuals concentrate near zero so a fixed codebook budget spends
    its resolution where the data is — this measures that claim on
    THIS corpus instead of citing it.

    Scale shape: both rank lists are their operators' pinned plans;
    the exact leg is one brute-force d2 top-k over the broadcast
    query set; everything past the corpus scans is query-set-sized,
    audit joins explicitly broadcast (post-agg frames carry no size
    estimates — the r14 pin).  Recall divides by n_exact (the
    *_recall_report convention).
    """
    emb = _embeddings(spark, sf_dir)
    # exact ground-truth leg, batched (r18 — see _exact_topk_frame)
    exact = _exact_topk_frame(emb, sf_dir=sf_dir).select("qid", "neighbor_id")
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )

    got = (
        ann_ivf_adc(spark, sf_dir)
        .select(F.lit("raw").alias("variant"), "qid", "neighbor_id")
        .unionByName(
            ivf_pq_adc_topk(spark, sf_dir).select(
                F.lit("residual").alias("variant"), "qid", "neighbor_id"
            )
        )
    )
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("variant", "qid")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    base = per_q.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("raw",), ("residual",)], "variant string"
            )
        )
    )
    return base.join(F.broadcast(hits), ["variant", "qid"], "left").select(
        "variant",
        "qid",
        "n_exact",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        F.round(
            F.coalesce(F.col("hits"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


def ivf_pq_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@TOPK of the RESIDUAL IVFADC path at every
    nprobe operating point in ANN_PROBE_SET — (nprobe, qid, n_exact,
    n_hit, recall), ground truth exact full-corpus squared L2
    (VERDICT r15 #4: ann_probe_sweep prices nprobe for the raw-vector
    IVF path; this prices it for the path production actually runs
    after r15 — trained residual codes, per-probe query residuals).
    Together with ivf_pq_rerank_recall_report (the CAP axis) this
    completes the tuning surface of the production index: nprobe
    buys candidate RECALL, CAP+rerank buys candidate ORDERING.

    Scale shape — the ann_probe_sweep one-pass-many-points pattern:
    candidates are fetched ONCE at max(ANN_PROBE_SET) probes
    (_ivf_pq_probe_pairs — each candidate carries its probed cell's
    rank ``cr`` and ITS probe's residual-ADC score, the per-probe
    table semantics of ivf_pq_adc_topk), the sweep EXPLODES the
    qualifying levels {p : p >= cr} in-row, and one window pass ranks
    all operating points — not one corpus pass per nprobe.  The
    exact leg is one brute-force d2 top-k over the broadcast query
    set; audit joins explicitly broadcast (post-window frames carry
    no size estimates — the r14 pin).

    NOT monotone by construction: unlike ann_probe_sweep's exact
    in-candidate ranking (where growing the candidate set can only
    help), ADC ranks by QUANTIZED distance, so a new cell's badly
    quantized candidate can displace a true neighbor from the ADC
    top-k — the sweep measures that too (the honest version of the
    curve).  Exactness: probe selection and ADC folds replay
    ivf_pq_adc_topk's banked conventions; counts are integers and
    recall one exact int/int division.
    """
    emb = _embeddings(spark, sf_dir)
    schema = (
        "nprobe long, qid long, n_exact long, n_hit long, recall double"
    )
    pairs = _ivf_pq_probe_pairs(spark, sf_dir, max(ANN_PROBE_SET))
    if pairs is None:
        return spark.createDataFrame([], schema=schema)

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("neighbor_id"))
    exact = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), d2.alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id")
    )
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )

    levels = F.filter(
        F.lit(list(ANN_PROBE_SET)), lambda p: p >= F.col("cr")
    )
    scored = pairs.select(
        "qid",
        "neighbor_id",
        "adc",
        F.explode(levels).alias("nprobe"),
    )
    w = Window.partitionBy("nprobe", "qid").orderBy(
        F.col("adc"), F.col("neighbor_id")
    )
    got = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "qid",
            "neighbor_id",
        )
    )
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("nprobe", "qid")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    base = per_q.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(int(p),) for p in ANN_PROBE_SET], "nprobe long"
            )
        )
    )
    return base.join(F.broadcast(hits), ["nprobe", "qid"], "left").select(
        "nprobe",
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


# Two-stage retrieval: how many ADC candidates the exact re-rank
# refines.  CAP/TOPK = 5 here mirrors the usual 10-100x production
# over-fetch ratio at test scale.
RERANK_CAP = 25

# The CAP operating points rerank_cap_sweep prices (VERDICT r16 #1):
# the r16 sweeps ranked the recall levers rerank/CAP > codebook bits
# > nprobe, but only this — the TOP lever — had a single measured
# point (RERANK_CAP).  The sweep spans 1x..20x TOPK around it.
RERANK_CAP_SET = (5, 10, 25, 50, 100)


def _exact_rerank_topk(emb: DataFrame, cand: DataFrame) -> DataFrame:
    """Stage 2 of two-stage retrieval, shared by adc_rerank_topk and
    ivf_pq_rerank_topk (r16): exact squared-L2 re-rank of a bounded
    (qid, neighbor_id) candidate list against the stored raw vectors
    — (qid, neighbor_id, d2, rn), top TOPK per query, self already
    excluded upstream, ties to the lower neighbor id.

    Scale shape: raw vectors are fetched BY KEY for both sides — the
    |q| x CAP candidate list broadcasts onto the corpus vec_id hash
    join, the query vectors onto the qid hash join; everything past
    the two key fetches is candidate-set-sized (never a second corpus
    pair-scan).  Exactness: d2 is the banked full-vector left fold.
    """
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    withv = emb.join(
        F.broadcast(cand), emb["vec_id"] == cand["neighbor_id"]
    ).select("qid", "neighbor_id", "v")
    rer = withv.join(F.broadcast(q), "qid")
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("neighbor_id"))
    return (
        rer.select("qid", "neighbor_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w2).cast("long"))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id", F.round("d2", 6).alias("d2"), "rn")
    )


def adc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval — compressed-domain candidate generation +
    exact re-rank, the shape every production IVF-PQ deployment
    actually serves: stage 1 scores the corpus by ADC over the
    trained PQ codes and keeps the top RERANK_CAP candidates per
    query (cheap, approximate); stage 2 re-scores ONLY those
    candidates against the stored raw vectors with exact squared L2
    and returns the top TOPK — (qid, neighbor_id, d2, rn), self
    excluded, ties to the lower neighbor id.  Recall approaches exact
    search (any true neighbor the CAP retains is ranked correctly)
    while the exact distance work drops from |corpus| to RERANK_CAP
    per query — the reason stores keep raw vectors on disk next to
    the codes (Jégou et al. §V's re-ranking variant).

    Scale shape: stage 1 is pq_adc_topk's pinned plan with the CAP in
    place of TOPK (narrow code-column corpus pass, broadcast bounded
    query tables, map-side WindowGroupLimit); stage 2 joins the
    CAP-bounded candidate list back to the corpus BY KEY (vec_id — a
    broadcast hash join on the bounded side, never a second corpus
    pair-scan) and windows |q| x CAP rows.  Everything past the one
    code-column corpus scan is candidate-set-sized.

    Exactness: stage-1 ranks replay the banked ADC folds; stage-2 d2
    is the banked full-vector left fold; both tie on neighbor_id.
    """
    emb = _embeddings(spark, sf_dir)
    cb = _pq_production_codebook(emb, sf_dir)
    if cb is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, d2 double, rn long"
        )
    codes, flat_vals = cb
    n_codes = len(codes)

    # stage 1: fused full-scan ADC kernel at cap=RERANK_CAP (r18,
    # _adc_topk_frame — pq_adc_topk's plan with the CAP in place of
    # TOPK).
    cand = _adc_topk_frame(emb, flat_vals, n_codes, RERANK_CAP, sf_dir).select(
        "qid", "neighbor_id"
    )

    # stage 2: exact re-rank of the CAP-bounded candidates (shared
    # helper — raw vectors fetched BY KEY, candidate-set-sized work).
    return _exact_rerank_topk(emb, cand)


def ivf_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production retrieval query — IVF cell prefilter →
    residual-ADC candidate generation → exact re-rank (VERDICT r15
    #1): each query probes its NPROBE nearest cells, residual-ADC
    scores the probed cells' codes against the trained residual
    codebook and keeps the top RERANK_CAP candidates (cheap,
    compressed-domain), and stage 2 re-scores ONLY those candidates
    against the stored raw vectors with exact squared L2 — (qid,
    neighbor_id, d2, rn), self excluded, ties to the lower neighbor
    id.  This is the end-to-end shape every deployed IVF-PQ store
    serves (Jégou et al. TPAMI 2011: §IV IVFADC + §V's re-ranking
    variant — adc_rerank_topk without the full-corpus ADC scan,
    ivf_pq_adc_topk without stopping at compressed-domain ranks).

    Scale shape: stage 1 is ivf_pq_adc_topk's pinned plan with
    RERANK_CAP in place of TOPK (ONE map-only pass over the memoized
    residual frame, bounded per-probe residual ADC tables as the
    BuildRight of a cid hash join, map-side WindowGroupLimit); stage
    2 is _exact_rerank_topk's BY-KEY fetch (the |q| x CAP candidate
    list broadcasts onto a vec_id hash join — never a second corpus
    pair-scan).  Total corpus work: one Lloyd-indexed code scan +
    |probed cells| ADC rows per query, independent of TOPK accuracy
    demands — the reason stores keep raw vectors on disk next to the
    codes.

    Exactness: stage-1 ranks replay ivf_pq_adc_topk's banked
    fixed-order folds; stage-2 d2 is the banked full-vector left
    fold; both tie on neighbor_id.  DuckDB twin:
    __spark_entry__._ivf_pq_rerank_sql (the shared pairs chain + the
    cand/rerank tail).
    """
    emb = _embeddings(spark, sf_dir)
    ranked = _ivf_pq_adc_ranked(spark, sf_dir, RERANK_CAP)
    if ranked is None:
        return spark.createDataFrame(
            [], schema="qid long, neighbor_id long, d2 double, rn long"
        )
    return _exact_rerank_topk(emb, ranked.select("qid", "neighbor_id"))


def ivf_pq_rerank_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@TOPK of the composed production pipeline
    (ivf_pq_rerank_topk) against its own compressed-domain stage
    (ivf_pq_adc_topk) — (variant, qid, n_exact, hits, recall),
    variants "ivfadc" / "rerank", recall vs exact full-corpus squared
    L2.  The audit that prices what the exact re-rank stage buys on
    THIS corpus at equal candidate budget: both variants rank the
    SAME RERANK_CAP candidate pool (the rn <= TOPK prefix of the cap
    ranking IS the ADC top-k), so any recall delta is purely the
    re-rank reordering quantized distances with exact ones — the §V
    claim of Jégou et al. measured, not cited.

    Scale shape: ONE IVFADC candidate pass at cap=RERANK_CAP
    (localCheckpointed — query-set-sized, read by both variant legs;
    the minhash candidate-checkpoint pattern), the exact leg one
    brute-force d2 top-k over the broadcast query set (inherent to
    ground-truth audits, bounded by N_QUERIES), audit joins
    explicitly broadcast (post-window frames carry no size estimates
    — the r14 pin).  Recall divides by n_exact (the *_recall_report
    convention).
    """
    emb = _embeddings(spark, sf_dir)
    schema = (
        "variant string, qid long, n_exact long, hits long, recall double"
    )
    ranked = _ivf_pq_adc_ranked(spark, sf_dir, RERANK_CAP)
    if ranked is None:
        return spark.createDataFrame([], schema=schema)
    ranked = ranked.localCheckpoint(eager=True)

    # exact ground-truth leg, batched (r18 — see _exact_topk_frame)
    exact = _exact_topk_frame(emb, sf_dir=sf_dir).select("qid", "neighbor_id")
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )

    got = (
        ranked.filter(F.col("rn") <= TOPK)
        .select(F.lit("ivfadc").alias("variant"), "qid", "neighbor_id")
        .unionByName(
            _exact_rerank_topk(
                emb, ranked.select("qid", "neighbor_id")
            ).select(F.lit("rerank").alias("variant"), "qid", "neighbor_id")
        )
    )
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("variant", "qid")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    base = per_q.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("ivfadc",), ("rerank",)], "variant string"
            )
        )
    )
    return base.join(F.broadcast(hits), ["variant", "qid"], "left").select(
        "variant",
        "qid",
        "n_exact",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        F.round(
            F.coalesce(F.col("hits"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


def rerank_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@TOPK of the composed production pipeline
    (IVF prefilter → residual ADC → exact re-rank) at every rerank-CAP
    operating point in RERANK_CAP_SET — (cap, qid, n_exact, n_hit,
    recall), ground truth exact full-corpus squared L2.  VERDICT r16
    #1: the r16 nprobe sweep measured a FLAT curve (ADC ordering
    error, not candidate recall, binds at this codebook geometry) and
    the rerank report priced ONE cap (25) at +0.21 recall@5 — this
    sweep prices the whole axis production would actually turn,
    showing where recall saturates vs CAP (bounded above by what the
    NPROBE-cell candidate pool contains at all).

    Scale shape — the probe-sweep one-fetch-many-points pattern
    turned 90°: candidates are fetched ONCE at max(RERANK_CAP_SET)
    (the prefix property pinned in tests/test_round16_ops.py — the
    rn <= cap prefix of the cap ranking IS the cap ranking, so every
    operating point re-ranks a PREFIX of one fetched list), the exact
    re-rank distance is computed ONCE per fetched candidate via
    _exact_rerank_topk's BY-KEY raw-vector fetch (|q| x maxCAP
    bounded — never a second corpus pair-scan), the qualifying caps
    {c : c >= rn} explode in-row, and one window pass ranks all
    operating points.  The exact ground-truth leg is one brute-force
    d2 top-k over the broadcast query set (inherent to ground-truth
    audits, bounded by N_QUERIES); audit joins explicitly broadcast
    (post-window frames carry no size estimates — the r14 pin).

    Exactness: stage-1 ranks replay ivf_pq_adc_topk's banked folds;
    the re-rank d2 is the banked full-vector left fold; all ranks tie
    on the integer neighbor_id; counts are integers and recall one
    int/int division rounded at 6dp.  DuckDB twin:
    __spark_entry__._rerank_cap_sweep_sql.
    """
    emb = _embeddings(spark, sf_dir)
    schema = "cap long, qid long, n_exact long, n_hit long, recall double"
    ranked = _ivf_pq_adc_ranked(spark, sf_dir, max(RERANK_CAP_SET))
    if ranked is None:
        return spark.createDataFrame([], schema=schema)
    ranked = ranked.localCheckpoint(eager=True)

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # exact re-rank distance for EVERY fetched candidate, computed
    # once (the _exact_rerank_topk keyed-fetch shape without its
    # final top-k — the sweep's windows consume all maxCAP rows).
    withv = emb.join(
        F.broadcast(ranked.select("qid", "neighbor_id", "rn")),
        emb["vec_id"] == F.col("neighbor_id"),
    ).select("qid", "neighbor_id", "rn", "v")
    cand = withv.join(F.broadcast(q), "qid").select(
        "qid", "neighbor_id", "rn", d2.alias("d2")
    )
    levels = F.filter(
        F.lit(list(RERANK_CAP_SET)), lambda c: c >= F.col("rn")
    )
    scored = cand.select(
        "qid", "neighbor_id", "d2", F.explode(levels).alias("cap")
    )
    w = Window.partitionBy("cap", "qid").orderBy(
        F.col("d2"), F.col("neighbor_id")
    )
    got = (
        scored.withColumn("rn2", F.row_number().over(w))
        .filter(F.col("rn2") <= TOPK)
        .select(F.col("cap").cast("long").alias("cap"), "qid", "neighbor_id")
    )

    # exact ground-truth leg, batched (r18 — see _exact_topk_frame)
    exact = _exact_topk_frame(emb, sf_dir=sf_dir).select("qid", "neighbor_id")
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("cap", "qid")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    base = per_q.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(int(c),) for c in RERANK_CAP_SET], "cap long"
            )
        )
    )
    return base.join(F.broadcast(hits), ["cap", "qid"], "left").select(
        "cap",
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


# PQ codebook training (r14, VERDICT r13 #4): the Lloyd refinement the
# pq_quantize docstring promised.  PQ_TRAIN_ITERS deterministic Lloyd
# steps per subspace over the SEED codebook (vec_id < PQ_K), run for
# all PQ_SUB subspaces in ONE corpus pass per iteration; emptied codes
# carry their previous centroid (the kmeans_iterate convention).  The
# trained codebook keeps the flat c-major full-vector layout, so every
# existing PQ helper (_pq_d2, _pq_code_arr, _pq_adc_table) consumes it
# unchanged.
PQ_TRAIN_ITERS = 3


# Train-once memo: every PQ consumer (pq_quantize, pq_adc_topk,
# ann_ivf_adc, ivf_pq_residual, pq_train_codebooks, pq_recall_report)
# needs the trained codebook, and a production pipeline trains once
# and reuses the artifact — the driver-side analog of the persisted tf
# index (bench/verify sessions are warm-artifact by construction,
# SCALE.md "incremental_dedup_banded watch item").  Keyed by (kind,
# sf_dir, corpus fingerprint): ``kind`` separates the raw-vector
# codebook from the residual one, and the fingerprint (mtime_ns +
# size of every embeddings.parquet part, ADVICE r14) invalidates the
# memo when the corpus at a path is rewritten within one driver
# process.  Payload is <= 2 x n_codes x EMBED_DIM doubles per entry.
_PQ_TRAIN_CACHE: dict[tuple, tuple | None] = {}


def _pq_corpus_fingerprint(sf_dir: str):
    """Cheap content fingerprint of the embeddings table at ``sf_dir``
    (sorted (name, mtime_ns, size) of the parquet file/dir parts), or
    None when unstat-able — None disables memoization rather than
    risking a stale hit (ADVICE r14)."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            return tuple(
                (p, os.stat(os.path.join(path, p)).st_mtime_ns,
                 os.stat(os.path.join(path, p)).st_size)
                for p in sorted(os.listdir(path))
            )
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def pq_train_cache_reset() -> None:
    """Documented reset hook for the train-once memo (ADVICE r14)."""
    _PQ_TRAIN_CACHE.clear()


def _pq_train_flat(
    emb: DataFrame,
    sf_dir: str | None = None,
    kind: str = "raw",
    k: int | None = None,
):
    """Run PQ_TRAIN_ITERS Lloyd steps over all subspaces at once;
    returns (codes, seed_flat, trained_flat) or None on empty corpus.
    With ``sf_dir`` the result memoizes per corpus (train once).

    Scale shape per iteration (r18, guide §4.2): ONE corpus scan
    through a mapInPandas partial-sum pass — each Arrow batch is
    PQ-assigned in numpy (bit-identical argmin: the `_pq_d2` folds
    replayed order-exactly, see functions.batchmath) and scatter-added
    into <= n_codes x EMBED_DIM per-batch (code, pos) partial sums +
    counts; Spark sum-merges the partials (map-side aggregation of a
    bounded row set) and the driver divides.  The former JVM pass
    interpreted PQ_SUB x n_codes x PQ_SUBDIM HOF fold steps per row
    and posexploded the corpus 64-wide into the mean hash-agg —
    measured 4.7 s/pass at sf0.1 vs ~0.15 s batched (raw+residual
    train cold path 24.8 -> ~2 s, OPTIMIZATION_r18.md).  The driver
    transfer per iteration stays the <= n_codes x EMBED_DIM cells.

    Exactness: assignments are bit-identical to the JVM fold; the
    re-centering mean re-associates the per-cell sum (batch partials
    then merge, vs the former row-order F.avg) — each engine's own
    float avg was already the contract (the DuckDB twin computes its
    own), contracted by the argmin and the round-6 output rule; the
    full PQ-family oracle sweep at sf0.01 AND sf0.1 gates the change.
    No join, no corpus-linear broadcast, lineage never grows (each
    pass plans from the raw table plus a fresh closure codebook).
    """
    key = None
    if sf_dir is not None:
        fp = _pq_corpus_fingerprint(sf_dir)
        if fp is not None:
            key = (kind, k or PQ_K, sf_dir, fp)
            if kind == "residual":
                # Residuals depend on the IVF assignment, which depends
                # on the resolved assignment mode (ADVICE r16) — key it.
                key = key + _ivf_assignment_mode(sf_dir)
    if key is not None and key in _PQ_TRAIN_CACHE:
        return _PQ_TRAIN_CACHE[key]
    cb = _pq_collect_codebook(emb, k)
    if cb is None:
        if key is not None:
            _PQ_TRAIN_CACHE[key] = None
        return None
    from ..functions import batchmath as bm
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(emb.sparkSession)
    codes, seed_flat = cb
    n_codes = len(codes)
    flat = list(seed_flat)
    vproj = emb.select("v")
    for _ in range(PQ_TRAIN_ITERS):
        cells = (
            vproj.mapInPandas(
                bm.pq_train_partials_fn(flat, n_codes, PQ_SUB, PQ_SUBDIM),
                schema="code int, pos int, s double, c long",
            )
            .groupBy("code", "pos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        nxt = list(flat)
        for r in cells:
            nxt[int(r["code"]) * EMBED_DIM + int(r["pos"])] = float(
                r["s"]
            ) / float(r["c"])
        flat = nxt
    out = (codes, list(seed_flat), flat)
    if key is not None:
        _PQ_TRAIN_CACHE[key] = out
    return out


# Production codebook switch (VERDICT r14 #1): the encode/search path
# uses the Lloyd-TRAINED codebook (pq_train_codebooks measured -31%
# quantization error and pq_recall_report trained >= seed recall at
# every banked geometry); SPARK_GRAFT_PQ_SEED=1 keeps the seed
# codebook reachable for the A/B (scratch/pq_trained_ab.py) and for
# isolating training cost from encode cost in benchmarks.
PQ_SEED_ENV = "SPARK_GRAFT_PQ_SEED"


def _pq_production_codebook(
    emb: DataFrame, sf_dir: str | None, kind: str = "raw"
):
    """The (codes, flat_vals) the production encode/search path uses:
    the Lloyd-trained codebook from :func:`_pq_train_flat` (memoized
    per corpus — train once, every consumer reuses), or the seed
    codebook under SPARK_GRAFT_PQ_SEED=1.  Returns None on an empty
    corpus, like _pq_collect_codebook."""
    if os.environ.get(PQ_SEED_ENV) == "1":
        # A/B path: the raw seed collect, no training passes at all —
        # the pure-Python reference tests pin THIS path's semantics
        # (tests/test_round12_ops.py, test_round13_ops.py).
        return _pq_collect_codebook(emb)
    t = _pq_train_flat(emb, sf_dir, kind=kind)
    if t is None:
        return None
    codes, _seed_flat, trained_flat = t
    return codes, trained_flat


def pq_train_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-trained PQ subspace codebooks — the training step that
    completes the IVF-PQ trainer (Jégou et al., TPAMI 2011 §III):
    PQ_TRAIN_ITERS deterministic Lloyd refinements of the seed
    codebook, then per (variant, subspace, code) the assignment count
    and total squared quantization error under the SEED codebook and
    under the TRAINED one — (variant, subspace, code, n_assigned,
    sq_err).  The seed-vs-trained sq_err drop is the in-output
    training report: Lloyd is monotone non-increasing in total error
    per subspace (each assignment step and each re-centering step can
    only lower it), pinned in tests/test_round14_ops.py.

    Scale shape: training is PQ_TRAIN_ITERS one-scan passes
    (_pq_train_flat); the report is ONE more corpus scan scoring both
    codebooks side by side (two bounded literal codebooks, dists
    built once per subspace each), exploded to (variant, subspace,
    code, d2) rows — 2 x PQ_SUB per vector — and hash-aggregated.
    Codes are the actual seed vec_ids (the pq_quantize convention).

    Exactness: assignment argmins replay the identical _pq_d2 left
    fold with (d2, code) tie order in both engines; the re-centering
    means are each engine's own float avg, contracted by the argmin
    (the kmeans_iterate precedent) and the final sq_err rounds at 6.
    """
    emb = _embeddings(spark, sf_dir)
    t = _pq_train_flat(emb, sf_dir)
    schema = (
        "variant string, subspace long, code long, "
        "n_assigned long, sq_err double"
    )
    if t is None:
        return spark.createDataFrame([], schema=schema)
    codes, seed_flat, trained_flat = t
    n_codes = len(codes)
    codes_lit = F.lit(codes)

    # r18: the dual-codebook report scan runs as ONE Arrow batch
    # kernel (guide §4.2) — per batch, both assignments (bit-identical
    # argmins and min-d2s) scatter-add into per-(variant, subspace,
    # code) partial counts + error sums that Spark merges; the former
    # JVM pass evaluated 2 x PQ_SUB x n_codes fold steps per row and
    # exploded the corpus 8-wide into the hash agg.  The per-cell d2
    # sum re-associates under the round-6 output contract (the DuckDB
    # twin already sums in its own order).
    from ..functions import batchmath as bm
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    part = emb.select("v").mapInPandas(
        bm.pq_train_report_partials_fn(
            seed_flat, trained_flat, n_codes, PQ_SUB, PQ_SUBDIM
        ),
        schema="variant string, s int, code_pos int, n long, sq double",
    )
    return (
        part.groupBy("variant", "s", "code_pos")
        .agg(
            F.sum("n").cast("long").alias("n_assigned"),
            F.round(F.sum("sq"), 6).alias("sq_err"),
        )
        .select(
            "variant",
            F.col("s").cast("long").alias("subspace"),
            F.element_at(codes_lit, F.col("code_pos") + 1)
            .cast("long")
            .alias("code"),
            "n_assigned",
            "sq_err",
        )
    )


def pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ADC recall@TOPK of the SEED codebook vs the TRAINED
    one, audited against the exact squared-L2 ranking — the
    ann_recall_report pattern applied to PQ training (VERDICT r13 #4's
    "trained >= seed recall" delta, measurable per query instead of
    asserted): (variant, qid, n_exact, hits, recall).  Since r15 the
    "trained" variant IS the production pq_adc_topk path
    (_pq_production_codebook) and "seed" is its env-gated A/B twin.
    Recall divides by n_exact like every other *_recall_report
    (ADVICE r14 — the fixed-TOPK denominator under-reported perfect
    retrieval on corpora with < TOPK non-self vectors), so the report
    grid covers the qids with at least one exact neighbor.

    Scale shape: each variant is exactly pq_adc_topk's plan (narrow
    code-column corpus pass, broadcast bounded query ADC tables,
    WindowGroupLimit top-k) and the exact leg is one brute-force d2
    top-k over the same N_QUERIES broadcast — query-set-sized
    everywhere past the corpus scans.  Recall here audits BOTH
    quantization losses at once: code granularity (shared) and
    codebook fit (the trained-vs-seed delta).
    """
    emb = _embeddings(spark, sf_dir)
    t = _pq_train_flat(emb, sf_dir)
    schema = (
        "variant string, qid long, n_exact long, hits long, recall double"
    )
    if t is None:
        return spark.createDataFrame([], schema=schema)
    _codes, seed_flat, trained_flat = t
    n_codes = len(_codes)

    # exact leg: brute-force squared-L2 top-k (the metric ADC
    # approximates), batched — r18, see _exact_topk_frame
    exact = _exact_topk_frame(emb, sf_dir=sf_dir).select("qid", "neighbor_id")

    def adc_top(flat_vals, variant):
        # each variant is the fused full-scan ADC kernel over its own
        # codebook (r18, _adc_topk_frame — pq_adc_topk's plan)
        return _adc_topk_frame(emb, flat_vals, n_codes, TOPK, sf_dir).select(
            F.lit(variant).alias("variant"), "qid", "neighbor_id"
        )

    got = adc_top(seed_flat, "seed").unionByName(
        adc_top(trained_flat, "trained")
    )
    # the audit joins are rank-list-sized (<= |q| x k and <= 2|q|
    # rows) — broadcast them explicitly so Catalyst never co-shuffles
    # two post-agg sides whose sizes it can't estimate (the unhinted
    # plan chose SortMergeJoin here; pinned in tests/test_plans.py)
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("variant", "qid")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    base = per_q.crossJoin(
        spark.createDataFrame(
            [("seed",), ("trained",)], "variant string"
        )
    )
    return (
        base.join(F.broadcast(hits), ["variant", "qid"], "left")
        .select(
            "variant",
            "qid",
            "n_exact",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)).cast("double")
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )
    )


# The codebook-bits rung (VERDICT r16 #3): n_codes per subspace for
# the 8-bit variant pq_bits_recall_report prices against the
# production 4-bit (PQ_K=16) geometry.  256 codes x 4 subspaces is
# faiss's default nbits=8 — the second-ranked recall lever of the r16
# sweep finding (rerank/CAP > codebook bits > nprobe).
PQ_BITS_WIDE_K = 256


def pq_bits_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ADC recall@TOPK of the production 4-bit codebook
    (PQ_K=16 codes/subspace) vs an 8-bit one (PQ_BITS_WIDE_K=256
    codes/subspace) at the SAME PQ_SUB, audited against exact
    squared-L2 — (bits, qid, n_exact, n_hit, recall), bits ∈ {4, 8}.
    VERDICT r16 #3: the nprobe sweep proved ADC ordering error binds
    at the 4-bit geometry, predicting codebook bits (finer quantized
    distances) buy more than nprobe ever will — this measures that
    prediction on THIS corpus at EQUAL SCAN COST: both variants read
    the same PQ_SUB code columns per corpus vector and do PQ_SUB
    table lookups per pair; only the per-query ADC table (PQ_SUB x
    n_codes, query-set-bounded) and the stored code width (4 vs 8
    bits per subspace — 2x index bytes) grow.

    Scale shape: each variant is exactly pq_adc_topk's plan (narrow
    code-column corpus pass, broadcast bounded query ADC tables,
    map-side WindowGroupLimit top-k); the 8-bit codebook trains with
    the same PQ_TRAIN_ITERS one-scan Lloyd passes (train-once memo
    keyed by (kind, k, sf_dir, fingerprint)) and its 256 x EMBED_DIM
    flat codebook rides the geometry-driven _pq_codebook_source
    transport (128 KiB — still the literal path; past 1 MiB it
    switches to the broadcast frame).  The exact leg is one
    brute-force d2 top-k over the broadcast query set.

    Exactness: both variants' codes and ADC totals replay the banked
    fixed-order folds (the 8-bit leg is the same machinery at k=256);
    ranks tie on the integer neighbor_id; recall is one int/int
    division rounded at 6dp.  DuckDB twin:
    __spark_entry__._pq_bits_recall_sql (two prefixed
    _pq_train_cte_body replays, k=16 and k=256).
    """
    emb = _embeddings(spark, sf_dir)
    schema = "bits long, qid long, n_exact long, n_hit long, recall double"
    t4 = _pq_train_flat(emb, sf_dir)
    t8 = _pq_train_flat(emb, sf_dir, k=PQ_BITS_WIDE_K)
    if t4 is None or t8 is None:
        return spark.createDataFrame([], schema=schema)

    # exact ground-truth leg, batched (r18 — see _exact_topk_frame)
    exact = _exact_topk_frame(emb, sf_dir=sf_dir).select("qid", "neighbor_id")
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_exact")
    )

    def adc_top(t, bits):
        # fused full-scan ADC kernel per codebook width (r18 — the
        # k=256 leg's corpus encode was 16x the 4-bit compute as an
        # interpreted fold: ~280 s at sf0.1, now one numpy pass)
        codes, _seed, trained_flat = t
        n_codes = len(codes)
        return _adc_topk_frame(emb, trained_flat, n_codes, TOPK, sf_dir).select(
            F.lit(bits).cast("long").alias("bits"), "qid", "neighbor_id"
        )

    got = adc_top(t4, 4).unionByName(adc_top(t8, 8))
    hits = (
        got.join(F.broadcast(exact), ["qid", "neighbor_id"])
        .groupBy("bits", "qid")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    base = per_q.crossJoin(
        F.broadcast(spark.createDataFrame([(4,), (8,)], "bits long"))
    )
    return base.join(F.broadcast(hits), ["bits", "qid"], "left").select(
        "bits",
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


# Scalar quantization (r14): the OTHER production vector-compression
# family (faiss IndexScalarQuantizer SQ8): per-DIMENSION min/max
# ranges, each component stored as an 8-bit level — 64 dims x 8 bytes
# becomes 64 bytes with no codebook training at all.  PQ spends its
# budget on joint subspace structure; SQ spends it uniformly per
# dimension — the standard first rung of the compression ladder
# (SQ8 -> PQ -> IVF-PQ) a 100 TB vector store climbs as corpus size
# outgrows memory.  Levels are integers and the de/quantization
# expressions are fixed trees over exact per-dim min/max, so both
# engines reproduce codes and distances bit-for-bit (no rounding-mode
# dependence: the level is floor(ratio * 255 + 0.5), written as floor
# in BOTH engines — F.round/DuckDB round differ on halves).
SQ_LEVELS = 255


def _sq_params(emb: DataFrame):
    """Per-dimension exact (min, max) over the corpus — ONE posexplode
    + algebraic agg, EMBED_DIM-row bounded driver collect (the
    kmeans/PQ centroid-transfer precedent).  Returns (mn, mx) lists or
    None on an empty corpus.  min/max are exact order statistics (no
    float summation), so the collected literals are bit-identical to
    what the DuckDB twin computes in its prm CTE."""
    rows = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    if not rows:
        return None
    rows = sorted(rows, key=lambda r: r["pos"])
    return [float(r["mn"]) for r in rows], [float(r["mx"]) for r in rows]


def _sq_code(x, mn, mx):
    """8-bit level of component ``x`` within [mn, mx]: floor(ratio *
    SQ_LEVELS + 0.5), 0 on a degenerate (constant) dimension.  ratio
    is an IEEE division of two exact doubles, <= 1.0 by construction
    (x ranges over the same corpus the min/max came from)."""
    return F.when(mx == mn, F.lit(0)).otherwise(
        F.floor((x - mn) / (mx - mn) * SQ_LEVELS + F.lit(0.5))
    ).cast("int")


def _sq_dequant(c, mn, mx):
    """Reconstruction mn + c * ((mx - mn) / SQ_LEVELS) — the same
    parenthesization the oracle writes, operand for operand."""
    return mn + c.cast("double") * ((mx - mn) / F.lit(float(SQ_LEVELS)))


def sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantization encode + per-component reconstruction
    error — (vec_id, pos, code, recon_err).  The no-training encode
    pass of the SQ8 index: per-dim ranges from ONE bounded agg, then a
    single map-only projection quantizes every component.

    Scale shape: the EMBED_DIM-row (min, max) table is a bounded
    driver collect re-embedded as two one-parse literals
    (lit_double_array); the encode is posexplode + per-row expressions
    — no join, no shuffle past the range agg, the canonical
    embarrassingly-parallel encode (pq_quantize's shape minus the
    codebook).  Exactness: min/max are exact order statistics, codes
    are floor-of-IEEE-expression integers, recon_err rounds at 6.
    """
    emb = _embeddings(spark, sf_dir)
    prm = _sq_params(emb)
    schema = "vec_id long, pos long, code long, recon_err double"
    if prm is None:
        return spark.createDataFrame([], schema=schema)
    mn_l = lit_double_array(prm[0])
    mx_l = lit_double_array(prm[1])
    mn = F.element_at(mn_l, F.col("pos") + 1)
    mx = F.element_at(mx_l, F.col("pos") + 1)
    code = _sq_code(F.col("x"), mn, mx)
    recon = _sq_dequant(code, mn, mx)
    return emb.select("vec_id", F.posexplode("v").alias("pos", "x")).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        code.cast("long").alias("code"),
        F.round(F.abs(F.col("x") - recon), 6).alias("recon_err"),
    )


def sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric SQ8 top-5 search: raw query vectors scored against
    the DEQUANTIZED int8 corpus — (qid, neighbor_id, sq_d2, rn), self
    excluded, ties to the lower neighbor id (the cosine_topk/
    pq_adc_topk conventions).  Completes the compression ladder's
    search side: ann_lsh (1-bit sign sketches), sq8 (8-bit uniform),
    pq/ivf-pq (joint subspace codes).

    Scale shape: the corpus pass projects each vector to its int
    code array (map-only, ~8x narrower than raw doubles), the 50-row
    query frame rides a BroadcastExchange, scoring is one fixed
    j-ascending fold per pair (dequant + squared diff — JVM HOF), and
    the per-qid top-k prunes map-side via WindowGroupLimit before the
    single qid exchange.  Exactness: dequantized values are identical
    IEEE expressions over integer codes in both engines; the fold
    order is pinned; round(…, 6) is presentational.
    """
    emb = _embeddings(spark, sf_dir)
    prm = _sq_params(emb)
    schema = "qid long, neighbor_id long, sq_d2 double, rn long"
    if prm is None:
        return spark.createDataFrame([], schema=schema)
    mn_l = lit_double_array(prm[0])
    mx_l = lit_double_array(prm[1])

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda j: _sq_code(
            F.element_at(F.col("v"), j + 1),
            F.element_at(mn_l, j + 1),
            F.element_at(mx_l, j + 1),
        ),
    )
    corpus = emb.select("vec_id", codes.alias("cs"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pairs = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    deq = lambda j: _sq_dequant(  # noqa: E731 — local fold operand
        F.element_at(F.col("cs"), j + 1),
        F.element_at(mn_l, j + 1),
        F.element_at(mx_l, j + 1),
    )
    # diffs materialized ONCE by the inner transform; the fold's ``d``
    # is a bound LambdaVariable, so d * d is two O(1) reads, not two
    # evaluations of the dequant expression (Catalyst skips CSE under
    # LambdaVariables — the pq_adc_topk / ADVICE r12 discipline)
    diffs = F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda j: F.element_at(F.col("qv"), j + 1) - deq(j),
    )
    d2 = F.aggregate(
        diffs, F.lit(0.0), lambda acc, d: acc + d * d
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("neighbor_id"))
    return (
        pairs.select(
            "qid", F.col("vec_id").alias("neighbor_id"), d2.alias("d2")
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id", F.round("d2", 6).alias("sq_d2"), "rn")
    )


def sq8_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@TOPK of the SQ8 asymmetric search against the
    exact squared-L2 ranking — (index, qid, n_exact, n_hit, recall),
    the ann_recall_report pattern applied to the scalar-quantization
    rung.  With pq_recall_report this completes the per-family audit
    set (lsh/ivf, pq seed/trained, bm25 pruned/rrf, sq8): every
    approximate retrieval path in the engine reports its recall as an
    oracle-verified query, so an operator can tier the compression
    ladder (1-bit -> 8-bit -> joint codes) on measured recall, not
    vibes.

    Scale shape: both rank lists are the already-pinned plans (exact
    brute force + sq8_topk); everything downstream is rank-list-sized
    with explicit broadcasts (post-agg frames carry no size
    estimates).  Exactness: counts are integers; recall is one exact
    int/int IEEE division.
    """
    emb = _embeddings(spark, sf_dir)
    schema = "index string, qid long, n_exact long, n_hit long, recall double"
    if not emb.head(1):
        return spark.createDataFrame([], schema=schema)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("neighbor_id"))
    exact = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "neighbor_id")
    )
    per_q = exact.groupBy("qid").agg(F.count("*").alias("n_exact"))
    hits = (
        exact.join(
            F.broadcast(
                sq8_topk(spark, sf_dir).select("qid", "neighbor_id")
            ),
            ["qid", "neighbor_id"],
        )
        .groupBy("qid")
        .agg(F.count("*").alias("n_hit"))
    )
    return per_q.join(F.broadcast(hits), "qid", "left").select(
        F.lit("sq8").alias("index"),
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )
