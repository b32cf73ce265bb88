"""Deduplication operators over ``documents`` — the north-star
training-data-pipeline surface (BASELINE.json).

All MapReduce-shaped (the reference could express each as map: emit
(signature, doc) / reduce: pair-or-keep — mr_task_factory.h:20,37), here
as explode + hash-agg + self-join DataFrame plans.

Scale notes (100 TB design point):
- ``dedup_exact`` is a single hash-agg on a 128-bit fingerprint — the
  canonical exact-dedup at any scale (shuffle on fp, partial agg on).
- ``ngram_jaccard_neardup`` is the exact O(pairs-sharing-a-shingle)
  verify; its cost is bounded by shingle document frequency.  At 100 TB
  you cap hot shingles (drop shingles with df > cap) — df filtering is
  included here for that reason.
- ``minhash_lsh_neardup`` is the scale path: constant-size signatures
  (k=32 minhashes), band-bucket join (b=8, r=4) so only LSH-colliding
  pairs are verified.  Candidate generation touches each doc once.
- ``simhash`` gives constant-size 64-bit sketches; pairs within small
  hamming distance are near-dups.  Sketch computation is one pass,
  fully JVM-side (no Python).
"""

from __future__ import annotations

import glob
import os
import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_expr
from ..sources.tables import fan_out, load_table

# Shingles appearing in more than this many docs are dropped from the
# jaccard candidate join (stopword-shingle cap; keeps the self-join from
# exploding on hot shingles at scale).  Chosen far above anything in the
# test data (max df there is 7) so small-SF results are exact.
HOT_SHINGLE_DF_CAP = 1000

# minhash_lsh_neardup reuses the shingle projection for signatures AND
# the exact verify (4 consumers total).  The size-aware switch persists
# the shared projection when the input exceeds this threshold.  Order-
# controlled A/B at sf0.1 (each variant measured first in a fresh
# session): re-scan 2.3-3.4 s vs persisted 3.9-4.9 s — at local sizes
# the persist LOSES, because it forces the distinct shuffle onto the
# signature path (the no-persist path feeds signatures the non-distinct
# stream, fully pipelined) and pays cache materialization for a 600 KB
# input.  At 100 TB the tokenize+explode pipeline is corpus-scale and
# running it 4x dominates everything, so the persist wins.  Checked
# against the on-disk parquet size — a metadata stat, no job.
SHINGLE_PERSIST_MIN_BYTES = 256 * 1024 * 1024

# Candidate-pair source switch for the exact-semantics near-dup
# operators (ngram_jaccard_neardup, source_overlap, incremental_dedup,
# dedup_clusters): below this on-disk input size the EXACT
# pairs-sharing-a-shingle join generates candidates — its O(Σ df²) cost
# is trivial at gigabyte scale, and the result provably equals the
# DuckDB oracle's all-pairs semantics (the driver gate stays exact
# under any data refresh, not just empirically on today's test data).
# At or above the threshold the MinHash-LSH band path takes over:
# candidate generation becomes O(colliding pairs) — the only plan that
# survives 100 TB — at the documented recall cost of b=8/r=4 banding
# (P[candidate | jaccard s] = 1-(1-s^4)^8: ~1.0 at s=0.9, 0.985 at
# s=0.8, but only ~0.4 at s=0.5 and ~0.03 at s=0.2).  For a LOW
# report threshold like ngram_jaccard's 0.1 the banded path therefore
# under-reports mid-similarity pairs; a 100 TB deployment that needs
# them raises the threshold or adds bands (more bands of fewer rows
# shift the S-curve left).  tests/test_scale_fixes.py pins both the
# subset property (banded ⊆ exact — the verify is exact either way)
# and full recall at jaccard ≥ 0.9 on the test corpus.
#
# VERDICT r17 #3 — this switch is ALSO the mega-doc guard for the
# r17 one-pass per-doc shingle LISTS (_exact_pairs /
# _incremental_near_exact / lexical's by_doc): a pathological giant
# document makes its collect_list row as long as the doc, and the df
# cap bounds candidate PAIRS, not list length.  The dedup-side
# corpus-wide list frames exist ONLY on this exact branch, i.e. only
# while the documents table is under 256 MiB — which caps any single
# doc's list at the same 256 MiB worst case (one doc owning the whole
# input).  Past the threshold the LSH branch builds lists for
# CANDIDATE docs only.  lexical_semantic_rrf's by_doc frame is NOT
# behind this switch (retrieval has no LSH fallback) — its docstring
# carries the scratch-parquet escape hatch — and a deployment with
# individual multi-GiB docs should bound doc length upstream (the
# curation length screen) before shingling anywhere.
NEARDUP_EXACT_MAX_BYTES = 256 * 1024 * 1024

# One persisted DataFrame per (session, sf_dir, tag): re-invoking the
# operator unpersists the previous cache first, so long sessions
# (bench reps, test sweeps) never accumulate stale cached copies.
_PERSISTED: dict[tuple[str, str, str], DataFrame] = {}


def _persist_tracked(
    df: DataFrame, spark: SparkSession, sf_dir: str, tag: str
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    prev = _PERSISTED.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    out = df.persist()
    _PERSISTED[key] = out
    return out


def _input_bytes(
    sf_dir: str, name: str, spark: SparkSession | None = None
) -> int:
    """On-disk size of a source table (file or directory of parts).

    Local paths stat directly (parquet metadata, no job).  Non-local
    URIs — object stores, ``file:`` URIs, any Hadoop-resolvable
    scheme — are os.stat-opaque, so when a session is available the
    size comes from the Hadoop FileSystem the scan itself would use
    (VERDICT r12 #6: byte-accurate width on object stores instead of
    the 0 -> 4x-defaultParallelism fallback).  Returns 0 only when
    neither route can stat the path (the callers' documented
    cluster-width fallback)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(path, "**"), recursive=True)
            if os.path.isfile(p)
        )
    if os.path.isfile(path):
        return os.path.getsize(path)
    if spark is not None:
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            return int(fs.getContentSummary(hpath).getLength())
        except Exception:  # noqa: BLE001 — unresolvable scheme/missing path
            return 0
    return 0


def _shingles(
    spark: SparkSession, sf_dir: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle).

    ``distinct=True`` (set semantics — what Jaccard needs) costs a
    shuffle; ``distinct=False`` skips it for consumers where duplicate
    shingles cannot change the result (min-hash: min over a multiset
    equals min over its set — measured ~30% faster signature stage).
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select("doc_id", tokens_expr("text").alias("t"))
    shingle = F.when(
        F.size("t") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("t"), i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = toks.select("doc_id", F.explode(shingle).alias("shingle"))
    return out.distinct() if distinct else out


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group identical normalized text, keep the smallest
    doc_id (map: emit (fingerprint, doc_id); reduce: min + count)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return (
        docs.select(F.md5(norm).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


def _exact_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact all-pairs-per-shingle Jaccard pairs (da < db, jaccard >=
    threshold) — the candidate source the DuckDB oracles mirror.

    MR shape: map emits (shingle, doc_id); reduce pairs docs per shingle;
    a second agg computes |intersection|; join with per-doc shingle
    counts gives jaccard = i / (na + nb - i).  The division is int/int
    in both engines → bit-identical, no rounding needed.  ``df_cap``
    optionally drops hot shingles before pairing (oracle mirrors per
    operator).  Cost is O(Σ min(df, cap)²) — fine below
    NEARDUP_EXACT_MAX_BYTES, super-linear past it (use the LSH path).

    r17 rework (guide §2.3/§2.4 — one pass, exchanges not re-runs):
    the former shape re-executed the tokenize + explode + distinct
    pipeline once per consumer (df-cap build, the cap join back, the
    per-doc counts, and BOTH self-join sides — 4-5 corpus passes) and
    shipped the per-doc sizes back in via two pair-keyed joins.  Now
    ONE repartition on the shingle clusters the stream; the (doc,
    shingle) distinct and the df count-over-window run in place (no df
    agg exchange, no vocab-keyed cap join); one doc-keyed agg builds
    the capped per-doc shingle lists; and that one-row-per-doc frame
    is CHECKPOINTED once — both self-join sides explode it, carrying
    their doc's size through the pair agg as group keys, so the two
    size joins are gone.  Same shingle sets, same int/int division —
    pair-for-pair identical output (interleaved A/B + the oracle gate
    at both SFs); the shingle stream now crosses the wire exactly
    twice (shingle clustering, then the pair self-join), plus the
    doc-keyed list agg.
    """
    width = _prefix_width(sf_dir, spark)
    shd = (
        _shingles(spark, sf_dir, distinct=False)
        .repartition(width, "shingle")
        .dropDuplicates(["doc_id", "shingle"])
    )
    if df_cap is not None:
        shd = shd.withColumn(
            "df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("df") <= df_cap)
    by_doc = (
        shd.groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("s"))
        .select("doc_id", F.size("s").cast("long").alias("n"), "s")
        .localCheckpoint(eager=True)
    )
    a = by_doc.select(
        F.col("doc_id").alias("da"),
        F.col("n").alias("na"),
        F.explode("s").alias("shingle"),
    ).alias("a")
    b = by_doc.select(
        F.col("doc_id").alias("db"),
        F.col("n").alias("nb"),
        F.explode("s").alias("shingle"),
    ).alias("b")
    # shuffle-hash, not sort-merge: the shingle key has no ordering
    # value and per-key occupancy is bounded (df cap / small input), so
    # SMJ's two-sided sort of the corpus-linear shingle table is pure
    # waste (measured 3.2 -> 2.0 s at sf0.1); the hint also keeps the
    # corpus-linear table off the broadcast path (the checkpointed
    # by_doc frame has no size stats — unhinted, Catalyst would
    # broadcast a corpus-linear explode, the vcl_candidates lesson).
    inter = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.da") < F.col("b.db")),
        )
        .groupBy("da", "na", "db", "nb")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
    return (
        inter.select("da", "db", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    df_cap: int | None = None,
) -> DataFrame:
    """(da, db, jaccard) near-dup pairs at ``threshold``, candidates
    from the exact shingle join below NEARDUP_EXACT_MAX_BYTES and from
    MinHash-LSH banding at scale (see the constant's recall table).
    The verify is exact Jaccard on either path, so banded output is
    always a subset of exact output — never a false positive."""
    if _input_bytes(sf_dir, "documents", spark) < NEARDUP_EXACT_MAX_BYTES:
        return _exact_pairs(spark, sf_dir, threshold, df_cap=df_cap)
    return _lsh_verified_pairs(spark, sf_dir, threshold)


def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (report threshold 0.1).

    Below NEARDUP_EXACT_MAX_BYTES this is the exact
    pairs-sharing-a-shingle join with the hot-shingle df cap (the
    DuckDB oracle mirrors both); past it, candidates come from the
    LSH band path — closing the one O(Σ df²) scale caveat — with the
    honestly-documented recall implication: 0.1 sits far below the
    b=8/r=4 banding S-curve, so a scale deployment keeping this
    report threshold should add bands (or accept that only the
    high-similarity pairs, the ones dedup acts on, are complete).
    """
    return neardup_pairs(
        spark, sf_dir, threshold=0.1, df_cap=HOT_SHINGLE_DF_CAP
    )


# MinHash parameters: k = bands * rows_per_band signatures.
MINHASH_BANDS = 8
MINHASH_ROWS = 4

# md5-derived universal hashing for the sketch family (VERDICT r8 #3):
# ONE md5 per shingle yields a 48-bit integer x (first 12 hex chars —
# the sketches._hash48 construction the HLL/Count-Min oracles already
# recompute exactly), then the k minhash functions are the universal
# family h_i(x) = (A_i·x + B_i) mod MH_PRIME with fixed pseudo-random
# constants.  A_i < 2^14 keeps A_i·x < 2^62 — no BIGINT overflow in
# either engine — and every step is integer arithmetic DuckDB
# reproduces bit-identically (empirically cross-checked incl. the mod),
# which is what retires this family's rows-only status: the former
# xxhash64(shingle, seed) has no SQL twin, md5 does.  Band buckets use
# the same arithmetic (a base-MH_BAND_MULT fold of the band's rows mod
# MH_PRIME) so the full candidate generation is oracle-reproducible.
MH_PRIME = 281_474_976_710_677  # smallest prime above 2^48
MH_BAND_MULT = 10_007
_MH_K = MINHASH_BANDS * MINHASH_ROWS
_MH_RNG = random.Random(0x5EED2026)
MH_A = [_MH_RNG.randrange(1, 1 << 14) for _ in range(_MH_K)]
MH_B = [_MH_RNG.randrange(0, MH_PRIME) for _ in range(_MH_K)]


def _hash48_sql_col(col: str) -> F.Column:
    """48-bit md5-derived integer, identical to the DuckDB
    ``('0x' || substr(md5(x), 1, 12))::BIGINT`` (sketches._hash48)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def minhash_signatures(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig: array<long>) — k=32 minhash signature from 3-word
    shingles; hash_i(s) = (A_i·hash48(s) + B_i) mod MH_PRIME minimized
    per doc (md5-derived, so the DuckDB oracle recomputes signatures
    bit-identically — VERDICT r8 #3).

    One md5 per shingle + k integer mul-adds, one groupBy: at scale
    this is a single shuffle of (doc_id, 32 longs) — constant size per
    doc regardless of doc length.
    """
    sh = shingles if shingles is not None else _shingles(spark, sf_dir)
    hashed = sh.select("doc_id", _hash48_sql_col("shingle").alias("x"))
    mins = [
        F.min(
            (F.lit(MH_A[i]) * F.col("x") + F.lit(MH_B[i])) % F.lit(MH_PRIME)
        ).alias(f"h{i}")
        for i in range(_MH_K)
    ]
    agg = hashed.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(_MH_K)]).alias("sig")
    )


def _band_bucket(rows: list[F.Column]) -> F.Column:
    """Base-MH_BAND_MULT fold of a band's signature rows mod MH_PRIME —
    pure integer arithmetic (rows < 2^48, multiplier < 2^14, so every
    intermediate < 2^62), reproduced verbatim in the SQL oracle."""
    b = rows[0]
    for h in rows[1:]:
        b = (b * F.lit(MH_BAND_MULT) + h) % F.lit(MH_PRIME)
    return b


def _bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band table: 8 rows per document,
    bucket = arithmetic fold of the band's 4 signature rows."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        _band_bucket(
                            [
                                F.element_at("sig", band * MINHASH_ROWS + r + 1)
                                for r in range(MINHASH_ROWS)
                            ]
                        ).alias("bucket"),
                    )
                    for band in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def _band_candidates(sigs: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs (da < db) from minhash signatures.

    The bands table is 8 rows PER DOCUMENT — linear in the corpus, so
    it must never be broadcast (at 1 B docs that's 8 B rows).  The
    SHUFFLE_HASH hint pins the self-join to a shuffle on (band,
    bucket) even when Catalyst's post-agg size estimate looks
    broadcastable, and skips the sort a MERGE join would pay — bucket
    keys have no ordering value (measured 1.68 -> 1.33 s at sf0.1).
    That key is exactly what LSH bucketing exists for, so only
    colliding rows meet; per-partition hash maps are bounded by
    bucket occupancy and SHJ spills since Spark 3.2 if one isn't.
    (Plan pinned by tests/test_scale_fixes.py on this function — the
    caller checkpoints the result, which hides the join from the final
    query plan.)
    """
    bands = _bands(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )


def _lsh_verified_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """MinHash + LSH near-dup candidates, exact-Jaccard verified
    (≥ threshold) — the scale path behind ``neardup_pairs`` and
    ``minhash_lsh_neardup``.

    Banding: signature split into b=8 bands of r=4; docs sharing any
    band hash become candidates (map: emit (band_id ++ band_hash,
    doc_id); reduce: pair).  Only candidates get the exact verify —
    the self-join is on band buckets, never all-pairs.

    The shingle table feeds signature generation AND the verify joins
    (4 consumers).  The shared projection is persisted behind a
    size-aware switch (SHINGLE_PERSIST_MIN_BYTES, checked against the
    on-disk input size): at local SFs the re-scan wins (order-controlled
    A/B in the constant's comment — the persist would force the distinct
    shuffle onto the signature path and pay materialization for KBs of
    input), at 100 TB running the corpus-scale tokenize + explode 4x
    dominates and the persist wins.  When persisting, signatures derive
    from the persisted distinct stream so all consumers share one
    materialization (min over a set == min over the multiset it came
    from); on the no-persist path signatures use the NON-distinct
    stream, skipping the distinct shuffle entirely.
    """
    persist = _input_bytes(sf_dir, "documents", spark) >= SHINGLE_PERSIST_MIN_BYTES
    if persist:
        sh_all = _persist_tracked(_shingles(spark, sf_dir), spark, sf_dir, "shingles")
        sig_src = sh_all
    else:
        sh_all = None
        sig_src = _shingles(spark, sf_dir, distinct=False)
    sigs = minhash_signatures(spark, sf_dir, shingles=sig_src)
    cand = _band_candidates(sigs)
    # exact verify on candidates only.  The candidate set is usually
    # small by LSH construction (high-threshold near-dups are rare), but
    # its size is data-dependent, so no static broadcast hints here:
    # AQE converts these joins to broadcast at runtime when the measured
    # candidate size is under the threshold, and keeps the shuffle plan
    # when it isn't — the decision a 100 TB run needs made from actual
    # sizes, not planner guesses.
    #
    # The verify consumes only CANDIDATE docs' shingles.  Both verify
    # inputs are therefore candidate-sized (bounded by the near-dup
    # pair population, never the corpus) and get an EAGER localCheckpoint:
    # cand feeds 4 downstream branches, and without lineage truncation
    # each would re-run the whole signature + bands pipeline; the
    # restricted shingle table feeds 3 branches and its checkpoint caps
    # the verify at ONE extra corpus pass (the semi-join scan) — versus
    # three corpus-wide distinct shuffles in the unrestricted form.
    cand = cand.localCheckpoint(eager=True)
    cand_docs = (
        cand.select(F.col("da").alias("doc_id"))
        .union(cand.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    if persist:  # cached corpus-wide distinct projection: restrict it
        sh = sh_all.join(cand_docs, "doc_id", "left_semi")
    else:  # restrict the raw stream BEFORE the distinct shuffle
        sh = (
            _shingles(spark, sf_dir, distinct=False)
            .join(cand_docs, "doc_id", "left_semi")
            .distinct()
        )
    # r18 (the change-4 size-carry applied to the LSH verify, VERDICT
    # r17 #2): checkpoint candidate docs' shingle SETS as per-doc lists
    # carrying their size, attach both lists to each candidate pair by
    # doc key, and intersect IN-ROW — |array_intersect| of two distinct
    # sets is the exact shared-shingle count the shingle-keyed join +
    # group-by computed, and the sizes ride the same rows, so the two
    # pair-keyed count joins are gone.  The explicit i >= 1 filter
    # reproduces the old inner-join semantics for any threshold.
    # Candidate-doc lists are doc-length-bounded (the change-4 mega-doc
    # note applies: NEARDUP_EXACT_MAX_BYTES is the switch that bounds
    # when corpus-wide exact lists exist; here lists cover candidate
    # docs only).
    lists = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("shs"),
            F.count("*").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    la = lists.select(
        F.col("doc_id").alias("da"),
        F.col("shs").alias("sa"),
        F.col("n").alias("na"),
    )
    lb = lists.select(
        F.col("doc_id").alias("db"),
        F.col("shs").alias("sb"),
        F.col("n").alias("nb"),
    )
    inter = (
        cand.join(la, "da")
        .join(lb, "db")
        .select(
            "da",
            "db",
            "na",
            "nb",
            F.size(F.array_intersect("sa", "sb")).alias("i"),
        )
        .filter(F.col("i") >= 1)
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
    return (
        inter.select("da", "db", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# Exact-Jaccard report threshold for the explicit LSH operator.
MINHASH_LSH_T = 0.5


def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs at threshold MINHASH_LSH_T — the
    explicit banded operator, ORACLE-EXACT since the md5-derived
    universal-hash switch (VERDICT r8 #3): the DuckDB twin recomputes
    signatures, band buckets, candidates, and the exact verify
    bit-identically, so the driver gate covers the banding itself
    (recall at the threshold stays characterized by the two-sided
    bounds in tests/test_ann_recall.py — banding at 0.5 is lossy by
    design; the oracle proves the ENGINE computes that lossy set
    exactly)."""
    return _lsh_verified_pairs(spark, sf_dir, threshold=MINHASH_LSH_T)


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document — constant-size near-dup sketch.

    Token → ONE md5, giving 64 hash bits as two integer segments (lo =
    first 12 hex chars / 48 bits, hi = next 4 hex chars / 16 bits —
    the sketches._hash48 construction extended by one segment), so the
    DuckDB oracle recomputes every sketch bit-identically (VERDICT r8
    #3; the former xxhash64 token hash had no SQL twin).  The 64
    per-bit ±1 vote tallies are 64 algebraic ``sum`` columns over the
    exploded token stream — partial aggregation runs map-side and
    everything stays in whole-stage codegen.  (The original
    doubly-nested higher-order-function fold re-hashed every token 64×
    per row in interpreted expressions — HOF lambdas never codegen;
    this formulation replaces it with one tokenize + one shuffle of
    64-long partial rows per doc.)  Bit i of the sketch is the vote
    majority; zero-token docs get sketch 0, exactly like an empty fold.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select("doc_id", tokens_expr("text").alias("t"))
    # explode_outer keeps zero-token docs as one null row, so a single
    # groupBy covers them (all-zero votes → sketch 0) with no join back.
    #
    # All wide expressions are built as generated SQL strings parsed in
    # ONE call each: composing 64 vote columns + the 64-term sketch out
    # of pyspark Column operators costs hundreds of py4j round-trips
    # (~2 s of driver time per plan build, measured) for an otherwise
    # identical expression tree.
    hashed = toks.select("doc_id", F.explode_outer("t").alias("tok")).selectExpr(
        "doc_id",
        "tok IS NOT NULL AS has",
        # one md5 per token; lo carries hash bits 0..47, hi bits 48..63
        "CAST(conv(substring(md5(tok), 1, 12), 16, 10) AS BIGINT) AS hlo",
        "CAST(conv(substring(md5(tok), 13, 4), 16, 10) AS BIGINT) AS hhi",
    )
    votes = [
        F.expr(
            f"sum(IF(has, (shiftright(hlo, {i}) & 1) * 2 - 1, 0)) AS b{i}"
            if i < 48
            else f"sum(IF(has, (shiftright(hhi, {i - 48}) & 1) * 2 - 1, 0)) AS b{i}"
        )
        for i in range(64)
    ]
    n_tokens = F.expr("CAST(sum(IF(has, 1, 0)) AS BIGINT) AS n_tokens")
    # bit 63 via shiftleft(1L, 63) = Long.MIN_VALUE (two's complement);
    # disjoint bits make sum == OR.
    bit_sql = [
        f"CAST({1 << i} AS BIGINT)" if i < 63 else "shiftleft(CAST(1 AS BIGINT), 63)"
        for i in range(64)
    ]
    sketch = " + ".join(
        f"IF(b{i} > 0, {bv}, CAST(0 AS BIGINT))" for i, bv in enumerate(bit_sql)
    )
    return (
        hashed.groupBy("doc_id")
        .agg(n_tokens, *votes)
        .selectExpr("doc_id", "n_tokens", f"({sketch}) AS simhash")
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a ``localCheckpoint``ed frame.
    ``df.unpersist()`` is a no-op there: the blocks belong to the
    checkpointed RDD under the frame's LogicalRDD, not to a cached
    plan, so they would otherwise wait for GC to drop the frame."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components over a symmetric edge table (a, b) →
    (node, label) with label = component minimum.

    Min-label propagation to fixpoint: each round, every node takes the
    min label among itself and its neighbors (one shuffle on node id);
    from round 3 on, pointer jumping (l(v) <- l(l(v))) collapses long
    chains in O(log diameter) extra rounds instead of O(diameter).
    """
    # partition edges on the join key ONCE and keep them resident: every
    # propagation round reuses the in-memory partitioning, so only the
    # (much smaller) label table moves per iteration.  Materialize BEFORE
    # deriving the label table — labels' eager checkpoint would otherwise
    # recompute the full (possibly expensive) edge lineage a second time.
    spark = edges.sparkSession
    staged = edges.persist()
    # persist-BEFORE-count: the count is the materializing action for
    # the cache (verified via RDDStorageInfo: all partitions cached
    # after this line), so the possibly-expensive edge pipeline runs
    # exactly once — the repartition below reads the cached blocks,
    # never the lineage.
    n_edges = staged.count()
    # size iteration stages to the graph, not the session default: a
    # 512-edge near-dup graph iterates in 1-task stages instead of
    # shuffle_partitions-task stages, while a billion-edge graph still
    # shards across the cluster (same policy as graph.pagerank_nations).
    n_parts = max(
        1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000 + 1)
    )
    edges = staged.repartition(n_parts, "b").persist()
    edges.count()
    staged.unpersist()
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .coalesce(n_parts)
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # convergence probe: min-propagation only ever LOWERS labels, so
    # sum(label) strictly decreases until the fixpoint — one cheap agg
    # over the already-materialized label table replaces a join-based
    # old-vs-new comparison (halves the per-round job count).
    prev_sum = None
    for round_no in range(max_rounds):  # see pointer jumping below
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: l(v) <- l(l(v)).  Labels stay within the
        # component and only decrease, so the fixpoint is unchanged, but
        # long chains collapse in O(log diameter) rounds instead of
        # O(diameter).  Gated on round >= 3: near-dup graphs are almost
        # always shallow (converged by then, measured 2x faster without
        # the extra self-join), while a graph still moving after three
        # rounds has deep chains — exactly when jumping pays.
        if round_no >= 3:
            parent = propagated.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            propagated = (
                propagated.join(parent, propagated.label == parent.p_node, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                    ).alias("label"),
                )
            )
        if round_no >= 3:
            # the jump self-join references the round's plan twice, so
            # without HARD lineage truncation the lazy plan (and the
            # per-round cost) compounds ~3x per round — measured
            # runaway on a 200-node chain.  localCheckpoint bounds
            # every jumping round to the same constant-size plan.
            # LAZY since r17 (guide job-cadence): the checkpoint
            # rebases the plan on an RDD immediately either way; the
            # convergence agg below is the round's materializing
            # action, so the eager form's dedicated checkpoint job was
            # a second per-round driver job for the same blocks.
            new_labels = propagated.localCheckpoint(eager=False)
        else:
            # pre-jump rounds: LAZY localCheckpoint too (r18, VERDICT
            # r17 #6).  The r8 comment chose persist because the only
            # checkpoint then available was EAGER (two actions/round);
            # the lazy form has the same one-action-per-round cadence
            # — the convergence agg materializes it — and additionally
            # truncates lineage, so the persisted pre-jump rounds no
            # longer compound into the final plan (dedup_clusters'
            # analyzed plan: 149k -> 38k chars at sf0.01, catalyst
            # time measured in scratch/r18_cc_plan_ab.py).
            new_labels = propagated.localCheckpoint(eager=False)
        cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        # the agg materialized new_labels, whose lineage no longer
        # reaches the previous round: free its blocks now, not at GC
        _release_checkpoint(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the Jaccard≥0.5
    pair graph, labeled by the minimum doc_id.

    Edges come from ``neardup_pairs`` (df-capped, mirroring the
    oracle): below NEARDUP_EXACT_MAX_BYTES the exact shingle join —
    structural parity with the DuckDB oracle under ANY data refresh,
    not an empirical coincidence of today's test corpus — and past it
    the minhash band path, so edge generation at 100 TB is
    O(colliding pairs), never the O(Σ df²) all-pairs join.  Above
    threshold 0.5 real near-dup pairs sit close to 1.0 (banded recall
    at s=0.9 is 1−2e-4), and the seeded hashes keep the banded edge
    set deterministic; tests/test_scale_fixes.py additionally pins
    banded-path clustering == exact-path clustering on the test data.

    The iterative algorithm class — see ``connected_components`` for the
    propagation + pointer-jumping scheme and its scale behavior.
    """
    pairs = neardup_pairs(
        spark, sf_dir, threshold=0.5, df_cap=HOT_SHINGLE_DF_CAP
    )
    edges = (
        pairs.select(F.col("da").alias("a"), F.col("db").alias("b"))
        .union(pairs.select(F.col("db").alias("a"), F.col("da").alias("b")))
        .distinct()
    )
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# Exact substring-span dedup parameters: span width (tokens) and stride.
# 20-token spans at stride 10 give 2x overlap coverage — a duplicated
# passage of >= 30 tokens is guaranteed to contain at least one aligned
# span on each side regardless of offset (standard exact-substring
# dedup granularity, per the training-data dedup literature).
SPAN_WIDTH = 20
SPAN_STRIDE = 10


def _span_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h) exact-span fingerprints: md5 of each 20-token window
    at stride 10, deduplicated per doc map-side (array_distinct before
    the explode).  Docs with < SPAN_WIDTH tokens emit nothing."""
    toks = docs.select("doc_id", tokens_expr("text").alias("t")).filter(
        F.size("t") >= SPAN_WIDTH
    )
    spans = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.size("t") - (SPAN_WIDTH - 1), F.lit(SPAN_STRIDE)
            ),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(SPAN_WIDTH)))
            ),
        )
    )
    return toks.select("doc_id", F.explode(spans).alias("h"))


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup signal: per doc, how many of its
    20-token spans (stride 10) also appear verbatim in ANOTHER doc, and
    the duplicated-span fraction.  This is the passage-level complement
    to whole-doc dedup (dedup_exact) and near-dup (minhash/jaccard):
    boilerplate headers, license blocks, and copied paragraphs light up
    here even when the containing docs differ.

    MR shape: map emits (span_hash, doc_id) — spans are md5 of the
    joined token window, deduped per doc map-side (array_distinct
    before the explode); reduce counts docs per span; a join back +
    per-doc agg yields the signal.  Scale: one algebraic hash agg over
    the span table (|tokens|/stride rows) and ONE shuffle join keyed on
    span hash — hot spans (corpus-wide boilerplate) are absorbed by
    map-side partials in the count agg, and the join fans out only per
    occurrence, never per pair (no span self-join).  Docs with < 20
    tokens have no spans and are absent (oracle mirrors).
    """
    ex = _span_hashes(load_table(spark, sf_dir, "documents"))
    # per-doc distinct spans -> count(*) per hash == number of docs
    counts = ex.groupBy("h").agg(F.count("*").alias("n_docs"))
    dup = (F.col("n_docs") >= 2).cast("int")
    return (
        ex.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(dup).cast("long").alias("n_dup_spans"),
            F.round(
                F.sum(dup).cast("double") / F.count("*").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup contamination matrix: for every unordered
    source pair, the number of near-dup document pairs (exact Jaccard
    >= 0.5) spanning them and the mean pair similarity.  This is the
    curation question "how much of source A is a copy of source B" —
    the signal that decides which source to drop when two crawls
    overlap.

    Pairs come from ``neardup_pairs`` (uncapped, mirroring this
    operator's oracle): the exact shingle join below
    NEARDUP_EXACT_MAX_BYTES — structural oracle parity, robust to data
    refreshes — and the LSH band path at scale, where pair generation
    is O(colliding pairs) at any corpus size.  The source lookup joins
    the near-dup-population-sized pair table against the (doc_id,
    source) projection — AQE broadcasts the small pair side at
    runtime.  least/greatest canonicalize the pair so (A,B) and (B,A)
    land in one row; same-source dups appear on the diagonal.
    avg_jaccard is rounded to 6 decimals to absorb cross-engine
    float-summation drift (pairs per group are few; each jaccard is an
    exact int-ratio double).
    """
    pairs = neardup_pairs(spark, sf_dir, threshold=0.5)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("da"), F.col("source").alias("src_a")),
            "da",
        ).join(
            src.select(F.col("doc_id").alias("db"), F.col("source").alias("src_b")),
            "db",
        )
    )
    return (
        j.groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        ).agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


# Incremental-dedup split: doc_id % BATCH_MOD >= BATCH_THRESHOLD is the
# "incoming batch" (20% of docs), the rest the already-ingested corpus.
# Deterministic and oracle-mirrorable; a real pipeline would read the
# new crawl delta here.
BATCH_MOD = 10
BATCH_THRESHOLD = 8


def _incremental_near_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch doc_ids with exact Jaccard >= 0.5 against some corpus doc,
    via the one-sided EXACT shingle join (batch shingles × corpus
    shingles — never corpus × corpus).  Structurally mirrors the DuckDB
    oracle (uncapped), so driver parity is refresh-proof.  Used below
    NEARDUP_EXACT_MAX_BYTES, where the Σ df·df_batch cost is trivial.

    r17: the _exact_pairs one-pass rework applied to the one-sided
    form — one shingle-clustered repartition + in-place distinct, one
    doc-keyed list agg, checkpoint; both join sides explode the
    checkpointed lists with their doc's size carried through the pair
    agg as group keys (the former shape re-ran the tokenize+distinct
    pipeline for counts AND both sides, then joined sizes back per
    pair — 3 corpus passes and 2 pair-keyed joins, now 1 pass and 0)."""
    is_batch = (F.col("doc_id") % BATCH_MOD) >= BATCH_THRESHOLD
    width = _prefix_width(sf_dir, spark)
    by_doc = (
        _shingles(spark, sf_dir, distinct=False)
        .repartition(width, "shingle")
        .dropDuplicates(["doc_id", "shingle"])
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("sl"))
        .select("doc_id", F.size("sl").cast("long").alias("n"), "sl")
        .localCheckpoint(eager=True)
    )
    sa = by_doc.filter(is_batch).select(
        F.col("doc_id").alias("bd"),
        F.col("n").alias("na"),
        F.explode("sl").alias("s"),
    )
    sb = by_doc.filter(~is_batch).select(
        F.col("doc_id").alias("cd"),
        F.col("n").alias("nb"),
        F.explode("sl").alias("s"),
    )
    # shuffle-hash: both sides are corpus-linear shingle streams — no
    # ordering value in the key, nothing safely broadcastable (and the
    # checkpointed by_doc explode has no size stats for Catalyst).
    inter = (
        sa.hint("shuffle_hash")
        .join(sb, "s")
        .groupBy("bd", "na", "cd", "nb")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    ).cast("double")
    return (
        inter.filter(jac >= 0.5)
        .select(F.col("bd").alias("doc_id"))
        .distinct()
        .withColumn("near", F.lit(1))
    )


def _incremental_near_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form of ``_incremental_near_exact``: one minhash signature
    pass over batch+corpus, an LSH band-bucket join of BATCH bands
    against CORPUS bands (one-sided, ~batch-sized output, not the full
    self-join), then the exact-Jaccard verify restricted to candidate
    docs' shingles — the same candidate-bounded scheme as
    ``_lsh_verified_pairs``.  Recall follows the banding S-curve
    documented at NEARDUP_EXACT_MAX_BYTES."""
    is_batch = (F.col("doc_id") % BATCH_MOD) >= BATCH_THRESHOLD
    sigs = minhash_signatures(
        spark, sf_dir, shingles=_shingles(spark, sf_dir, distinct=False)
    )
    bands = _bands(sigs)
    nb = bands.filter(is_batch).alias("a")
    cb = bands.filter(~is_batch).alias("b")
    cand = (
        nb.hint("shuffle_hash")
        .join(
            cb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.doc_id").alias("bd"), F.col("b.doc_id").alias("cd"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_docs = (
        cand.select(F.col("bd").alias("doc_id"))
        .union(cand.select(F.col("cd").alias("doc_id")))
        .distinct()
    )
    # r18: the same in-row size-carry verify as _lsh_verified_pairs —
    # per-doc shingle lists with sizes, doc-keyed joins, exact
    # |array_intersect| in place of the shingle-keyed join + two count
    # joins (semantics identical; i >= 1 reproduces the inner joins).
    lists = (
        _shingles(spark, sf_dir, distinct=False)
        .join(cand_docs, "doc_id", "left_semi")
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("shs"),
            F.count("*").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    la = lists.select(
        F.col("doc_id").alias("bd"),
        F.col("shs").alias("sa"),
        F.col("n").alias("na"),
    )
    lb = lists.select(
        F.col("doc_id").alias("cd"),
        F.col("shs").alias("sb"),
        F.col("n").alias("nb"),
    )
    inter = (
        cand.join(la, "bd")
        .join(lb, "cd")
        .select(
            "bd",
            "na",
            "nb",
            F.size(F.array_intersect("sa", "sb")).alias("i"),
        )
        .filter(F.col("i") >= 1)
    )
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    ).cast("double")
    return (
        inter.filter(jac >= 0.5)
        .select(F.col("bd").alias("doc_id"))
        .distinct()
        .withColumn("near", F.lit(1))
    )


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup gate: for each document in the incoming
    batch, flag whether it near-duplicates the existing corpus
    (exact Jaccard >= 0.5 against some corpus doc) and whether it
    shares a verbatim 20-token span with it.  This is the incremental
    form of dedup a continuously-ingesting training pipeline runs on
    every new crawl delta — the batch is checked against the corpus,
    never the corpus against itself.

    Near path: the usual size switch — exact one-sided shingle join
    below NEARDUP_EXACT_MAX_BYTES (structural oracle parity), the
    one-sided LSH band join at scale (``_incremental_near_lsh``).
    Span path: batch span hashes left-semi-joined against the distinct
    corpus span set, keyed on the hash (one shuffle, no pair blowup) —
    exact at every scale.  At 100 TB the corpus-side signature/span
    tables would be precomputed artifacts of the previous run; here
    they derive from the same table, which exercises the identical
    plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % BATCH_MOD) >= BATCH_THRESHOLD
    if _input_bytes(sf_dir, "documents", spark) < NEARDUP_EXACT_MAX_BYTES:
        near = _incremental_near_exact(spark, sf_dir)
    else:
        near = _incremental_near_lsh(spark, sf_dir)
    ex = _span_hashes(docs)
    # the corpus span set is CORPUS-LINEAR — the shuffle-hash hint on
    # the build side keeps it off the broadcast path (locally it is tiny
    # and Catalyst would happily broadcast it; at 100 TB that's the
    # whole corpus's spans).
    spand = (
        ex.filter(is_batch)
        .join(
            ex.filter(~is_batch).select("h").distinct().hint("shuffle_hash"),
            "h",
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("span", F.lit(1))
    )
    return (
        docs.filter(is_batch)
        .select("doc_id")
        .join(near, "doc_id", "left")
        .join(spand, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("near", F.lit(0)).cast("int").alias("near_dup"),
            F.coalesce("span", F.lit(0)).cast("int").alias("span_dup"),
        )
    )


def fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution near-match: part-name vocabulary pairs within
    edit distance 3, using a composite canopy block key.  (Threshold 3
    because the synthetic vocabulary's closest distinct pairs sit at
    distance 3 — "cold ring"/"cold rod" — so the result is non-empty
    and the driver's value hash actually compares pairs.)

    The classic ER pattern: block -> pair within block -> verify
    (levenshtein).  The block key is (first token, length band of 4):
    cardinality grows with the vocabulary (unlike the 26 buckets a
    first-character key tops out at, which degenerates to per-block
    O((n/26)²) pairs), so per-block work stays bounded as the corpus
    scales and the self-join shuffles on the key instead of
    broadcasting.  Names are deduplicated before pairing, so the join
    input is the vocabulary, not the rows.  Like any canopy, the block
    is recall-lossy by design (an edit in the first token or across a
    length-band boundary escapes it); the oracle mirrors the same key.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("blk_tok", F.split("name", " ").getItem(0))
        .withColumn("blk_len", F.floor(F.length("name") / F.lit(4)))
    )
    a = names.select(F.col("name").alias("name_a"), "blk_tok", "blk_len")
    b = names.select(F.col("name").alias("name_b"), "blk_tok", "blk_len")
    return (
        a.join(b, ["blk_tok", "blk_len"])
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
    )


# SimHash near-dup pairing: 64-bit sketches split into 4 x 16-bit
# blocks.  By pigeonhole, two sketches within Hamming distance 3 differ
# in at most 3 blocks, so they MUST share at least one block verbatim —
# the block-bucket join is exactly equivalent to the all-pairs scan for
# d <= 3 (no recall loss; the classic Google web-dedup construction).
SIMHASH_BLOCKS = 4
SIMHASH_HAMMING_MAX = 3


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from 64-bit SimHash sketches: all (da < db) with
    Hamming distance <= 3, via the block trick (Manku et al., WWW'07).

    Map: emit (block_idx, block_value, doc_id) for each of the 4
    16-bit blocks; reduce: pair docs sharing a block; verify:
    bit_count(xor) <= 3 — JVM-side popcount, no Python.  The bucket
    self-join shuffles on (block_idx, value): blocks are corpus-linear
    (4 rows/doc) so the SHUFFLE_HASH hint keeps them off the broadcast
    path, same as the minhash band join.  Unlike minhash banding this
    is EXACT, not probabilistic: d <= 3 flips touch <= 3 of 4 blocks,
    so one block always survives (pigeonhole) — pinned against the
    brute-force all-pairs scan in tests/test_scale_fixes.py.

    Zero-token docs are excluded: their sketch is the degenerate 0
    (empty vote vector), which would pair every empty doc with every
    near-zero sketch; byte-identical empties are already covered by
    dedup_exact.  At web scale the block buckets are near-uniform
    (sketch bits are hash-balanced), bounding per-bucket occupancy at
    n / 2^16 per block table.
    """
    sk = simhash(spark, sf_dir).filter(F.col("n_tokens") > 0)
    blocks = sk.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright("simhash", 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for b in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.blk", "bb.val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(sa ^ sb)").cast("long")
    return (
        pairs.select("da", "db", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )


# Content-defined chunking (CDC): window width and boundary modulus.
# A position ends a chunk when the polynomial hash of the trailing
# 8-char window is divisible by 32 -> expected chunk length ~32 chars.
CDC_WINDOW = 8
CDC_MODULUS = 32
# Rabin-Karp window hash: H(i) = sum_j cp[i-j] * BASE^j  (mod PRIME).
# Powers are precomputed so each position costs CDC_WINDOW integer
# multiply-adds — the O(1)-per-term cost class of a true rolling hash,
# with no sequential dependency between positions (each window hash is
# an independent 8-term dot product over the shared codepoint array),
# so the whole boundary scan stays a single codegen'd expression.
CDC_BASE = 257
CDC_PRIME = 1_000_003
CDC_POW = [pow(CDC_BASE, j, CDC_PRIME) for j in range(CDC_WINDOW)]


def cdc_dup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup signal: per doc, how many of its
    CDC chunks also appear verbatim in another doc.  The
    insertion-robust complement to ``dup_spans``: fixed-stride spans
    lose alignment after a single inserted word shifts every later
    offset, while CDC boundaries are functions of local CONTENT (the
    rolling window's hash), so shared passages re-synchronize at the
    next content boundary regardless of offset — the rsync /
    storage-dedup chunking principle applied to text curation.

    Boundary rule (identical recurrence in the DuckDB oracle): position
    i (1-based, i >= CDC_WINDOW) closes a chunk when the Rabin-Karp
    polynomial hash of the trailing window —
    ``sum_j codepoint(text[i-j]) * CDC_BASE^j  (mod CDC_PRIME)`` — is
    divisible by CDC_MODULUS.  Chunks shorter than the window are noise
    and dropped.

    Scale shape: boundary detection and chunk assembly are per-row
    array expressions inside whole-stage codegen (no UDF, no shuffle);
    then exactly the dup_spans plan — one algebraic count agg keyed on
    chunk hash and one keyed join back, never a chunk self-join.  The
    text is decoded to a codepoint array ONCE per row, then each of the
    O(len) window hashes is CDC_WINDOW integer multiply-adds over that
    array — the rolling-hash cost class (vs the previous
    md5-per-position constant, a ~50-100x compute cut on the corpus's
    hottest linear pass; VERDICT r5 #2).
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    text = F.col("text")
    n = F.length(text)
    # Decode to codepoints in a dedicated projection so the array is
    # computed once per row (CollapseProject won't inline a non-cheap
    # alias referenced CDC_WINDOW times per position).  F.ascii here
    # is FULL-codepoint decoding, not a UTF-16 code unit: Spark 4's
    # ascii() is codePointAt-based, so supplementary-plane characters
    # (emoji etc.) hash identically to the DuckDB oracle's unicode()
    # — pinned by test_cdc_boundaries_match_oracle_on_non_bmp_text.
    docs = docs.select(
        "doc_id",
        "text",
        F.transform(
            F.filter(F.split(text, ""), lambda c: c != F.lit("")),
            lambda c: F.ascii(c).cast("long"),
        ).alias("_cps"),
    )
    cps = F.col("_cps")

    def win_val(i):
        # H(i) = sum_j cp[i-j] * BASE^j mod PRIME; terms stay < 2^40.
        h = F.lit(0)
        for j, p in enumerate(CDC_POW):
            h = h + F.element_at(cps, (i - j).cast("int")) * F.lit(p)
        return h % CDC_PRIME

    bpos = F.filter(
        F.sequence(F.lit(CDC_WINDOW), F.greatest(n, F.lit(CDC_WINDOW))),
        lambda i: (i <= n) & (win_val(i) % CDC_MODULUS == 0),
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda x: x + 1))
    ends = F.concat(bpos, F.array(n))
    chunks = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.when(
                e - s + 1 >= CDC_WINDOW, F.md5(F.substring(text, s, e - s + 1))
            ),
        ),
        lambda x: x.isNotNull(),
    )
    ex = docs.select(
        "doc_id", F.explode(F.array_distinct(chunks)).alias("h")
    )
    counts = ex.groupBy("h").agg(F.count("*").alias("n_docs"))
    dup = (F.col("n_docs") >= 2).cast("int")
    return (
        ex.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup_chunks"),
            F.round(
                F.sum(dup).cast("double") / F.count("*").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


# Audit sample size for neardup_audit.
AUDIT_TOP_K = 20


def neardup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-review audit sample: the top-K near-dup pairs by Jaccard
    (ties broken on ids) with both texts' leading 80 chars side by
    side — the spot-check table every dedup rollout ships to a
    reviewer before thresholds go live.

    Pairs ride the usual size switch (exact below
    NEARDUP_EXACT_MAX_BYTES, banded past it); the text lookup joins
    only the K-bounded pair sample against the (doc_id, snippet)
    projection, so full documents never shuffle.  Global top-K over
    the pair population is a TakeOrdered-style limit, not a
    single-partition sort of everything.
    """
    pairs = neardup_pairs(spark, sf_dir, threshold=0.5)
    top = (
        pairs.orderBy(F.desc("jaccard"), F.asc("da"), F.asc("db"))
        .limit(AUDIT_TOP_K)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("jaccard"), F.asc("da"), F.asc("db"))
            ),
        )
    )
    snip = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 80).alias("snippet")
    )
    return (
        top.join(
            snip.select(F.col("doc_id").alias("da"), F.col("snippet").alias("text_a")),
            "da",
        )
        .join(
            snip.select(F.col("doc_id").alias("db"), F.col("snippet").alias("text_b")),
            "db",
        )
        .select("rank", "da", "db", "jaccard", "text_a", "text_b")
    )


# Threshold sweep grid for dedup_rate_by_threshold.
SWEEP_THRESHOLDS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def dedup_rate_by_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep table for near-dup rollouts: from ONE pass over
    the pair population (base threshold 0.1, the same pairs
    ngram_jaccard_neardup reports), the pair count and the number of
    distinct documents involved at every candidate threshold — the
    curve a dedup rollout reads to pick its operating point instead of
    re-running the pipeline per threshold.  Thresholds with zero pairs
    are absent (the curve's support).

    Scale shape: pairs are computed once (exact/LSH size switch as
    everywhere); each pair then fans out to at most |grid| threshold
    rows map-side (a filtered literal-array explode — 8 rows max per
    pair), and both counts are algebraic aggs over that pair-bounded
    stream.  Nothing quadratic beyond the already-bounded pair
    population.
    """
    pairs = neardup_pairs(spark, sf_dir, threshold=0.1, df_cap=HOT_SHINGLE_DF_CAP)
    grid = F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])
    # one generator per projection: thresholds first, then both pair
    # endpoints — each pair contributes exactly 2 rows per qualifying
    # threshold, so ONE agg yields both counts (count/2 pairs, distinct
    # endpoints) and the expensive pair lineage has a single consumer.
    pt = pairs.select(
        F.explode(F.filter(grid, lambda t: t <= F.col("jaccard"))).alias("threshold"),
        "da",
        "db",
    ).select("threshold", F.explode(F.array("da", "db")).alias("d"))
    return pt.groupBy("threshold").agg(
        (F.count("*") / 2).cast("long").alias("n_pairs"),
        F.countDistinct("d").cast("long").alias("n_docs_involved"),
    ).select(
        F.round("threshold", 1).alias("threshold"), "n_pairs", "n_docs_involved"
    )


# Prefix-filter join threshold: true near-dup territory, where prefixes
# are short (~(1-t)|x| tokens) and the candidate volume is small.
PREFIX_JACCARD_T = 0.6


def prefix_filter_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= PREFIX_JACCARD_T pairs via PREFIX FILTERING —
    the Vernica/Carey/Li MapReduce set-similarity join (SIGMOD 2010) /
    Chaudhuri-Bayardo prefix principle, the third candidate-generation
    strategy next to the df-capped shingle join (exact, but needs the
    cap) and MinHash-LSH (probabilistic recall):

    Order each doc's shingle set by ascending global document
    frequency (rarest first, ties by shingle); a pair with
    J(x, y) >= t shares >= ceil(t*|x|) elements (since the
    intersection >= t*|union| >= t*max), so its globally-first common
    shingle must sit within the first |x| - ceil(t*|x|) + 1 elements
    of BOTH sets — joining prefix x prefix on the shingle is therefore
    COMPLETE (no recall loss, no df cap), and candidates are generated
    on the rarest shingles by construction, which is what bounds the
    join fan-out at scale: hot boilerplate shingles sit at the END of
    the ordering and never enter a prefix unless the doc is nearly all
    boilerplate.

    Scale shape: shingle df agg (algebraic), per-doc rank window
    (doc-partitioned), prefix explode ~ (1-t)|x| rows/doc, shingle-
    keyed candidate self-join, pair-keyed intersection count agg, two
    size joins, exact-Jaccard filter.  Every join is keyed; nothing
    quadratic outside the candidate population; the DuckDB twin is the
    UNCAPPED all-pairs join, so the driver gate proves completeness.
    """
    by_doc, pref = _prefix_frames(spark, sf_dir)
    w = _prefix_width(sf_dir, spark)
    cand = vcl_candidates(pref, width=w)
    return _jaccard_verify(cand, by_doc, PREFIX_JACCARD_T, width=w).select(
        "da", "db", F.round("j", 6).alias("jaccard")
    )


# ~this many bytes of RAW documents per prefix-pipeline partition
# (the shingle explode inflates ~6-10x, so a partition carries
# ~50-80 MB of exploded shingles — comfortably in-memory).  The cap
# bounds shuffle-partition count on petabyte inputs (raise the target
# there instead of minting millions of partitions).
PREFIX_PARTITION_BYTES = 8 * 1024 * 1024
PREFIX_WIDTH_CAP = 200_000


def _prefix_width(sf_dir: str, spark: SparkSession | None = None) -> int:
    """Input-size-derived partition width for the prefix family (r11):
    the pipeline was width-pinned at defaultParallelism (32 locally),
    which over-parallelizes tiny inputs — at sf0.1 the by_doc stage
    spent most of its 1.7 s scheduling 32-task waves over ~600 KB —
    and under-parallelizes petabyte ones (32 partitions of a 100 TB
    shingle table).  Sizing by input bytes (a parquet metadata stat,
    no job — the SHINGLE_PERSIST_MIN_BYTES discipline) gives both
    regimes the right width; results are width-invariant (pinned by
    the cross-width rank tests' discipline and the oracle gate).

    When the stat comes back 0 — unstatable path, object-store URI,
    remote filesystem — fall back to cluster-scaled width (4x
    defaultParallelism, the standard tasks-per-core band), NOT the
    tiny-input floor: a 100 TB input behind an os.path-opaque URI
    must never plan an 8-partition shingle shuffle (VERDICT r11 #4).
    """
    nbytes = _input_bytes(sf_dir, "documents", spark)
    if nbytes <= 0:
        fallback = 4 * spark.sparkContext.defaultParallelism if spark else 128
        return min(PREFIX_WIDTH_CAP, max(8, fallback))
    return min(
        PREFIX_WIDTH_CAP,
        max(8, nbytes // PREFIX_PARTITION_BYTES),
    )


def _prefix_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared machinery of the prefix-filter family: the per-doc
    SORTED shingle list frame ``by_doc`` (doc_id, n, s) and the
    df-ranked PREFIX frame (doc_id, shingle, rn, n) — each doc's
    first |x| - ceil(t|x|) + 1 shingles in ascending global-df order
    (rarest first, ties by shingle).  ``rn`` is the 1-based position
    in that canonical order, which is what the PPJoin positional
    filter reads.

    Shuffle shape (r11): the corpus-wide shingle stream moves exactly
    TWICE — one explicit hash-repartition on the shingle that the
    per-doc distinct AND the window-based df count both satisfy in
    place, then the doc-keyed agg that builds the sorted per-doc list
    (sort_array over (df, shingle) structs — identical order to a
    row_number window over (df, shingle)); sizes and the prefix slice
    are projections over it.  Earlier shapes, both measured and
    retired: a window + separate sizes agg + sizes join (two extra
    doc-keyed shuffles, 3.67 → ~2.7 s at sf0.1), then a distinct →
    df groupBy → join-back chain (r10) that exchanged the stream four
    times and whose join Catalyst planned as a BROADCAST of the
    vocabulary-sized df table while re-executing the whole scan for
    the build side — vocab is corpus-linear, the same scale-killer
    class as the r10 ppjoin broadcast (see SCALE.md "prefix-frames
    2-exchange rework" for the A/B).  The per-doc list is
    doc-length-bounded — the same per-doc materialization every
    shingle consumer already makes — and the verify stage consumes it
    directly (see _jaccard_verify).

    ``by_doc`` is PERSISTED (MEMORY_AND_DISK): four downstream
    subplans read it (both sides of the candidate self-join via
    ``pref``, both sides of the verify) and Catalyst's ReusedExchange
    only covers the bit-identical pair, so without it the shingle
    explode + df agg + doc agg pipeline executes twice end to end
    (measured at sf0.1: prefix_filter_neardup 3.04 → 2.49 s min,
    ppjoin/pagerank_docs inherit).  persist() beats localCheckpoint
    here specifically because the InMemoryRelation KEEPS plan stats —
    an eager-checkpoint draft turned the scans into unknown-size
    ExistingRDDs and Catalyst broadcast the ENTIRE exploded prefix
    table into the self-join (6.1 s and a scale-killer).  The cached
    footprint is the same per-doc-list the agg already materializes;
    at 100 TB swap for a scratch-parquet write if executor storage
    memory is contended.
    """
    # 2-exchange pipeline (r11, VERDICT r10 #6): ONE explicit
    # hash-repartition on the shingle up front, then the per-doc
    # distinct, the df computation, and nothing else before the final
    # doc-keyed agg.  HashPartitioning(shingle) clusters (doc_id,
    # shingle), so dropDuplicates aggregates in place, and df comes
    # from a count-over-Window.partitionBy(shingle) on the SAME
    # partitioning (one local sort, no exchange) instead of a separate
    # df agg JOINED back.  The former distinct -> groupBy(shingle) ->
    # join chain exchanged the corpus-wide shingle table four times —
    # and worse, Catalyst elected to BROADCAST the vocabulary-sized df
    # table into the join at test SFs (vocab is corpus-linear: a
    # scale-killer plan shape, the ppjoin-broadcast lesson) while
    # re-executing the whole scan pipeline to build it.  Now the
    # corpus moves exactly twice (shingle, then doc_id), one scan, no
    # join.  Cost: the shingle shuffle carries pre-distinct rows (no
    # map-side partial distinct) — word-3-gram duplication within a
    # doc is a few percent, far below an extra corpus-wide exchange.
    # Hot-shingle skew exposure is unchanged: the df agg concentrated
    # hot shingles onto one partition identically, and candidate joins
    # cap them via HOT_SHINGLE_DF_CAP / the prefix slice downstream.
    width = _prefix_width(sf_dir, spark)
    sh = _shingles(spark, sf_dir, distinct=False).repartition(width, "shingle")
    shd = sh.dropDuplicates(["doc_id", "shingle"])
    by_doc = (
        shd.withColumn(
            "df", F.count("*").over(Window.partitionBy("shingle")).cast("long")
        )
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("s")
        )
        .select("doc_id", F.size("s").cast("long").alias("n"), "s")
        .persist()
    )
    prefix_len = (
        F.col("n") - F.ceil(F.lit(PREFIX_JACCARD_T) * F.col("n")) + 1
    ).cast("int")
    pref = by_doc.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("s", F.lit(1), prefix_len)).alias("p", "e"),
    ).select(
        "doc_id",
        F.col("e.shingle").alias("shingle"),
        (F.col("p") + 1).cast("long").alias("rn"),
        "n",
    )
    return by_doc, pref


def vcl_candidates(pref: DataFrame, width: int | None = None) -> DataFrame:
    """Vernica/Carey/Li candidates: prefix x prefix join on the
    shingle, da < db, deduped — complete, positions unused.

    Both sides are explicitly repartitioned on the join key at a
    pinned width (the embedding_neardup_strict lesson, VERDICT r9 #6)
    and the join is pinned to a shuffle-hash join: the prefix frame
    reads from a cached relation whose pre-materialization size
    Catalyst can't always estimate, and an unguarded plan broadcast
    the ENTIRE exploded prefix table into the self-join (measured
    6.1 s at sf0.1 — a single-threaded hash-table build, and a
    scale-killer: the prefix table grows with the corpus).  The
    explicit exchange keeps the join co-partitioned at a width AQE
    won't coalesce into skew.  ``width`` defaults to the cluster
    parallelism; the prefix-family entry points pass the input-sized
    ``_prefix_width`` instead (r11)."""
    from ..session import two_pass_rank_width

    width = width or two_pass_rank_width(pref.sparkSession)
    a = pref.select(F.col("doc_id").alias("da"), "shingle").repartition(
        width, "shingle"
    )
    b = pref.select(F.col("doc_id").alias("db"), "shingle").repartition(
        width, "shingle"
    )
    return (
        a.join(b.hint("shuffle_hash"), "shingle")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )


def ppjoin_candidates(pref: DataFrame, width: int | None = None) -> DataFrame:
    """PPJoin candidates: the VCL prefix join tightened by the LENGTH
    and POSITIONAL filters (Xiao, Wang, Lin, Yu — WWW 2008) — both
    LOSSLESS for Jaccard >= t, both evaluated before the expensive
    intersection-count agg:

    - length filter: J <= min(|x|,|y|) / max(|x|,|y|) (the overlap is
      at most the smaller set, the union at least the larger), so any
      pair with min/max < t is pruned from the per-match rows before
      the pair agg even forms the group.
    - positional filter: over a pair's SHARED prefix shingles (the
      rows the join produced), every common element globally ordered
      before the last shared prefix shingle w_k lies within BOTH
      prefixes (positions are assigned in the same global df order) —
      so it IS one of the k shared rows.  The true overlap is then
      bounded by ub = k + min(|x| - p_x(w_k), |y| - p_y(w_k)), and a
      pair is kept only if ub could still clear the threshold:
      ub / (|x| + |y| - ub) >= t (monotone in ub, so the bound is
      conservative — no recall loss; the driver gate against the
      uncapped all-pairs twin proves it).

    Groups are (da, db, na, nb): one algebraic agg computes k and the
    last shared positions; no window, no second pass over the prefix
    join output.

    Width-pinned shuffle join on the shingle, as in
    :func:`vcl_candidates` (the checkpointed prefix frame has no
    size stats, and the unguarded plan broadcasts the full prefix
    table into the self-join — wrong at any scale past toy).
    ``width`` as in :func:`vcl_candidates`.
    """
    from ..session import two_pass_rank_width

    width = width or two_pass_rank_width(pref.sparkSession)
    pref = pref.repartition(width, "shingle")
    a = pref.select(
        F.col("doc_id").alias("da"),
        "shingle",
        F.col("rn").alias("pa"),
        F.col("n").alias("na"),
    )
    b = pref.select(
        F.col("doc_id").alias("db"),
        "shingle",
        F.col("rn").alias("pb"),
        F.col("n").alias("nb"),
    )
    t = PREFIX_JACCARD_T
    shared = (
        a.join(b.hint("shuffle_hash"), "shingle")
        .filter(F.col("da") < F.col("db"))
        # length filter: applied per matched row, so pruned pairs never
        # materialize a group in the agg below
        .filter(
            F.least("na", "nb") / F.greatest("na", "nb") >= F.lit(t)
        )
    )
    agg = shared.groupBy("da", "db", "na", "nb").agg(
        F.count("*").alias("k"),
        F.max("pa").alias("pam"),
        F.max("pb").alias("pbm"),
    )
    ub = F.col("k") + F.least(
        F.col("na") - F.col("pam"), F.col("nb") - F.col("pbm")
    )
    return agg.filter(
        ub / (F.col("na") + F.col("nb") - ub) >= F.lit(t)
    ).select("da", "db")


def _jaccard_verify(
    cand: DataFrame,
    by_doc: DataFrame,
    threshold: float,
    width: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verify of a candidate pair set, ARRAY form: each
    candidate pair joins the two per-doc sorted shingle lists (already
    materialized by _prefix_frames) and the intersection is one
    map-side ``size(array_intersect(sa, sb))`` — int/int division
    after it, bit-identical across engines, no rounding pre-filter.

    Why this beats the explode-join verify (two shingle joins + a
    pair-keyed count agg, measured 2.43 → 1.95 s min at sf0.1 on the
    ppjoin candidates, identical output): the explode form shuffles
    the ENTIRE corpus shingle table into both candidate joins, while
    this form moves only the shingle lists of docs that actually
    appear in candidates — at 100 TB that is (candidate docs ×
    doc length) bytes versus two corpus-wide shuffles, and the
    per-pair intersect is a linear hash probe inside codegen instead
    of a shuffled fan-out row per matching shingle.

    Returns the UNROUNDED jaccard as ``j`` (ADVICE r8): downstream
    weight consumers (pagerank_docs) need the raw double — it is
    bit-identical across engines (same int/int division) while an
    explicit round(6) is itself the only cross-engine divergence
    (round-half boundaries); the presentation queries apply
    round(j, 6) at their own output edge.
    """
    from ..session import two_pass_rank_width

    lists = by_doc.select("doc_id", F.col("s.shingle").alias("ss"), "n")
    la = lists.select(
        F.col("doc_id").alias("da"), F.col("ss").alias("sa"), F.col("n").alias("na")
    )
    lb = lists.select(
        F.col("doc_id").alias("db"), F.col("ss").alias("sb"), F.col("n").alias("nb")
    )
    i = F.size(F.array_intersect("sa", "sb")).cast("long")
    jac = i / (F.col("na") + F.col("nb") - i)
    # Width pin (the semdedup AQE bytes-vs-compute case): the candidate
    # frame is byte-small but each row costs an array_intersect over two
    # full shingle lists, and AQE coalesces it to 1-2 partitions by
    # size — serializing the verify compute (measured at sf0.1 on the
    # 300k VCL candidates: verify 6.0 -> 1.9 s with the pin).
    width = width or two_pass_rank_width(cand.sparkSession)
    return (
        cand.repartition(width, "da")
        .join(la, "da")
        .join(lb, "db")
        .select("da", "db", jac.alias("j"))
        .filter(F.col("j") >= threshold)
    )


def ppjoin_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= PREFIX_JACCARD_T pairs via PPJoin — prefix
    filtering (:func:`prefix_filter_neardup`) upgraded with the length
    and positional filters of Xiao et al. (WWW 2008): candidates that
    cannot reach the threshold are pruned from the PREFIX JOIN OUTPUT
    itself, before the intersection-count agg re-scans the full
    shingle sets.  Same result set as prefix_filter_neardup by
    construction (both filters are lossless upper-bound arguments —
    docstring of :func:`ppjoin_candidates`), verified against the same
    UNCAPPED all-pairs DuckDB twin, so the driver gate proves the
    pruning loses nothing.

    Why it matters at 100 TB: the intersection-count agg joins each
    candidate pair against BOTH full shingle sets — the dominant cost
    of the verify stage scales with candidate volume, and boilerplate-
    heavy corpora (legal headers, licence blocks) generate prefix
    collisions between wildly different-sized docs that the length
    filter kills for free and near-miss pairs the positional bound
    kills with one algebraic agg.  tests/test_round8_ops.py pins
    strictly fewer candidates than the VCL baseline on the same
    corpus.

    Scale shape: identical joins to prefix_filter_neardup plus one
    (da, db)-keyed agg; nothing new shuffles more than the candidate
    stream itself.
    """
    return ppjoin_pairs_raw(spark, sf_dir).select(
        "da", "db", F.round("j", 6).alias("jaccard")
    )


def ppjoin_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(da, db, j) — :func:`ppjoin_neardup`'s pair set with the
    UNROUNDED jaccard (ADVICE r8): pagerank_docs builds edge weights
    from these pairs while its DuckDB oracle uses the raw ratio, so
    rounding only the Spark-side weight was a latent parity flake at
    rank round-half boundaries; the raw int/int division is
    bit-identical in both engines."""
    by_doc, pref = _prefix_frames(spark, sf_dir)
    w = _prefix_width(sf_dir, spark)
    cand = ppjoin_candidates(pref, width=w)
    return _jaccard_verify(cand, by_doc, PREFIX_JACCARD_T, width=w)


# Hop cap for cluster_diameter's BFS (clusters wider than this report
# DIAMETER_HOP_CAP + 1 — "chained deeper than the audit bound").
DIAMETER_HOP_CAP = 4


def _capped_pair_distances(und: DataFrame, cap: int) -> DataFrame:
    """(a, b, d): min-hop distance over the symmetric edge table
    ``und`` for every ordered pair within ``cap`` hops, by DELTA-
    FRONTIER level-synchronous BFS: round k expands only the pairs
    FIRST reached at k-1, anti-joins away pairs already reached, and
    exits the moment a round discovers nothing new.  Distances are
    implicit in the level (a pair surviving the anti-join at round k
    has min distance exactly k), so no min aggregation runs at all —
    the fix for re-aggregating the full reachable set every round
    with no early exit (VERDICT r8 #6).

    The frames are cluster-size-bounded (tiny next to the corpus):
    coalesce(1) keeps each checkpoint job at one task, as in
    pagerank_docs (drop it at billion-pair scale).  Returns
    ``(dist, rounds)`` where ``rounds`` is the number of expansion
    rounds actually executed (pytest pins a clique to 1) — a plain
    return value, not mutable function-attribute state, so concurrent
    callers can't race on it (ADVICE r9)."""
    dist = (
        und.withColumn("d", F.lit(1).cast("long"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    frontier, rounds = dist, 0
    for k in range(2, cap + 1):
        rounds += 1
        new = (
            frontier.alias("x")
            .join(und.alias("e"), F.col("x.b") == F.col("e.a"))
            .select(F.col("x.a").alias("a"), F.col("e.b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .join(dist.select("a", "b"), ["a", "b"], "left_anti")
            .withColumn("d", F.lit(k).cast("long"))
            .coalesce(1)
            # LAZY (r17 job-cadence): the drain probe below is the
            # round's materializing action — coalesce(1) means the
            # probe's single-partition job computes and caches the
            # WHOLE delta (limit cannot short-circuit a 1-partition
            # RDD), so the eager form's dedicated checkpoint job per
            # round was a duplicate barrier.
            .localCheckpoint(eager=False)
        )
        if new.limit(1).count() == 0:
            break  # frontier drained: every reachable pair is known
        # union of checkpointed per-level deltas — disjoint by the
        # anti-join, so no dedup or re-materialization is needed
        dist = dist.union(new)
        frontier = new
    return dist, rounds


def cluster_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster CHAIN AUDIT: per near-dup cluster, the doc count,
    edge count, and hop-capped DIAMETER of the pair graph — the
    diagnostic for transitive closure's classic failure mode.  CC
    merges A~B and B~C into one cluster even when A and C share
    nothing (similarity is not transitive); a cluster whose diameter
    approaches its size is such a CHAIN — dropping all-but-one doc
    from it deletes documents that were never near-duplicates of the
    keeper — while a true duplicate family is a near-clique with
    diameter 1-2.  This table is what a dedup rollout reads before
    trusting cluster-level keep-one deletion (the audit complement of
    neardup_audit's edge-level view).

    diameter = max over in-cluster (a < b) pairs of min-hop distance,
    computed by DIAMETER_HOP_CAP rounds of min-plus BFS; if any pair
    is still unreached the cluster reports DIAMETER_HOP_CAP + 1
    (deeper than the audit bound — integer-deterministic either way,
    so the whole table is exactly oracle-checkable against a bounded
    recursive CTE computing the same capped distances).

    Scale shape: the pair table is computed ONCE and checkpointed
    (edges feed the BFS K times plus the CC labeling); each BFS round
    moves only the DELTA FRONTIER — the pairs first reached that
    round (VERDICT r8 #6: the former shape re-aggregated the ENTIRE
    reachable-pair set every round with no early exit) — one keyed
    join of the frontier against the edges, a delta-sized distinct,
    and an anti-join against the accumulated reach; the loop stops
    the round the frontier drains (a diameter-1 clique pays ONE
    round, not the full cap — pytest-pinned via ``last_rounds``).
    Level-synchronous BFS makes min-d implicit: a pair absent after
    round k-1 and produced in round k has min distance exactly k, so
    no min agg is ever needed.  State is cluster-size-bounded, never
    the corpus; per-round localCheckpoint truncates the iterative
    lineage (the connected_components discipline).  All outputs are
    integers, and the accumulated reach is a UNION of checkpointed
    per-level deltas — nothing is re-materialized.
    """
    pairs = neardup_pairs(
        spark, sf_dir, threshold=0.5, df_cap=HOT_SHINGLE_DF_CAP
    ).select("da", "db").localCheckpoint(eager=True)
    und = pairs.select(F.col("da").alias("a"), F.col("db").alias("b")).union(
        pairs.select(F.col("db").alias("a"), F.col("da").alias("b"))
    )
    cl = connected_components(und).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    dist, _ = _capped_pair_distances(und, DIAMETER_HOP_CAP)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").cast("long").alias("n_docs"))
    n_edges = (
        pairs.join(cl.select(F.col("doc_id").alias("da"), "cluster_id"), "da")
        .groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    reach = (
        dist.filter(F.col("a") < F.col("b"))
        .join(cl.select(F.col("doc_id").alias("a"), "cluster_id"), "a")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.max("d").cast("long").alias("max_d"),
        )
    )
    all_pairs = (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long")
    diameter = F.when(
        F.col("n_reached") == all_pairs, F.col("max_d")
    ).otherwise(F.lit(DIAMETER_HOP_CAP + 1).cast("long"))
    return (
        sizes.join(n_edges, "cluster_id")
        .join(reach, "cluster_id")
        .select("cluster_id", "n_docs", "n_edges", diameter.alias("diameter"))
    )


# Directed containment threshold: |A ∩ B| / |A| — "A is mostly inside
# B" — true excerpt/quote territory.
CONTAINMENT_T = 0.8


def containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED CONTAINMENT pairs: (da, db) where da's shingle set is
    >= CONTAINMENT_T inside db's — the ASYMMETRIC near-dup relation
    Jaccard cannot express (an excerpt scores J = |A|/|B| ≈ 0 against
    its source when B is long, yet containment = 1), and the detector
    a curation pipeline needs for quote farms, wrapper pages, and
    doc-inside-doc syndication where symmetric dedup goes blind.

    Candidate generation is the prefix principle applied to the
    CONTAINED side only: |A ∩ B| >= t|A| forces a common shingle
    within A's first |A| - ceil(t|A|) + 1 rarest-first elements, but
    imposes NO position constraint on B — so candidates come from
    prefix(A) ⋈ full-shingle(B), complete with no recall loss.  (The
    shared `_prefix_frames` machinery computes the prefix at
    PREFIX_JACCARD_T = 0.6 < CONTAINMENT_T, which only LENGTHENS the
    prefix — a superset of the required candidates, so completeness
    is preserved at the cost of a few extra verifies.)  The
    fan-out of each prefix shingle is its document frequency; rarest-
    first ordering makes that small by construction, with the same
    boilerplate caveat as :func:`prefix_filter_neardup` (an
    all-boilerplate doc's prefix is hot — the df distribution is what
    skew_profile audits).  Verify is the array-intersect form over
    the per-doc sorted lists (the `_jaccard_verify` shape), divided
    by |A| instead of the union.

    Scale shape: the prefix frame is the SAME single doc-keyed agg as
    the Jaccard family (shared machinery), the candidate join keys on
    the shingle, and verify moves only candidate docs' lists — no
    all-pairs stage anywhere; the DuckDB twin is the uncapped
    all-pairs directed join, so the driver gate proves completeness.
    """
    by_doc, pref = _prefix_frames(spark, sf_dir)
    sh = by_doc.select(
        F.col("doc_id").alias("db"), F.explode("s.shingle").alias("shingle")
    )
    cand = (
        pref.select(F.col("doc_id").alias("da"), "shingle")
        .join(sh, "shingle")
        .filter(F.col("da") != F.col("db"))
        .select("da", "db")
        .distinct()
    )
    lists = by_doc.select("doc_id", F.col("s.shingle").alias("ss"), "n")
    la = lists.select(
        F.col("doc_id").alias("da"), F.col("ss").alias("sa"), F.col("n").alias("na")
    )
    lb = lists.select(F.col("doc_id").alias("db"), F.col("ss").alias("sb"))
    i = F.size(F.array_intersect("sa", "sb")).cast("long")
    return (
        cand.join(la, "da")
        .join(lb, "db")
        .select("da", "db", (i / F.col("na")).alias("c"))
        .filter(F.col("c") >= CONTAINMENT_T)
        .select("da", "db", F.round("c", 6).alias("containment"))
    )


# Sorted-neighborhood method: window width (compare rn-diff 1..w-1
# within a block) and the verify threshold.
SNM_WINDOW = 4
SNM_JACCARD_T = 0.5


def sorted_neighborhood_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD near-dup pairs (Hernández & Stolfo,
    SIGMOD'95): sort documents by a normalized key, slide a fixed
    window of SNM_WINDOW rows, and exact-verify only neighbor pairs —
    the third classic candidate-generation regime next to banding
    (minhash_lsh_neardup) and prefix filtering (prefix_filter_neardup).
    SNM's bet is that near-duplicates share a sort-key PREFIX; its
    candidate count is exactly (w−1)·n regardless of similarity
    skew — the linear-cost screen record-linkage pipelines start with.

    This is the BLOCKED variant: the sort key (first 64 chars of the
    text, lowercased, non-alphanumerics stripped) is bucketed by its
    2-char prefix and the window slides WITHIN blocks — windows never
    span a shuffle boundary, so the whole operator is one block-keyed
    shuffle + per-block sort, the only SNM formulation that scales
    horizontally (a global row_number would serialize the corpus
    through one partition).  Docs whose keys differ in the first two
    chars are not compared — the documented SNM recall trade-off
    (multi-pass SNM with a second key is the standard mitigation).

    Verify is exact distinct-token Jaccard ≥ SNM_JACCARD_T; both
    engines sort by the UNIQUE (key, doc_id) order, so the candidate
    set is deterministic and identical.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    key = F.regexp_replace(
        F.lower(F.substring("text", 1, 64)), "[^a-z0-9]", ""
    )
    base = docs.select(
        "doc_id",
        key.alias("k"),
        F.array_distinct(tokens_expr("text")).alias("toks"),
    ).withColumn("block", F.substring("k", 1, 2))
    w = Window.partitionBy("block").orderBy("k", "doc_id")
    rn = base.withColumn("rn", F.row_number().over(w))
    a = rn.select(
        F.col("block").alias("blka"), F.col("rn").alias("ra"),
        F.col("doc_id").alias("ida"), F.col("toks").alias("ta"),
    )
    b = rn.select(
        F.col("block").alias("blkb"), F.col("rn").alias("rb"),
        F.col("doc_id").alias("idb"), F.col("toks").alias("tb"),
    )
    cand = a.join(
        b,
        (F.col("blka") == F.col("blkb"))
        & (F.col("rb") - F.col("ra") >= 1)
        & (F.col("rb") - F.col("ra") <= SNM_WINDOW - 1),
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = (F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))).cast(
        "double"
    )
    j = inter / union
    return (
        cand.select(
            F.least("ida", "idb").alias("da"),
            F.greatest("ida", "idb").alias("db"),
            F.round(j, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= SNM_JACCARD_T)
    )
