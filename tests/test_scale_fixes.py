"""Regression pins for the round-2 scale fixes: the shard-size knob must
actually shard, the rewritten simhash must equal the HOF-fold reference
formulation bit-for-bit, and the LSH bands self-join must stay off the
broadcast path (it is linear in the corpus)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduceinfrastructure_spark.operators.dedup import minhash_lsh_neardup, simhash
from mapreduceinfrastructure_spark.sources.tables import fan_out, load_table
from mapreduceinfrastructure_spark.sources.text import read_text_lines


def test_shard_kilobytes_scales_partitions(spark, tmp_path):
    """The reference's map_kilobytes contract: smaller shards => more map
    partitions.  (A per-read .option is silently ignored by the file
    source — only the session conf works; this pins that it does.)"""
    p = tmp_path / "big.txt"
    line = "lorem ipsum dolor sit amet consectetur adipiscing elit\n"
    p.write_text(line * 4000)  # ~216 KB
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        coarse = read_text_lines(spark, str(p), shard_kilobytes=1024)
        n_coarse = coarse.rdd.getNumPartitions()
        fine = read_text_lines(spark, str(p), shard_kilobytes=25)
        n_fine = fine.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert n_coarse == 1
    assert n_fine >= 6  # ~216 KB / 25 KB, newline-aligned
    assert fine.count() == coarse.count() == 4000


def test_simhash_matches_hof_reference(spark, sf_dir):
    """The algebraic (explode + 64 sums) simhash must be bit-identical to
    the direct per-row HOF fold it replaced for speed."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    hof = """
      aggregate(
        sequence(0, 63),
        cast(0 as bigint),
        (acc, i) -> acc + if(
          aggregate(
            transform(filter(split(text, '[ ,."\\']'), x -> length(x) > 0),
                      t -> cast((shiftright(
                             if(i < 48,
                                cast(conv(substring(md5(t), 1, 12), 16, 10) as bigint),
                                cast(conv(substring(md5(t), 13, 4), 16, 10) as bigint)),
                             if(i < 48, i, i - 48)) & 1) * 2 - 1 as bigint)),
            cast(0 as bigint), (s, v) -> s + v
          ) > 0,
          shiftleft(cast(1 as bigint), i), cast(0 as bigint))
      )
    """
    want = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", F.expr(hof).alias("sh")).collect()
    }
    got = {r["doc_id"]: r["simhash"] for r in simhash(spark, sf_dir).collect()}
    assert got == want


def test_minhash_bands_join_is_shuffle_not_broadcast(spark, sf_dir):
    """The bands table is 8 rows per document — broadcasting it OOMs at
    scale.  The candidate self-join must plan as a shuffle join on the
    (band, bucket) key; AQE may still broadcast the (small) candidate
    VERIFY joins at runtime, so only the candidate pipeline's band join
    is pinned here.  (Pinned on _band_candidates directly: the full
    operator eagerly checkpoints the candidate set, which truncates the
    band join out of the final query plan.)"""
    import re

    from mapreduceinfrastructure_spark.operators.dedup import (
        _band_candidates,
        minhash_signatures,
    )

    plan = (
        _band_candidates(minhash_signatures(spark, sf_dir))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the bands self-join is the only join keyed on band#; it must be a
    # shuffle-side join (SortMergeJoin / ShuffledHashJoin), never broadcast
    band_joins = [l for l in plan.splitlines() if re.search(r"Join.*\bband#", l)]
    assert band_joins, plan
    assert all("Broadcast" not in l for l in band_joins), band_joins


def test_embedding_neardup_lsh_equals_exact_allpairs(spark, sf_dir):
    """The LSH-bucketed near-dup must reproduce the exact all-pairs
    result it replaced (recall 1 at the 0.4 threshold; per-pair miss
    probability ~2e-7 — see the operator docstring).  This is what lets
    the exact DuckDB oracle stay unchanged."""
    from mapreduceinfrastructure_spark.functions.vector import cosine_similarity_expr
    from mapreduceinfrastructure_spark.operators import similarity as sim

    got = set(map(tuple, sim.embedding_neardup(spark, sf_dir).collect()))

    emb = sim._embeddings(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("da"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("db"), F.col("v").alias("vb"))
    s = cosine_similarity_expr(F.col("va"), F.col("vb"))
    exact = (
        a.join(b, F.col("da") < F.col("db"))
        .select("da", "db", s.alias("sim"))
        .filter(F.col("sim") >= 0.4)
        .select("da", "db", F.round("sim", 6).alias("cosine"))
    )
    want = set(map(tuple, exact.collect()))
    assert got == want
    assert len(got) > 0


def test_dedup_clusters_banded_path_equals_exact_path(spark, sf_dir, monkeypatch):
    """Round-5 change: dedup_clusters edges come from neardup_pairs —
    EXACT shingle join below NEARDUP_EXACT_MAX_BYTES (structural parity
    with the DuckDB oracle), LSH banding past it.  Forcing the banded
    branch (threshold -> 0) must reproduce the default exact-path
    clustering on the test data: qualifying pairs sit at j>=0.8 where
    banded recall is ~1, and the seeded hashes make it deterministic."""
    from mapreduceinfrastructure_spark.operators import dedup as dd

    want = {
        (r["doc_id"], r["cluster_id"])
        for r in dd.dedup_clusters(spark, sf_dir).collect()
    }
    monkeypatch.setattr(dd, "NEARDUP_EXACT_MAX_BYTES", 0)
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dd.dedup_clusters(spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_neardup_pairs_switch_dispatch(spark, sf_dir, monkeypatch):
    """neardup_pairs must take the exact branch below
    NEARDUP_EXACT_MAX_BYTES (every local SF) and the LSH branch past it
    — pinned by sentinel so the dispatch itself can't silently invert."""
    from mapreduceinfrastructure_spark.operators import dedup as dd

    calls = []
    monkeypatch.setattr(
        dd, "_exact_pairs", lambda *a, **k: calls.append("exact")
    )
    monkeypatch.setattr(
        dd, "_lsh_verified_pairs", lambda *a, **k: calls.append("lsh")
    )
    dd.neardup_pairs(spark, sf_dir, threshold=0.5)
    assert calls == ["exact"]
    monkeypatch.setattr(dd, "NEARDUP_EXACT_MAX_BYTES", 0)
    dd.neardup_pairs(spark, sf_dir, threshold=0.5)
    assert calls == ["exact", "lsh"]


def test_banded_low_threshold_subset_and_high_sim_recall(spark, sf_dir):
    """ngram_jaccard_neardup's scale branch (LSH candidates at report
    threshold 0.1) against the exact default: banded output must be a
    SUBSET of exact output (the verify is exact either way — no false
    positives, same jaccard values), and recall must be total at
    jaccard >= 0.9, the region b=8/r=4 banding guarantees (miss
    probability (1-0.9^4)^8 ~ 2e-4 per pair, deterministic here via
    seeded hashes).  Mid-similarity loss below that is the documented
    trade of the scale path."""
    from mapreduceinfrastructure_spark.operators import dedup as dd

    exact = {
        (r["da"], r["db"]): r["jaccard"]
        for r in dd._exact_pairs(
            spark, sf_dir, 0.1, df_cap=dd.HOT_SHINGLE_DF_CAP
        ).collect()
    }
    banded = {
        (r["da"], r["db"]): r["jaccard"]
        for r in dd._lsh_verified_pairs(spark, sf_dir, 0.1).collect()
    }
    # subset with identical jaccard values (note: banded verify uses
    # UNCAPPED shingle sets, exact uses capped — identical here because
    # the test corpus max df is far below the cap)
    for k, j in banded.items():
        assert k in exact and abs(exact[k] - j) < 1e-12
    # full recall in the high-similarity band
    high = {k for k, j in exact.items() if j >= 0.9}
    assert high <= set(banded)
    assert len(exact) > 0


def test_incremental_dedup_banded_branch_matches_exact(spark, sf_dir, monkeypatch):
    """Forcing incremental_dedup onto its LSH branch must reproduce the
    default exact-branch result on the test data (the pre-round-5
    driver-green behavior): batch-vs-corpus qualifying pairs sit at
    j>=0.8 where banded recall is ~1."""
    from mapreduceinfrastructure_spark.operators import dedup as dd

    want = set(map(tuple, dd.incremental_dedup(spark, sf_dir).collect()))
    monkeypatch.setattr(dd, "NEARDUP_EXACT_MAX_BYTES", 0)
    got = set(map(tuple, dd.incremental_dedup(spark, sf_dir).collect()))
    assert got == want
    assert len(want) > 0


def test_minhash_shingle_persist_switch_is_result_invariant(spark, sf_dir, monkeypatch):
    """The size-aware shingle persist (on at >=256 MB input, off at
    test SFs) must not change results — force the persist path by
    dropping the threshold to zero and compare against the default
    re-scan path.  Also pins that the persisted-path signature source
    (distinct stream) equals the re-scan path's non-distinct stream:
    min over a set == min over the multiset it came from."""
    from mapreduceinfrastructure_spark.operators import dedup as dd

    base = set(map(tuple, dd.minhash_lsh_neardup(spark, sf_dir).collect()))
    monkeypatch.setattr(dd, "SHINGLE_PERSIST_MIN_BYTES", 0)
    forced = set(map(tuple, dd.minhash_lsh_neardup(spark, sf_dir).collect()))
    assert forced == base
    assert len(base) > 0


def test_pmi_stored_tables_switch_is_result_invariant(spark, sf_dir, monkeypatch):
    """word_pmi's size-gated stored pair and unigram tables (on at
    >=256 MB input, off at test SFs) must not change results: force
    them by dropping the threshold to zero."""
    from mapreduceinfrastructure_spark.operators import text_analysis as ta

    base = set(map(tuple, ta.word_pmi(spark, sf_dir).collect()))
    monkeypatch.setattr(ta, "SHINGLE_PERSIST_MIN_BYTES", 0)
    forced = set(map(tuple, ta.word_pmi(spark, sf_dir).collect()))
    assert forced == base
    assert len(base) > 0


def test_lsh_bucket_width_adapts_to_corpus():
    """BITS_PER_TABLE is now adaptive: fixed floor 4 through every test
    SF (hash stability), growing ~log2(n / TARGET_OCCUPANCY) beyond so
    expected bucket occupancy stays bounded at any corpus size."""
    from mapreduceinfrastructure_spark.operators.similarity import (
        BITS_FLOOR,
        TARGET_OCCUPANCY,
        _bits_per_table,
    )

    # test SFs (500 / 500 / 2000 vectors) and anything up to 8192: floor
    for n in (0, 1, 500, 2000, 8192):
        assert _bits_per_table(n) == BITS_FLOOR
    # beyond the floor: expected occupancy n / 2^bits <= TARGET_OCCUPANCY
    for n in (10_000, 1_000_000, 10**9, 10**12):
        bits = _bits_per_table(n)
        assert n / (2**bits) <= TARGET_OCCUPANCY
        # and never more than 1 bit over-split (don't shatter buckets)
        assert n / (2 ** (bits - 1)) > TARGET_OCCUPANCY


def test_lsh_bucket_occupancy_bounded_at_sf01(spark):
    """Assert the documented occupancy bound on the largest local SF:
    with the corpus-derived bucket width, mean bucket occupancy per
    table stays under TARGET_OCCUPANCY."""
    import os

    from mapreduceinfrastructure_spark.operators import similarity as sim
    from mapreduceinfrastructure_spark.sources.tables import load_table

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        import pytest

        pytest.skip("sf0.1 testdata absent")
    n = load_table(spark, sf01, "embeddings").count()
    bpt = sim._bits_per_table(n)
    emb = sim._embeddings(spark, sf01)
    # the op's r11 pooled mapping: table t's bit k = pool[t*POOL_BPT+k]
    stride = max(bpt, sim.POOL_BPT)
    pool = sim.lsh_plane_pool(stride)
    used = [
        pool[t * stride + k] for t in range(sim.N_TABLES) for k in range(bpt)
    ]
    bits = sim._bit_exprs(used)
    tables = [
        F.struct(F.lit(t).alias("tbl"), sim._bucket_expr(bits, t, bpt).alias("bucket"))
        for t in range(sim.N_TABLES)
    ]
    keyed = emb.select(F.explode(F.array(*tables)).alias("tb")).select(
        "tb.tbl", "tb.bucket"
    )
    occ = keyed.groupBy("tbl", "bucket").count().groupBy("tbl").agg(
        F.avg("count").alias("mean_occ"), F.max("count").alias("max_occ")
    )
    for r in occ.collect():
        assert r["mean_occ"] <= sim.TARGET_OCCUPANCY


def test_adaptive_lsh_ann_executes_beyond_floor(spark, tmp_path):
    """The adaptive bucket width only leaves the 4-bit floor beyond 8192
    vectors — which no driver SF reaches — so exercise the bits=6 path
    end-to-end on a synthetic 20k-vector corpus via ann_lsh (query-side
    probing: candidate volume ~ queries x occupancy, scale-safe).
    Planted exact duplicates must come back as rank-1 neighbors: an
    identical vector shares every bucket in every table, so bucketing
    can never lose it regardless of width.

    embedding_neardup is deliberately NOT run here: its bucket
    SELF-join's candidate volume grows ~ n * occupancy * (1+bits)^2 /2
    per table under the two-sided probe ball — ~1e9 candidate rows
    already at 20k vectors — which is exactly the documented limitation
    (operator docstring): exhaustive 0.4-threshold near-dup is a
    floor-region operator; at adaptive widths the scale path is a
    higher threshold and/or probe-radius resizing."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceinfrastructure_spark.operators import similarity as sim

    n = 20_000
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((n, sim.EMBED_DIM)).astype(np.float32)
    # plant exact duplicates: vector i+n/2 == vector i for the first 10
    for i in range(10):
        vecs[n // 2 + i] = vecs[i]
    t = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
            "label": pa.array([0] * n, type=pa.int64()),
        }
    )
    d = tmp_path / "sf_adapt"
    d.mkdir()
    pq.write_table(t, d / "embeddings.parquet")

    assert sim._bits_per_table(n) == 6  # beyond the floor (ceil log2(20000/512))

    topk = sim.ann_lsh(spark, str(d))
    got = {
        (r["qid"], r["neighbor_id"])
        for r in topk.filter(topk.rn == 1).collect()
        if r["qid"] < 10
    }
    assert got == {(i, n // 2 + i) for i in range(10)}


def test_incremental_dedup_corpus_joins_stay_on_shuffle_path(spark, sf_dir):
    """incremental_dedup's two corpus-facing joins must never broadcast:
    the BATCH x CORPUS band join (bands are 8 rows per doc — corpus-
    linear on the corpus side) and the span semi-join (the distinct
    corpus span set is corpus-linear).  Locally both sides are tiny and
    Catalyst would happily broadcast them; the shuffle_hash hints pin
    the scale-safe plan.  Reconstructed component-wise because the
    operator's eager checkpoints truncate the band join out of the
    final query plan."""
    import re

    from pyspark.sql import functions as F

    from mapreduceinfrastructure_spark.operators.dedup import (
        BATCH_MOD,
        BATCH_THRESHOLD,
        _bands,
        _span_hashes,
        minhash_signatures,
    )
    from mapreduceinfrastructure_spark.sources.tables import load_table

    is_batch = (F.col("doc_id") % BATCH_MOD) >= BATCH_THRESHOLD
    bands = _bands(minhash_signatures(spark, sf_dir))
    nb = bands.filter(is_batch).alias("a")
    cb = bands.filter(~is_batch).alias("b")
    cand = nb.hint("shuffle_hash").join(
        cb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket")),
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    band_joins = [l for l in plan.splitlines() if re.search(r"Join.*\bband#", l)]
    assert band_joins, plan
    assert all("Broadcast" not in l for l in band_joins), band_joins

    ex = _span_hashes(load_table(spark, sf_dir, "documents"))
    semi = ex.filter(is_batch).join(
        ex.filter(~is_batch).select("h").distinct().hint("shuffle_hash"),
        "h",
        "left_semi",
    )
    plan2 = semi._jdf.queryExecution().executedPlan().toString()
    semi_joins = [l for l in plan2.splitlines() if "Join" in l and "LeftSemi" in l]
    assert semi_joins, plan2
    assert all("Broadcast" not in l for l in semi_joins), semi_joins


def test_minhash_pairs_equal_exact_pairs_at_threshold(spark, sf_dir):
    """Pair-level equivalence of the LSH candidate path against the
    exact shingle self-join at threshold 0.5 — the banded-recall guard
    for the scale branch all four exact-semantics operators switch to
    past NEARDUP_EXACT_MAX_BYTES (their driver-gate parity no longer
    rests on this: below the threshold they run the exact join that
    structurally mirrors their oracles): every jaccard>=0.5 pair must
    survive banding (qualifying pairs sit at j>=0.8 in the test data,
    where banded recall is ~1, and the seeded hashes make candidate
    generation deterministic)."""
    from mapreduceinfrastructure_spark.operators.dedup import (
        minhash_lsh_neardup,
        ngram_jaccard_neardup,
    )

    got = {
        (r["da"], r["db"], round(r["jaccard"], 9))
        for r in minhash_lsh_neardup(spark, sf_dir).collect()
    }
    want = {
        (r["da"], r["db"], round(r["jaccard"], 9))
        for r in ngram_jaccard_neardup(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_simhash_neardup_block_trick_equals_all_pairs(spark, sf_dir):
    """The 4x16-bit block-bucket join is EXACTLY equivalent to the
    brute all-pairs Hamming scan for d <= 3 (pigeonhole: <= 3 flipped
    bits touch <= 3 of 4 blocks, so one block always matches) — not a
    probabilistic recall argument like minhash banding.  Also pins the
    block self-join to the shuffle path (blocks are corpus-linear)."""
    import re

    from mapreduceinfrastructure_spark.operators.dedup import (
        SIMHASH_HAMMING_MAX,
        simhash,
        simhash_neardup,
    )

    nd = simhash_neardup(spark, sf_dir)
    got = {(r["da"], r["db"], r["hamming"]) for r in nd.collect()}

    sk = simhash(spark, sf_dir).filter(F.col("n_tokens") > 0)
    a = sk.select(F.col("doc_id").alias("da"), F.col("simhash").alias("sa"))
    b = sk.select(F.col("doc_id").alias("db"), F.col("simhash").alias("sb"))
    brute = (
        a.join(b, F.col("da") < F.col("db"))
        .select("da", "db", F.expr("bit_count(sa ^ sb)").cast("long").alias("h"))
        .filter(F.col("h") <= SIMHASH_HAMMING_MAX)
    )
    want = {(r["da"], r["db"], r["h"]) for r in brute.collect()}
    assert got == want
    assert len(got) > 0  # 17 pairs at sf0.01, 27 at sf0.001

    plan = nd._jdf.queryExecution().executedPlan().toString()
    blk_joins = [l for l in plan.splitlines() if re.search(r"Join.*\bblk#", l)]
    assert blk_joins, plan
    assert all("Broadcast" not in l for l in blk_joins), blk_joins


def test_cdc_chunks_resynchronize_after_insertion(spark, tmp_path):
    """The property that justifies CDC next to fixed-stride dup_spans:
    after a single insertion shifts every later byte, content-defined
    boundaries re-synchronize and the shared tail is still detected as
    duplicate chunks (fixed-stride spans stay misaligned forever)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceinfrastructure_spark.operators.dedup import cdc_dup_chunks

    rng = random.Random(11)
    words = [f"w{rng.randrange(1000)}" for _ in range(600)]
    a = " ".join(words)
    b = " ".join(words[:5] + ["INSERTED"] + words[5:])  # shift everything
    t = pa.table(
        {
            "doc_id": pa.array([1, 2], type=pa.int64()),
            "text": pa.array([a, b]),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["x", "x"]),
            "n_chars": pa.array([len(a), len(b)], type=pa.int64()),
        }
    )
    d = tmp_path / "cdc_sf"
    d.mkdir()
    pq.write_table(t, d / "documents.parquet")
    rows = {r["doc_id"]: r for r in cdc_dup_chunks(spark, str(d)).collect()}
    # the shared tail must re-synchronize into many duplicated chunks
    for doc_id in (1, 2):
        assert rows[doc_id]["n_dup_chunks"] >= 5, rows
        assert rows[doc_id]["dup_frac"] >= 0.5, rows


def test_two_pass_rank_equivalent_across_widths(spark, sf_dir, monkeypatch):
    """The two-pass rank (global_rank, zipf_slope) must produce
    identical results at ANY partition width — the width is a cluster
    knob (session.two_pass_rank_width derives it from
    defaultParallelism; VERDICT r5 #3), never a semantic input."""
    from mapreduceinfrastructure_spark.operators.relational import global_rank
    from mapreduceinfrastructure_spark.operators.text_analysis import zipf_slope
    from mapreduceinfrastructure_spark.session import two_pass_rank_width

    results = {}
    for width in ("3", "17"):
        monkeypatch.setenv("SPARK_GRAFT_RANK_WIDTH", width)
        assert two_pass_rank_width(spark) == int(width)
        results[width] = (
            sorted(map(tuple, global_rank(spark, sf_dir).collect())),
            sorted(map(tuple, zipf_slope(spark, sf_dir).collect())),
        )
    assert results["3"] == results["17"]
    monkeypatch.delenv("SPARK_GRAFT_RANK_WIDTH")
    # the derived (un-overridden) width respects the parallelism floor
    assert two_pass_rank_width(spark) >= 8


def test_cdc_boundaries_match_oracle_on_non_bmp_text(spark, tmp_path):
    """ADVICE r6: the CDC recurrence decodes codepoints with F.ascii in
    Spark and unicode() in DuckDB.  On Spark 4, ascii() returns the full
    codepoint for supplementary-plane characters (codePointAt, not the
    UTF-16 high surrogate), so the two engines agree beyond the BMP —
    pinned here with an emoji-bearing shared passage run through BOTH
    the operator and its registered oracle SQL on the same corpus."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from mapreduceinfrastructure_spark.operators.dedup import cdc_dup_chunks

    rng = random.Random(13)
    words = [f"w{rng.randrange(1000)}\U0001F600" for _ in range(300)]
    a = " ".join(words) + " tail\U0001F680only"
    b = " ".join(["PREFIX\U0001F984"] + words)
    t = pa.table(
        {
            "doc_id": pa.array([1, 2], type=pa.int64()),
            "text": pa.array([a, b]),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["x", "x"]),
            "n_chars": pa.array([len(a), len(b)], type=pa.int64()),
        }
    )
    d = tmp_path / "cdc_nonbmp_sf"
    d.mkdir()
    pq.write_table(t, d / "documents.parquet")
    got = sorted(
        (r["doc_id"], r["n_chunks"], r["n_dup_chunks"])
        for r in cdc_dup_chunks(spark, str(d)).collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.sql(
            "SELECT doc_id, n_chunks, n_dup_chunks FROM ("
            + entrymod.oracle_sql()["cdc_dup_chunks"]
            + ")"
        ).fetchall()
    )
    assert got == want and got[0][2] > 0, (got, want)


def test_prefix_candidate_joins_are_shuffle_not_broadcast(spark, sf_dir):
    """The exploded prefix table is corpus-linear — broadcasting it into
    the candidate self-join is the single-threaded-build scale-killer
    the r10 width pins removed (the UNPINNED ppjoin plan measured
    BroadcastHashJoin on the prefix table at sf0.1; locally faster,
    dead at 100 TB).  Both prefix-family candidate generators must plan
    their shingle self-join as a shuffle-side join."""
    from mapreduceinfrastructure_spark.operators.dedup import (
        _prefix_frames,
        ppjoin_candidates,
        vcl_candidates,
    )

    _, pref = _prefix_frames(spark, sf_dir)
    for gen in (vcl_candidates, ppjoin_candidates):
        plan = gen(pref)._jdf.queryExecution().executedPlan().toString()
        # the OUTERMOST shingle join is the prefix x prefix candidate
        # self-join; only the self-join is pinned
        shingle_joins = [
            l for l in plan.splitlines() if "Join" in l and "shingle#" in l
        ]
        assert shingle_joins, (gen.__name__, plan)
        assert "Broadcast" not in shingle_joins[0], (
            gen.__name__,
            shingle_joins[0],
        )
