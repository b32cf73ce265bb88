"""Property-based tests (hypothesis): the Spark tokenizer and the
MapReduce layer against independent Python models on arbitrary input."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduceinfrastructure_spark.functions.text import tokens_expr
from mapreduceinfrastructure_spark.operators.dedup import connected_components
from mapreduceinfrastructure_spark.operators.graph import star_contraction
from mapreduceinfrastructure_spark.operators.mapreduce import wordcount_map

# text over the delimiter class + word chars, incl. consecutive delims
TEXT = st.text(
    alphabet=st.sampled_from(list("ab xy,.\"'z")), min_size=0, max_size=60
)


def py_tokens(line: str) -> list[str]:
    out, tok = [], []
    for ch in line:
        if ch in ' ,."\'':
            if tok:
                out.append("".join(tok))
                tok = []
        else:
            tok.append(ch)
    if tok:
        out.append("".join(tok))
    return out


@given(st.lists(TEXT, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_spark_tokenizer_matches_python_model(spark, lines):
    df = spark.createDataFrame([(line,) for line in lines], "value string")
    got = [r["t"] for r in df.select(tokens_expr("value").alias("t")).collect()]
    assert got == [py_tokens(line) for line in lines]


@given(TEXT)
@settings(max_examples=50, deadline=None)
def test_wordcount_map_is_strtok_faithful(line):
    got = [k for k, _ in wordcount_map(line)]
    assert got == py_tokens(line)
    assert all(tok for tok in got)  # never an empty token


@given(st.lists(TEXT, min_size=1, max_size=6))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_explode_count_equals_multiset(spark, lines):
    """groupBy.count over exploded tokens == Python multiset, any input."""
    df = spark.createDataFrame([(line,) for line in lines], "value string")
    rows = (
        df.select(F.explode(tokens_expr("value")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    want = Counter(t for line in lines for t in py_tokens(line))
    assert {r["w"]: r["c"] for r in rows} == dict(want)


def test_rows_only_queries_are_deterministic(spark, sf_dir):
    """The rows-only queries (no DuckDB oracle pins them) must still
    be run-to-run deterministic — seeded LSH planes, fixed IVF init.
    Two runs, identical sorted rows."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    rows_only = sorted(set(qs) - set(entrymod.oracle_sql()))
    for name in rows_only:
        a = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        b = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        assert a == b, f"{name} not deterministic across runs"
        assert a, f"{name} returned no rows at sf0.01"


# ---------------------------------------------------------------------------
# round-10 additions: the two algorithmic kernels the query surface leans
# on hardest — connected_components (all near-dup clustering) and the
# md5-derived minhash/band arithmetic (what retired the sketch family's
# rows-only status) — each against an independent pure-Python model on
# hypothesis-random input, not just the fixed test corpus.


@pytest.mark.parametrize(
    "cc", [connected_components, star_contraction], ids=lambda f: f.__name__
)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=24,
    )
)
# a 3-node chain: one moving round after the fused build
@example(raw_edges=[(0, 1), (1, 2)])
# deep enough to reach the pointer-jumping rounds
@example(raw_edges=[(i, i + 1) for i in range(15)])
# duplicate and reversed edges: a multigraph
@example(raw_edges=[(3, 5), (5, 3), (3, 5), (5, 9), (9, 5), (1, 2), (2, 1)])
# already a star forest rooted at each minimum: star_contraction's
# probe is 0 at the build
@example(raw_edges=[(0, 4), (0, 9), (0, 2), (3, 7), (3, 12)])
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark, cc, raw_edges):
    """Both CC algorithms == union-find min-labels on random graphs
    (chains, cycles, stars, multi-edges, disconnected nodes)."""
    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return

    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = {n for e in edges for n in e}
    for n in nodes:
        parent[n] = n
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(ns) for ns in comp.values() for n in ns}

    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "a long, b long")
    got = {r["node"]: r["label"] for r in cc(df).collect()}
    assert got == want


@given(
    st.dictionaries(
        keys=st.integers(0, 5),
        values=st.lists(
            st.text(alphabet=st.sampled_from(list("abc xyz0189")), min_size=1, max_size=12),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_minhash_and_bands_match_python_md5_model(spark, docs):
    """minhash_signatures + _bands == the pure-Python md5/universal-hash
    model on random shingle sets — the same arithmetic the DuckDB
    oracles replay, validated here on inputs the corpus never covers."""
    import hashlib

    from mapreduceinfrastructure_spark.operators.dedup import (
        MH_A,
        MH_B,
        MH_BAND_MULT,
        MH_PRIME,
        MINHASH_BANDS,
        MINHASH_ROWS,
        _MH_K,
        _bands,
        minhash_signatures,
    )

    def py_hash48(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)

    def py_sig(shingles: list[str]) -> list[int]:
        return [
            min((MH_A[i] * py_hash48(s) + MH_B[i]) % MH_PRIME for s in set(shingles))
            for i in range(_MH_K)
        ]

    rows = [(d, s) for d, ss in docs.items() for s in ss]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    sigs = minhash_signatures(spark, sf_dir="", shingles=df)
    got_sigs = {r["doc_id"]: list(r["sig"]) for r in sigs.collect()}
    want_sigs = {d: py_sig(ss) for d, ss in docs.items()}
    assert got_sigs == want_sigs

    got_bands = {
        (r["doc_id"], r["band"]): r["bucket"] for r in _bands(sigs).collect()
    }
    for d, sig in want_sigs.items():
        for band in range(MINHASH_BANDS):
            b = sig[band * MINHASH_ROWS]
            for h in sig[band * MINHASH_ROWS + 1 : (band + 1) * MINHASH_ROWS]:
                b = (b * MH_BAND_MULT + h) % MH_PRIME
            assert got_bands[(d, band)] == b


@given(
    st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, width=64
        ),
        min_size=8,
        max_size=8,
    ),
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=64
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_pq_d2_fold_matches_python_left_fold(spark, vec, codebook):
    """The _pq_d2 JVM fold — the ONE expression every PQ oracle replays
    — against an independent Python LEFT-fold model on arbitrary
    vectors: bit-exact equality (==, no tolerance), any subspace, any
    codebook entry.  Pins the 'identical fold both engines' contract
    against a third implementation (hypothesis-generated geometry:
    dim 8, PQ_SUB 2 -> subdim 4)."""
    import mapreduceinfrastructure_spark.operators.similarity as sim

    dim, sub = 8, 2
    subdim = dim // sub
    flat = [x for row in codebook for x in row]

    def py_d2(s, c):
        acc = 0.0
        for j in range(subdim):
            d = vec[s * subdim + j] - flat[c * dim + s * subdim + j]
            acc = acc + d * d
        return acc

    old = (sim.PQ_SUBDIM, sim.EMBED_DIM)
    sim.PQ_SUBDIM, sim.EMBED_DIM = subdim, dim
    try:
        df = spark.createDataFrame([(vec,)], "v array<double>")
        exprs = [
            sim._pq_d2(F.col("v"), F.lit(flat), s, c).alias(f"d_{s}_{c}")
            for s in range(sub)
            for c in range(len(codebook))
        ]
        row = df.select(*exprs).collect()[0]
        for s in range(sub):
            for c in range(len(codebook)):
                assert row[f"d_{s}_{c}"] == py_d2(s, c), (s, c)
    finally:
        sim.PQ_SUBDIM, sim.EMBED_DIM = old


@given(
    st.floats(min_value=0, max_value=1e6, allow_nan=False, width=64)
)
@settings(max_examples=200, deadline=None)
def test_round6_half_up_matches_decimal_half_up(x):
    """_round6_half_up (the audio pandas-path rounding, ADVICE r12)
    against decimal ROUND_HALF_UP on arbitrary non-negative doubles —
    including exact 6dp halves, where Python's banker round diverges.
    Tolerance 0: the helper must BE half-up."""
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduceinfrastructure_spark.operators.multimodal import (
        _round6_half_up,
    )

    # decimal of the EXACT binary double, quantized half-up at 6dp
    want = float(
        Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )
    got = _round6_half_up(x)
    # math.floor(x*1e6+0.5)/1e6 can differ from true decimal half-up
    # only when x*1e6 itself rounds across a representability boundary;
    # the audio domain (sqrt outputs of 16-bit PCM) stays far below
    # 2^53/1e6, where the two are identical
    assert got == want, (x, got, want)


# ---------------------------------------------------------------------------
# round-13 addition: BM25 against an independent pure-Python model on
# hypothesis-random corpora — formula, df cap, fixed-order fold, ranking
# and tie-breaks, not just the fixed test corpus (the DuckDB twin pins
# cross-engine exactness; this pins "is it actually BM25").

WORDS = ["alpha", "beta", "gamma", "delta", "zz", "qq"]


def _py_bm25(texts):
    import math
    from collections import Counter

    from mapreduceinfrastructure_spark.operators import text_analysis as ta

    toks = [t.split() for t in texts]
    n = len(texts)
    tf = [Counter(t) for t in toks]
    dl = [len(t) for t in toks]
    total = sum(dl)
    avgdl = total / n
    df = Counter(w for c in tf for w in c)
    out = {}
    for qid in range(min(ta.BM25_N_QUERIES, n)):
        scored = []
        for d in range(n):
            if d == qid:
                continue
            shared = sorted(
                w for w in tf[qid]
                if w in tf[d] and df[w] <= ta.BM25_DF_CAP_FRAC * float(n)
            )
            if not shared:
                continue
            s = 0.0
            for w in shared:
                idf = math.log(
                    1.0 + (float(n) - df[w] + 0.5) / (df[w] + 0.5)
                )
                tfn = (tf[d][w] * (ta.BM25_K1 + 1.0)) / (
                    tf[d][w]
                    + ta.BM25_K1
                    * ((1.0 - ta.BM25_B) + ta.BM25_B * dl[d] / avgdl)
                )
                s = s + idf * tfn
            scored.append((d, s))
        scored.sort(key=lambda p: (-p[1], p[0]))
        out[qid] = [
            (d, rn + 1, s) for rn, (d, s) in enumerate(scored[: ta.BM25_TOPK])
        ]
    return out


@given(
    st.lists(
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=8),
        min_size=2,
        max_size=18,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_bm25_matches_python_model(spark, tmp_path_factory, docs):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceinfrastructure_spark.operators.text_analysis import bm25_topk

    texts = [" ".join(d) for d in docs]
    tmp = str(tmp_path_factory.mktemp("bm25_prop"))
    tbl = pa.table(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(tbl, os.path.join(tmp, "documents.parquet"))
    got = {}
    for r in bm25_topk(spark, tmp).collect():
        got.setdefault(r["qid"], []).append((r["doc_id"], r["rn"], r["bm25"]))
    want = _py_bm25(texts)
    want = {q: rs for q, rs in want.items() if rs}
    assert set(got) == set(want)
    for q, rs in want.items():
        g = sorted(got[q], key=lambda p: p[1])
        assert [(d, rn) for d, rn, _ in g] == [(d, rn) for d, rn, _ in rs], q
        for (gd, grn, gs), (_, _, ws) in zip(g, rs):
            # output rounds half-up at 6; the model is unrounded
            assert abs(gs - ws) <= 5.1e-7, (q, gd, gs, ws)


# --- SQ8 scalar quantization vs a pure-Python model (r14) ------------


def _py_sq8(vecs):
    """Independent model of similarity.sq8_quantize: per-dim exact
    min/max, level = floor(ratio * 255 + 0.5), recon error."""
    import math

    dim = len(vecs[0])
    mn = [min(v[j] for v in vecs) for j in range(dim)]
    mx = [max(v[j] for v in vecs) for j in range(dim)]
    out = {}
    for i, v in enumerate(vecs):
        for j in range(dim):
            if mx[j] == mn[j]:
                c = 0
            else:
                c = int(math.floor((v[j] - mn[j]) / (mx[j] - mn[j]) * 255 + 0.5))
            recon = mn[j] + c * ((mx[j] - mn[j]) / 255.0)
            out[(i, j)] = (c, abs(v[j] - recon))
    return out


@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_sq8_matches_python_model(spark, tmp_path_factory, vecs):
    """sq8_quantize against an independent Python model on arbitrary
    float32 vectors (incl. constant dimensions and extreme ranges):
    codes must match EXACTLY (integers — any rounding-mode or
    expression-tree divergence shows here), errors at round-6."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceinfrastructure_spark.operators import similarity as sim

    dim = sim.EMBED_DIM
    # widen the 4-float seed rows to EMBED_DIM deterministically
    full = [[float(v[j % 4]) + j for j in range(dim)] for v in vecs]
    # float32 storage: model what parquet will return
    import numpy as np

    arr = np.array(full, dtype=np.float32)
    full64 = [[float(x) for x in row] for row in arr]

    d = str(tmp_path_factory.mktemp("sq8_prop")) + "/" + uuid.uuid4().hex[:8]
    os.makedirs(d)
    t = pa.table(
        {
            "vec_id": pa.array(range(len(full)), type=pa.int64()),
            "embedding": pa.array(arr.tolist(), type=pa.list_(pa.float32())),
            "label": pa.array([0] * len(full), type=pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(d, "embeddings.parquet"))

    got = {
        (r["vec_id"], r["pos"]): (r["code"], r["recon_err"])
        for r in sim.sq8_quantize(spark, d).collect()
    }
    want = _py_sq8(full64)
    assert set(got) == set(want)
    for k, (gc, ge) in got.items():
        wc, we = want[k]
        assert gc == wc, (k, gc, wc)
        assert abs(ge - we) <= 5.1e-7, (k, ge, we)
