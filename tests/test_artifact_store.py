"""The build-once store (sources.tables._artifact): each table's inferred
parquet schema and the search artifacts of similarity.py.

The store tests need no Spark: the store reads only the session's
application id and the stat of ``<sf_dir>/<table>.parquet``.  The tests
on the shared session pin the schema entry behind every load_table, the
train and query-set memos, which no operator test observes directly,
and the code frame's mode key term.
"""
import os
from types import SimpleNamespace

import pandas as pd
import pytest

from mapreduceinfrastructure_spark.operators import similarity as sim
from mapreduceinfrastructure_spark.operators.tpch import tpch_q21
from mapreduceinfrastructure_spark.sources import tables
from mapreduceinfrastructure_spark.sources.tables import load_table
from tests.conftest import jobs_in_group


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _emb_artifact(spark, sf_dir, kind, params, build):
    """The store call of the similarity.py search artifacts."""
    return tables._artifact(spark, sf_dir, "embeddings", kind, params, build)


def _builder(value):
    """A build closure returning ``value`` that counts its calls."""
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


@pytest.fixture
def store(monkeypatch):
    """An empty store for this test; the shared session's is restored."""
    fresh = {}
    monkeypatch.setattr(tables, "_ARTIFACTS", fresh)
    return fresh


@pytest.fixture
def corpus_dir(tmp_path):
    (tmp_path / "embeddings.parquet").write_bytes(b"v1")
    return str(tmp_path)


def test_second_call_does_not_build(store, corpus_dir):
    spark = _session("app-1")
    build, calls = _builder(object())
    first = _emb_artifact(spark, corpus_dir, "ivf", (False, 2), build)
    assert _emb_artifact(spark, corpus_dir, "ivf", (False, 2), build) is first
    assert len(calls) == 1
    # other params are another artifact
    _emb_artifact(spark, corpus_dir, "ivf", (True, 2), build)
    assert len(calls) == 2 and len(store) == 2


def test_cached_none_is_served_without_build(store, corpus_dir):
    spark = _session("app-1")
    build, calls = _builder(None)
    assert _emb_artifact(spark, corpus_dir, "queries", (), build) is None
    assert _emb_artifact(spark, corpus_dir, "queries", (), build) is None
    assert len(calls) == 1


def test_rewritten_corpus_rebuilds_and_drops_old_entry(
    store, corpus_dir, tmp_path_factory
):
    spark = _session("app-1")
    other = tmp_path_factory.mktemp("other")
    (other / "embeddings.parquet").write_bytes(b"w")
    _emb_artifact(spark, str(other), "queries", (), _builder("kept")[0])
    build, calls = _builder("v")
    _emb_artifact(spark, corpus_dir, "queries", (), build)
    old_keys = {k for k in store if k[2] == corpus_dir}

    with open(f"{corpus_dir}/embeddings.parquet", "wb") as fh:
        fh.write(b"v2 is longer")
    _emb_artifact(spark, corpus_dir, "queries", (), build)
    assert len(calls) == 2
    assert not old_keys & set(store)
    assert len(store) == 2  # the new entry and the other corpus's
    assert any(k[2] == str(other) for k in store)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_rewritten_documents_rebuild_derived_frames(spark, sf_dir, tmp_path):
    """The frames derived from ``documents`` (the per-doc shingle-list
    index, the BM25 index) follow a rewrite of the table in the same
    session: after documents.parquet loses half its rows, each reader
    returns what it returns with the cache cleared and the store empty,
    not the frame built from the old file."""
    from mapreduceinfrastructure_spark.operators.dedup import (
        ngram_jaccard_neardup,
        ppjoin_neardup,
        prefix_filter_neardup,
    )
    from mapreduceinfrastructure_spark.operators.text_analysis import bm25_topk

    queries = (ppjoin_neardup, prefix_filter_neardup, ngram_jaccard_neardup, bm25_topk)
    path = tmp_path / "documents.parquet"
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.to_parquet(path, index=False)
    corpus = str(tmp_path)
    before = {q.__name__: _rows(q(spark, corpus)) for q in queries}

    docs.iloc[: len(docs) // 2].to_parquet(path, index=False)
    after = {q.__name__: _rows(q(spark, corpus)) for q in queries}
    spark.catalog.clearCache()
    for k in [k for k in tables._ARTIFACTS if k[2] == corpus]:
        del tables._ARTIFACTS[k]
    fresh = {q.__name__: _rows(q(spark, corpus)) for q in queries}
    assert after == fresh
    assert before["ppjoin_neardup"] != fresh["ppjoin_neardup"]


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _frame_entries() -> set[tuple]:
    return {k for k in tables._ARTIFACTS if k[1] != "schema"}


@pytest.mark.parametrize(
    "name",
    ["neardup_pairs", "incremental_dedup", "lexical_semantic_rrf", "ppjoin_neardup"],
)
def test_repeated_calls_keep_only_store_entries(spark, sf_dir, name):
    """Three calls of a reader of the shingle-list index keep no
    checkpointed or cached RDD per call: what they add to the session's
    persistent RDDs is at most one per frame entry they put in the
    build-once store (none once the store is warm)."""
    from mapreduceinfrastructure_spark.operators import dedup, text_analysis

    call = {
        "neardup_pairs": lambda: dedup.neardup_pairs(spark, sf_dir, threshold=0.5),
        "incremental_dedup": lambda: dedup.incremental_dedup(spark, sf_dir),
        "lexical_semantic_rrf": lambda: text_analysis.lexical_semantic_rrf(spark, sf_dir),
        "ppjoin_neardup": lambda: dedup.ppjoin_neardup(spark, sf_dir),
    }[name]
    entries, before = _frame_entries(), _persisted(spark)
    for _ in range(3):
        assert call().collect()
    added = _persisted(spark) - before
    assert len(added) <= len(_frame_entries() - entries), (name, added)


def test_missing_corpus_builds_every_call(store, tmp_path):
    spark = _session("app-1")
    build, calls = _builder("v")
    for _ in range(2):
        _emb_artifact(spark, str(tmp_path), "queries", (), build)
        _emb_artifact(spark, None, "queries", (), build)
    assert len(calls) == 4 and not store


def test_new_application_drops_old_entries(store, corpus_dir):
    build, calls = _builder("v")
    _emb_artifact(_session("app-1"), corpus_dir, "ivf", (), build)
    _emb_artifact(_session("app-1"), corpus_dir, "codes", (), build)
    _emb_artifact(_session("app-2"), corpus_dir, "ivf", (), build)
    assert len(calls) == 3
    assert {k[0] for k in store} == {"app-2"}
    tables.artifact_reset()
    assert not store


def test_replaced_nested_part_rebuilds_only_its_table(store, tmp_path):
    """A partitioned table directory is fingerprinted at every depth:
    rewriting ``k=v/part-0.parquet`` in place (the directories' own
    mtimes do not change) is a new key, and the miss drops that table's
    old entry but not another table's in the same sf_dir."""
    spark = _session("app-1")
    part = tmp_path / "embeddings.parquet" / "k=v" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    part.write_bytes(b"v1")
    (tmp_path / "documents.parquet").write_bytes(b"d")
    sf_dir = str(tmp_path)
    build, calls = _builder("v")
    _emb_artifact(spark, sf_dir, "queries", (), build)
    tables._artifact(spark, sf_dir, "documents", "schema", (), _builder("d")[0])
    _emb_artifact(spark, sf_dir, "queries", (), build)
    assert len(calls) == 1

    with open(part, "r+b") as fh:
        fh.write(b"v2 is longer")
    _emb_artifact(spark, sf_dir, "queries", (), build)
    assert len(calls) == 2 and len(store) == 2
    assert {k[3] for k in store} == {"embeddings", "documents"}


def test_pq_train_memo_hit_submits_no_job(spark, sf_dir):
    emb = sim._embeddings(spark, sf_dir)
    first = sim._pq_train_flat(emb, sf_dir)
    again, jobs = jobs_in_group(
        spark, "pq-train-memo", lambda: sim._pq_train_flat(emb, sf_dir)
    )
    assert first is not None
    assert again is first and jobs == 0


def test_query_set_memo_hit_submits_no_job(spark, sf_dir):
    emb = sim._embeddings(spark, sf_dir)
    first = sim._collect_queries(emb, sf_dir)
    again, jobs = jobs_in_group(
        spark, "query-set-memo", lambda: sim._collect_queries(emb, sf_dir)
    )
    assert first is not None
    assert again is first and jobs == 0


def test_codes_frame_keys_on_assignment_mode(spark, sf_dir, monkeypatch):
    """The raw code frame passes through the IVF cell id, which depends
    on the resolved assignment mode: a mode flip must not serve the
    other mode's frame even though the raw codebook is unchanged."""
    emb = sim._embeddings(spark, sf_dir)
    flat = [0.5] * (4 * sim.EMBED_DIM)
    before = set(tables._ARTIFACTS)

    def codes():
        return sim._codes_frame(
            spark, sf_dir, emb, flat, 4, ("vec_id",), "v", "mode-key-test"
        )

    try:
        monkeypatch.setenv("SPARK_GRAFT_IVF_TWO_LEVEL", "0")
        flat_mode = codes()
        assert codes() is flat_mode
        monkeypatch.setenv("SPARK_GRAFT_IVF_TWO_LEVEL", "1")
        assert codes() is not flat_mode
    finally:
        for k in set(tables._ARTIFACTS) - before:
            del tables._ARTIFACTS[k]


def _write_table(sf_dir, name, pdf):
    pdf.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)


def test_schema_memo_hit_submits_no_job(spark, sf_dir):
    first = load_table(spark, sf_dir, "orders")
    again, jobs = jobs_in_group(
        spark, "schema-memo", lambda: load_table(spark, sf_dir, "orders")
    )
    assert jobs == 0
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_rewritten_table_returns_new_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_table(sf_dir, "region", pd.DataFrame({"x": [1, 2], "y": ["a", "b"]}))
    assert load_table(spark, sf_dir, "region").columns == ["x", "y"]
    _write_table(sf_dir, "region", pd.DataFrame({"x": [1], "z_new": [0.5]}))
    got = load_table(spark, sf_dir, "region")
    assert got.columns == ["x", "z_new"]
    assert got.collect()[0]["z_new"] == 0.5


def test_binary_as_string_flip_reinfers(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_table(sf_dir, "nation", pd.DataFrame({"b": [b"ab", b"cd"]}))
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert dict(load_table(spark, sf_dir, "nation").dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        flipped = load_table(spark, sf_dir, "nation")
        assert dict(flipped.dtypes)["b"] == "string"
        assert sorted(r["b"] for r in flipped.collect()) == ["ab", "cd"]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_uri_sf_dir_loads_and_infers_every_call(spark, tmp_path):
    """``file:`` URIs cannot be stat-ed, so their tables are never
    memoized: every load_table infers (one job) and reads correctly."""
    _write_table(str(tmp_path), "part", pd.DataFrame({"p": [1, 2, 3]}))
    uri = f"file:{tmp_path}"
    for i in range(2):
        df, jobs = jobs_in_group(
            spark, f"uri-{i}", lambda: load_table(spark, uri, "part")
        )
        assert jobs >= 1
        assert sorted(r["p"] for r in df.collect()) == [1, 2, 3]
    assert not any(k[2] == uri for k in tables._ARTIFACTS)


def test_tpch_q21_second_build_submits_no_job(spark, sf_dir):
    """Before the schema entry, each of q21's three load_table calls
    ran a footer-read job on every build."""
    tpch_q21(spark, sf_dir)
    _, jobs = jobs_in_group(spark, "q21-build", lambda: tpch_q21(spark, sf_dir))
    assert jobs == 0
