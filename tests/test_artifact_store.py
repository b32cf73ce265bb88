"""The build-once store for the search artifacts (similarity._artifact).

The store tests need no Spark: the store reads only the session's
application id and the stat of ``<sf_dir>/embeddings.parquet``.  The
tests on the shared session pin the train and query-set memos, which no
operator test observes directly, and the code frame's mode key term.
"""
from types import SimpleNamespace

import pytest

from mapreduceinfrastructure_spark.operators import similarity as sim
from tests.conftest import jobs_in_group


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


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
    monkeypatch.setattr(sim, "_ARTIFACTS", fresh)
    return fresh


@pytest.fixture
def corpus_dir(tmp_path):
    (tmp_path / "embeddings.parquet").write_bytes(b"v1")
    return str(tmp_path)


def test_second_call_does_not_build(store, corpus_dir):
    spark = _session("app-1")
    build, calls = _builder(object())
    first = sim._artifact(spark, corpus_dir, "ivf", (False, 2), build)
    assert sim._artifact(spark, corpus_dir, "ivf", (False, 2), build) is first
    assert len(calls) == 1
    # other params are another artifact
    sim._artifact(spark, corpus_dir, "ivf", (True, 2), build)
    assert len(calls) == 2 and len(store) == 2


def test_cached_none_is_served_without_build(store, corpus_dir):
    spark = _session("app-1")
    build, calls = _builder(None)
    assert sim._artifact(spark, corpus_dir, "queries", (), build) is None
    assert sim._artifact(spark, corpus_dir, "queries", (), build) is None
    assert len(calls) == 1


def test_rewritten_corpus_rebuilds_and_drops_old_entry(
    store, corpus_dir, tmp_path_factory
):
    spark = _session("app-1")
    other = tmp_path_factory.mktemp("other")
    (other / "embeddings.parquet").write_bytes(b"w")
    sim._artifact(spark, str(other), "queries", (), _builder("kept")[0])
    build, calls = _builder("v")
    sim._artifact(spark, corpus_dir, "queries", (), build)
    old_keys = {k for k in store if k[2] == corpus_dir}

    with open(f"{corpus_dir}/embeddings.parquet", "wb") as fh:
        fh.write(b"v2 is longer")
    sim._artifact(spark, corpus_dir, "queries", (), build)
    assert len(calls) == 2
    assert not old_keys & set(store)
    assert len(store) == 2  # the new entry and the other corpus's
    assert any(k[2] == str(other) for k in store)


def test_missing_corpus_builds_every_call(store, tmp_path):
    spark = _session("app-1")
    build, calls = _builder("v")
    for _ in range(2):
        sim._artifact(spark, str(tmp_path), "queries", (), build)
        sim._artifact(spark, None, "queries", (), build)
    assert len(calls) == 4 and not store


def test_new_application_drops_old_entries(store, corpus_dir):
    build, calls = _builder("v")
    sim._artifact(_session("app-1"), corpus_dir, "ivf", (), build)
    sim._artifact(_session("app-1"), corpus_dir, "codes", (), build)
    sim._artifact(_session("app-2"), corpus_dir, "ivf", (), build)
    assert len(calls) == 3
    assert {k[0] for k in store} == {"app-2"}
    sim.artifact_reset()
    assert not store


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
    before = set(sim._ARTIFACTS)

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
        for k in set(sim._ARTIFACTS) - before:
            del sim._ARTIFACTS[k]
