"""Round-17 pins.

ADVICE r16 closures: the coarse-quantizer memo keys on the RESOLVED
assignment mode (a forced two-level session must not serve its
approximate handle to a flat-mode caller), and the one-parse array
literal helpers return TYPED empty arrays instead of the parser's
array<string> `array()`.

New-op invariants: rerank_cap_sweep's recall is monotone in CAP and
its CAP=RERANK_CAP points reproduce the banked rerank report;
ivf_split_apply preserves the membership partition and strictly
reduces max occupancy; pq_bits_recall_report's 4-bit leg IS the
production trained path.
"""
import __spark_entry__ as entrymod
from pyspark.sql import functions as F

from mapreduceinfrastructure_spark.functions.vector import (
    lit_double_array,
    lit_long_array,
)

QUERIES = entrymod.queries()


def test_lit_array_empty_inputs_are_typed(spark):
    """ADVICE r16: `array()` parses as array<string>; an empty input
    must still yield the typed column every caller expects."""
    df = spark.range(1).select(
        lit_double_array([]).alias("d"), lit_long_array([]).alias("l")
    )
    assert dict(df.dtypes) == {"d": "array<double>", "l": "array<bigint>"}
    row = df.collect()[0]
    assert row["d"] == [] and row["l"] == []


def test_lit_long_array_values_and_type(spark):
    row = (
        spark.range(1)
        .select(lit_long_array([3, -1, 2**40]).alias("a"))
        .collect()[0]
    )
    assert row["a"] == [3, -1, 2**40]


def test_ivf_assign_cache_keys_on_mode(spark, sf_dir, monkeypatch):
    """ADVICE r16: the ivf_assignments memo keys on the resolved (two_level,
    m) — within one session, a mode flip rebuilds instead of serving
    the other mode's (different-by-design) assignment; returning to a
    mode hits that mode's own memo entry."""
    from mapreduceinfrastructure_spark.operators import similarity as sim

    monkeypatch.setenv("SPARK_GRAFT_IVF_TWO_LEVEL", "0")
    flat1 = sim.ivf_assignments(spark, sf_dir)
    assert sim.ivf_assignments(spark, sf_dir) is flat1  # memo hit

    monkeypatch.setenv("SPARK_GRAFT_IVF_TWO_LEVEL", "1")
    two = sim.ivf_assignments(spark, sf_dir)
    assert two is not flat1  # mode is part of the key — no cross-serve

    monkeypatch.setenv("SPARK_GRAFT_IVF_TWO_LEVEL", "0")
    assert sim.ivf_assignments(spark, sf_dir) is flat1


def test_residual_frame_cache_keys_on_mode(spark, sf_dir, monkeypatch):
    """The residual frame derives from ivf_assignments, so its memo
    inherits the mode key term (ADVICE r16) — a mode flip must rebuild
    the residual index, not reuse the other mode's residuals."""
    from mapreduceinfrastructure_spark.operators import similarity as sim

    monkeypatch.setenv("SPARK_GRAFT_IVF_TWO_LEVEL", "0")
    flat = sim._residual_frame(spark, sf_dir)
    assert sim._residual_frame(spark, sf_dir) is flat

    monkeypatch.setenv("SPARK_GRAFT_IVF_TWO_LEVEL", "1")
    assert sim._residual_frame(spark, sf_dir) is not flat


def test_rerank_cap_sweep_monotone_and_consistent(spark, sf_dir):
    """Two structural guarantees of the CAP sweep: per query, recall
    is monotone non-decreasing in CAP (the exact re-rank selects the
    TOPK smallest exact distances from a candidate pool that only
    GROWS with CAP — any new candidate that displaces a pool member
    is itself closer, and anything closer than an exact-top-k member
    is exact-top-k), and the CAP=RERANK_CAP operating point
    reproduces ivf_pq_rerank_recall_report's 'rerank' variant exactly
    (same candidate fetch, same re-rank, same ground truth)."""
    from mapreduceinfrastructure_spark.operators.similarity import (
        RERANK_CAP,
        RERANK_CAP_SET,
    )

    sweep = QUERIES["rerank_cap_sweep"](spark, sf_dir).collect()
    per_q: dict[int, dict[int, int]] = {}
    for r in sweep:
        per_q.setdefault(r["qid"], {})[r["cap"]] = r["n_hit"]
    caps = sorted(RERANK_CAP_SET)
    assert per_q, "sweep returned no rows"
    for qid, by_cap in per_q.items():
        assert sorted(by_cap) == caps
        seq = [by_cap[c] for c in caps]
        assert seq == sorted(seq), f"qid={qid} not monotone: {seq}"

    report = {
        r["qid"]: r["hits"]
        for r in QUERIES["ivf_pq_rerank_recall_report"](
            spark, sf_dir
        ).collect()
        if r["variant"] == "rerank"
    }
    got = {q: by_cap[RERANK_CAP] for q, by_cap in per_q.items()}
    assert got == report


def test_ivf_split_apply_partition_and_occupancy(spark, sf_dir):
    """The apply step's invariants: every planned cell is applied with
    n_keep + n_split = n_before = the plan's n_vectors (membership
    partition preserved), the split seed always moves (n_split >= 1),
    and the post-split max occupancy across planned cells strictly
    decreases (the reason to split at all)."""
    plan = {
        r["cid"]: r["n_vectors"]
        for r in QUERIES["ivf_split_plan"](spark, sf_dir).collect()
    }
    rows = QUERIES["ivf_split_apply"](spark, sf_dir).collect()
    assert {r["cid"] for r in rows} == set(plan)
    for r in rows:
        assert r["n_keep"] + r["n_split"] == r["n_before"] == plan[r["cid"]]
        assert r["n_split"] >= 1  # the farthest member always moves
        assert r["n_keep"] >= 1  # 2-means keeps the near side
    before_max = max(plan.values())
    after_max = max(max(r["n_keep"], r["n_split"]) for r in rows)
    assert after_max < before_max


def test_pq_bits_b4_leg_is_production_path(spark, sf_dir):
    """The report's 4-bit leg is the SAME machinery as
    pq_recall_report's 'trained' variant (one codebook, one search
    shape) — their per-query hits must agree exactly; and the grid is
    complete with n_hit <= n_exact."""
    bits_rows = QUERIES["pq_bits_recall_report"](spark, sf_dir).collect()
    b4 = {r["qid"]: r["n_hit"] for r in bits_rows if r["bits"] == 4}
    b8 = {r["qid"]: r["n_hit"] for r in bits_rows if r["bits"] == 8}
    assert set(b4) == set(b8) and b4, "incomplete bits grid"
    for r in bits_rows:
        assert 0 <= r["n_hit"] <= r["n_exact"]
    trained = {
        r["qid"]: r["hits"]
        for r in QUERIES["pq_recall_report"](spark, sf_dir).collect()
        if r["variant"] == "trained"
    }
    assert b4 == trained
