"""Oracle parity for every queries()/oracle_sql() pair — the same check
the driver runs at sf=0.01 (row count + schema + order-insensitive
values), run exactly, not by hash, so mismatches show diffs."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_matches_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_registry_consistency():
    # every oracle key must have a query; queries without oracle are the
    # documented weaker rows-only ops
    assert set(ORACLES) <= set(QUERIES)


# The driver's correctness harness verifies EXACTLY queries() entries
# 1-50 against oracle_sql.  This pin makes the window composition a
# hard invariant instead of a comment: every windowed entry must carry
# an exact oracle, and the exact 50-list is frozen so an accidental
# insertion/reorder can't silently push an oracle-backed query out of
# (or a rows-only query into) the verified window.
DRIVER_WINDOW = [
    "word_count",  # anchor
    "grep",  # anchor
    "dedup_clusters",  # must: materially changed (last banked r18)
    "incremental_dedup",  # must: materially changed (last banked r18)
    "grep_mr",  # stale (hash changed since r12 row)
    "inverted_index_mr",  # stale (hash changed since r12 row)
    "word_count_mr",  # stale (hash changed since r12 row)
    "embedding_neardup",  # stale (hash changed since r12 row)
    "embedding_neardup_strict",  # stale (hash changed since r12 row)
    "streaming_custom_sessions",  # stale (hash changed since r12 row)
    "ann_ivf_adc",  # stale (hash changed since r18 row)
    "cluster_diameter",  # stale (hash changed since r18 row)
    "ivf_pq_adc_topk",  # stale (hash changed since r18 row)
    "ivf_pq_probe_sweep",  # stale (hash changed since r18 row)
    "ivf_pq_recall_report",  # stale (hash changed since r18 row)
    "ivf_pq_rerank_recall_report",  # stale (hash changed since r18 row)
    "ivf_pq_rerank_topk",  # stale (hash changed since r18 row)
    "rerank_cap_sweep",  # stale (hash changed since r18 row)
    "triangle_count",  # backfill (last banked r9)
    "weighted_median",  # backfill (last banked r9)
    "zipf_slope",  # backfill (last banked r9)
    "bigram_count",  # backfill (last banked r11)
    "bpe_token_count",  # backfill (last banked r11)
    "curation_pipeline",  # backfill (last banked r11)
    "cusum_drift",  # backfill (last banked r11)
    "data_mixture",  # backfill (last banked r11)
    "decontamination",  # backfill (last banked r11)
    "distinct_count",  # backfill (last banked r11)
    "distributed_sort",  # backfill (last banked r11)
    "dup_spans",  # backfill (last banked r11)
    "event_transitions",  # backfill (last banked r11)
    "fingerprint",  # backfill (last banked r11)
    "frame_offsets",  # backfill (last banked r11)
    "funnel_conversion",  # backfill (last banked r11)
    "fuzzy_blocked_join",  # backfill (last banked r11)
    "gap_fill",  # backfill (last banked r11)
    "global_rank",  # backfill (last banked r11)
    "join_anti",  # backfill (last banked r11)
    "join_semi",  # backfill (last banked r11)
    "keep_best_dedup",  # backfill (last banked r11)
    "mixture_weights",  # backfill (last banked r11)
    "neyman_allocation",  # backfill (last banked r11)
    "pack_sequences",  # backfill (last banked r11)
    "pivot_status",  # backfill (last banked r11)
    "quality_score",  # backfill (last banked r11)
    "readability",  # backfill (last banked r11)
    "repetition_filter",  # backfill (last banked r11)
    "retention_cohorts",  # backfill (last banked r11)
    "rolling_fingerprint",  # backfill (last banked r11)
    "rolling_time_window",  # backfill (last banked r11)
]

def test_window_round_is_fresh():
    """The committed window must be for the CURRENT round, i.e. one past
    the newest banked CORRECTNESS_r*.json.  r11 shipped last round's
    window verbatim and the external driver silently re-verified stale
    evidence (VERDICT r11 #1); this turns that mistake into a red test
    the moment a new round starts on an un-regenerated window.

    INTER-ROUND SEMANTICS (intentional, VERDICT r12 #3): the moment a
    round's CORRECTNESS artifact lands on disk, this test goes red
    until the NEXT round's first action (`python scripts/ledger.py
    sync && python scripts/paste_window.py`) regenerates the window.
    A red here right after a round banks is the designed
    start-of-round forcing function, not a code defect — see
    README.md "Round protocol" and .claude/skills/verify/SKILL.md."""
    import glob
    import os
    import re as _re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := _re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    assert rounds, "no CORRECTNESS_r*.json found in the repo root"
    assert entrymod.WINDOW_ROUND == max(rounds) + 1, (
        f"WINDOW_ROUND={entrymod.WINDOW_ROUND} but newest banked round is "
        f"r{max(rounds)} — regenerate the window: python scripts/ledger.py "
        f"sync && python scripts/paste_window.py (rewrites both pinned "
        f"copies and bumps WINDOW_ROUND)"
    )


def test_driver_window_is_oracle_backed():
    window = list(QUERIES)[:50]
    assert len(DRIVER_WINDOW) == 50
    assert window == DRIVER_WINDOW
    missing = [n for n in window if n not in ORACLES]
    assert not missing, f"windowed queries without an exact oracle: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_oracle_compiles_in_duckdb(duck):
    """Registry-wide binder check: EXPLAIN every oracle_sql() entry so
    a syntax/name error in a NON-windowed oracle fails here in seconds
    instead of surfacing as a driver `err` whenever rotation happens to
    pull that query into a future window.  EXPLAIN plans (parses +
    binds against the real views) without executing, so even the
    unrolled Lloyd/PCA CTE chains stay cheap."""
    bad = []
    for name, sql in sorted(ORACLES.items()):
        try:
            duck.sql(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001 — collecting all failures
            bad.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not bad, "\n".join(bad)
