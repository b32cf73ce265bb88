"""Physical-plan invariants — the scale contract.

These assert what makes the operators viable at 100 TB: filters reach
the parquet scan, scans read only needed columns, dimension joins
broadcast instead of shuffling the fact side, and shuffle counts don't
regress.  A change that silently breaks one of these passes correctness
tests but dies at scale; this file is where it fails instead.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from mapreduceinfrastructure_spark.plans.explain import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)

QUERIES = entrymod.queries()


def test_filter_pushdown_key_stats(spark, sf_dir):
    df = QUERIES["key_stats"](spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # column pruning: only the 6 needed of lineitem's 11 columns
    (cols,) = read_schema_columns(df)
    assert cols == {
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate",
    }
    assert shuffle_count(df) == 1  # one hash-agg exchange, partials map-side


def test_filter_pushdown_select_project(spark, sf_dir):
    df = QUERIES["select_project"](spark, sf_dir)
    fs = pushed_filters(df)
    assert any("l_discount" in f for f in fs) and any("l_quantity" in f for f in fs)
    assert shuffle_count(df) == 0  # pure scan→project, no exchange


def test_dim_joins_broadcast(spark, sf_dir):
    df = QUERIES["join_revenue_by_nation"](spark, sf_dir)
    assert has_broadcast_join(df)
    # only the customer⋈orders equi-join may shuffle; dims ride broadcast
    assert shuffle_count(df) <= 2
    scans = read_schema_columns(df)
    assert {"o_custkey", "o_totalprice"} in scans  # orders scan pruned to 2 cols


def test_semi_anti_broadcast_no_shuffle(spark, sf_dir):
    for name in ("join_semi", "join_anti"):
        df = QUERIES[name](spark, sf_dir)
        assert has_broadcast_join(df), name
        assert shuffle_count(df) == 0, name


def test_single_shuffle_aggregations(spark, sf_dir):
    """One shuffle each: partial agg runs map-side (the combiner the
    reference lacks), and sessionize reuses one user_id exchange for
    both window passes and the final agg."""
    for name in ("word_count", "key_count", "histogram", "sessionize", "topk_per_group"):
        df = QUERIES[name](spark, sf_dir)
        assert shuffle_count(df) == 1, name


def test_global_topk_no_shuffle(spark, sf_dir):
    # orderBy+limit must compile to TakeOrderedAndProject, not a sort
    df = QUERIES["topk_global"](spark, sf_dir)
    assert shuffle_count(df) == 0
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_similarity_broadcasts_queries(spark, sf_dir):
    # ann_lsh keeps the broadcast-query shape; cosine_topk moved to
    # the r18 batched partial-top-k kernel (queries ride the closure,
    # the corpus is scanned once through MapInPandas, and no pair
    # table — broadcast or otherwise — exists at all).
    assert has_broadcast_join(QUERIES["ann_lsh"](spark, sf_dir))
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["cosine_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_neardup_no_nested_loop_join(spark, sf_dir):
    """The near-dup self-join must go through the LSH bucket keys, never
    an all-pairs BroadcastNestedLoopJoin — the O(n²) pair explosion is
    the difference between working and dying at 100× the corpus."""
    plan = (
        QUERIES["embedding_neardup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_word_count_reads_only_text(spark, sf_dir):
    (cols,) = read_schema_columns(QUERIES["word_count"](spark, sf_dir))
    assert cols == {"text"}


def test_argmax_single_hash_agg_no_window(spark, sf_dir):
    """argmax_order must stay a one-shuffle struct-max hash agg — if it
    regresses to a window row_number it gains a per-group sort."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["argmax_order"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert shuffle_count(df) == 1


def test_gap_fill_two_shuffles(spark, sf_dir):
    """gap_fill: hourly agg + user window — the grid explode and fill
    must not introduce extra exchanges beyond the two keyed ones."""
    df = QUERIES["gap_fill"](spark, sf_dir)
    assert shuffle_count(df) <= 3  # (user,bucket) agg, user bounds agg, window


def test_tpch_q8_all_dims_broadcast(spark, sf_dir):
    """Q8's eight-way join: every dimension side broadcasts; the only
    exchanges are fact-side joins plus the final agg."""
    df = QUERIES["tpch_q8"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 3


def test_not_in_null_aware_broadcasts(spark, sf_dir):
    df = QUERIES["not_in_null_aware"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) == 0


def test_salted_join_stays_on_shuffle_path(spark, sf_dir):
    """The salted demo must exercise the shuffle-hash join it teaches —
    if Spark silently broadcasts the replicated dim the salt is dead
    code."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["salted_join"](spark, sf_dir)
    assert "ShuffledHashJoin" in formatted_plan(df)


def test_keep_best_dedup_single_hash_agg_no_window(spark, sf_dir):
    """keep_best_dedup's argmax must stay a one-shuffle struct-max hash
    agg — a window row_number regression would sort every canopy."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["keep_best_dedup"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert shuffle_count(df) == 1


def test_decontamination_broadcasts_benchmark_only(spark, sf_dir):
    """The benchmark n-gram set (absolutely small: an eval suite) rides
    a broadcast hash join; the corpus side must never broadcast."""
    df = QUERIES["decontamination"](spark, sf_dir)
    assert has_broadcast_join(df)
    # bench distinct + hit count + result join; no corpus-sized extras
    assert shuffle_count(df) <= 4


def test_data_mixture_aggregates_before_global_window(spark, sf_dir):
    """The global-share window must run over the (source, lang)
    aggregate, not raw docs: one keyed agg exchange plus the
    single-partition exchange of the tiny aggregated frame."""
    df = QUERIES["data_mixture"](spark, sf_dir)
    assert shuffle_count(df) <= 2


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    """pack_sequences: one source-keyed exchange for the running sum —
    no extra shuffles from the pack arithmetic."""
    df = QUERIES["pack_sequences"](spark, sf_dir)
    assert shuffle_count(df) == 1


def test_split_assign_single_agg_shuffle(spark, sf_dir):
    """split_assign: hash split + one algebraic agg exchange; the md5
    bucketing must not introduce a repartition."""
    df = QUERIES["split_assign"](spark, sf_dir)
    assert shuffle_count(df) == 1


def test_repetition_filter_two_hash_aggs(spark, sf_dir):
    """repetition_filter: (doc, bigram) counts then per-doc rollup —
    two agg exchanges, no window, no join."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["repetition_filter"](spark, sf_dir)
    assert "Window" not in formatted_plan(df)
    assert shuffle_count(df) == 2


def test_unigram_logprob_scalar_broadcast_only(spark, sf_dir):
    """The 1-row token total rides a (nested-loop) broadcast — correct
    for a scalar.  The token↔vocab join must be a key join, never a
    cartesian, and the shuffle budget is freq-agg + vocab-join +
    doc-agg."""
    df = QUERIES["unigram_logprob_score"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 4


def test_mixture_weights_window_over_aggregate_only(spark, sf_dir):
    """The normalizing window must run over the (source × lang)
    aggregate, so the whole query is one corpus shuffle."""
    df = QUERIES["mixture_weights"](spark, sf_dir)
    assert shuffle_count(df) <= 2


def test_curation_pipeline_no_pair_explosion(spark, sf_dir):
    """The composition stays doc_id-keyed end to end: no nested-loop or
    cartesian join anywhere, bounded shuffle count (per-signal aggs +
    doc-keyed joins + fingerprint dedup + final source agg)."""
    df = QUERIES["curation_pipeline"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 12


def test_word_pmi_no_pair_self_join(spark, sf_dir):
    """Pair events must come from the map-side nested array transform,
    never a positions self-join: the only nested-loop allowed is the
    1-row totals cross join, and there is no cartesian anywhere.  The
    corpus-linear event stream may feed hash-aggs only."""
    df = QUERIES["word_pmi"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # exactly two 1-row crosses: P x T (assembling the totals row) and
    # pairs x totals — both broadcast a single row, nothing else may NLJ
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_event_transitions_bounded_shuffles(spark, sf_dir):
    """One user-keyed window exchange + one (from, to) agg exchange +
    one from_type normalization window over the aggregated matrix —
    never more, and the normalization must not touch the raw stream."""
    df = QUERIES["event_transitions"](spark, sf_dir)
    assert shuffle_count(df) <= 3


def test_trade_flows_2hop_contraction_join_no_nested_loop(spark, sf_dir):
    """The M² contraction join must be a keyed join (shuffle or
    broadcast of the 625-row edge AGGREGATE, never of a fact table) —
    no nested-loop/cartesian; the supplier dim rides a broadcast inside
    trade_edges."""
    df = QUERIES["trade_flows_2hop"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_broadcast_join(df)


def test_ngram_jaccard_exact_branch_plan(spark, sf_dir):
    """The round-5 size switch: below NEARDUP_EXACT_MAX_BYTES (every
    local SF) ngram_jaccard_neardup must plan as the EXACT shingle
    self-join — a shuffle join keyed on the shingle, no LSH bucket key
    anywhere, and no broadcast of the corpus-linear shingle table on
    that join.  (The banded branch's band-join plan is pinned by
    test_scale_fixes.test_minhash_bands_join_is_shuffle_not_broadcast;
    branch dispatch by test_neardup_pairs_switch_dispatch.)"""
    import re

    df = QUERIES["ngram_jaccard_neardup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket#" not in plan  # no LSH banding below the threshold
    # the pair SELF-join carries the da< condition (r17: both sides
    # explode the checkpointed per-doc lists with doc ids pre-renamed
    # to da/db and sizes carried as group keys — the former shape
    # joined raw doc_id streams and shipped sizes back per pair)
    pair_joins = [
        l
        for l in plan.splitlines()
        if re.search(r"Join.*\bshingle#", l)
        and ("da#" in l or "doc_id#" in l)
    ]
    assert pair_joins, plan
    assert all("Broadcast" not in l for l in pair_joins), pair_joins


def test_pagerank_iteration_plan_is_constant_size(spark, sf_dir, monkeypatch):
    """pagerank_nations' per-iteration work must stay one rank join +
    one agg with the lineage truncated every round — a growing plan
    would compound per-iteration cost at 100 TB.  Pinned by asserting
    the FINAL plan is iteration-count-INDEPENDENT: the same join/
    exchange counts at 2 and 6 iterations proves each round's
    localCheckpoint cut the chain (raw substring counts can't be
    compared to ITERATIONS directly — InMemoryRelation nodes embed
    their build pipelines, joins included, in toString)."""
    from mapreduceinfrastructure_spark.operators import graph as gr

    def shape(n_iter):
        monkeypatch.setattr(gr, "ITERATIONS", n_iter)
        df = QUERIES["pagerank_nations"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return (plan.count("Join"), plan.count("Exchange"), len(plan.splitlines()))

    assert shape(2) == shape(6)


def test_bigram_logprob_no_cartesian_bounded_shuffles(spark, sf_dir):
    """Round-5 bigram LM score: the event stream must come from the
    map-side zip_with (no positions self-join / cartesian); the only
    nested-loop broadcast allowed is the 1-row total; model-table
    joins are key joins.  Shuffle budget: bigram agg + context agg +
    unigram agg + up to three model joins + doc agg."""
    df = QUERIES["bigram_logprob_score"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert shuffle_count(df) <= 7


def test_embedding_outliers_centroids_broadcast(spark, sf_dir):
    """The |labels|-row centroid table must ride a broadcast back onto
    the corpus (embedding bytes move zero times for the join), and the
    only shuffle is the (label, pos) component agg + centroid
    re-assembly."""
    df = QUERIES["embedding_outliers"](spark, sf_dir)
    assert has_broadcast_join(df)
    # 2 agg exchanges ((label,pos) partials + centroid re-assembly) + 2
    # small-input fan_out round-robins (local-only; absent on a real
    # multi-file corpus)
    assert shuffle_count(df) <= 4


def test_zipf_slope_regression_over_vocab_only(spark, sf_dir, monkeypatch):
    """The corpus is touched exactly once (token explode + freq agg);
    everything after runs over the VOCAB table with the TWO-PASS rank:
    range partition on the sort key (never a global single-partition
    row_number over the vocab), local rank, and the per-partition
    offset table — ~8 rows — broadcast back.  The offset prefix-sum's
    single-partition window over those 8 rows is the only unkeyed
    window allowed."""
    from mapreduceinfrastructure_spark.operators import text_analysis

    built = {}

    def unstored(spark, sf_dir, kind, params, build):
        built[kind] = build()
        return built[kind]

    # the ranked vocab as built, before the store checkpoints it
    monkeypatch.setattr(text_analysis, "_stored", unstored)
    QUERIES["zipf_slope"](spark, sf_dir)
    monkeypatch.undo()
    ranked = built["zipf_ranked"]._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in ranked  # two-pass rank, not global window

    df = QUERIES["zipf_slope"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)  # offsets ride a broadcast
    # the ranked vocab is a stored checkpoint, so BOTH consumers (offset
    # counts and the final join) read it instead of re-running the
    # corpus tokenize: no parquet scan is left in the plan
    assert plan.count("Scan ExistingRDD") >= 2
    assert "FileScan" not in plan


def test_weighted_sample_window_group_limit_prunes(spark, sf_dir):
    """The per-source top-K must prune partition-locally before the
    exchange (WindowGroupLimit), so the shuffle moves ~K rows per
    (partition, source), never the corpus."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["weighted_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert shuffle_count(df) == 1


def test_round5_window_newcomer_plan_shapes(spark, sf_dir):
    """Plan pins for the round-5 driver-window first-timers that had no
    individual pin: the exact shapes measured when they entered the
    window.  Each line states the scale contract the pin protects."""
    # join_outer: the aggregated-orders side broadcasts; the customer
    # fact never shuffles for it — 1 exchange total (the agg's own)
    df = QUERIES["join_outer"](spark, sf_dir)
    assert has_broadcast_join(df) and shuffle_count(df) == 1

    # join_full_outer: FULL OUTER cannot broadcast either side — it
    # must stay a two-exchange sort-merge on the key
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["join_full_outer"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert shuffle_count(df) == 2

    # window_frames: BOTH frame specs (sliding avg, cume_dist,
    # nth_value) share ONE user-keyed exchange — no per-spec reshuffle
    df = QUERIES["window_frames"](spark, sf_dir)
    assert shuffle_count(df) == 1

    # merge_upsert: changes-side agg + broadcast anti/semi application;
    # the base table is never shuffled twice
    df = QUERIES["merge_upsert"](spark, sf_dir)
    assert has_broadcast_join(df) and shuffle_count(df) <= 2

    # dup_spans: span-hash agg + ONE keyed join back — a span
    # self-join would be O(occurrences²) on boilerplate spans
    df = QUERIES["dup_spans"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 3

    # retention_cohorts: distinct-activity agg, cohort-min agg, final
    # (cohort, week) agg — user-keyed exchanges only, cohort side
    # broadcast back
    df = QUERIES["retention_cohorts"](spark, sf_dir)
    assert has_broadcast_join(df) and shuffle_count(df) <= 4

    # tpch_q16: the NOT IN supplier filter rides a broadcast null-aware
    # anti join; part joins broadcast — only the distinct-agg exchanges
    df = QUERIES["tpch_q16"](spark, sf_dir)
    assert has_broadcast_join(df) and shuffle_count(df) <= 2

    # tpch_q17: the correlated AVG decorrelates to a per-part agg
    # joined back AFTER the selective brand semi-join — one exchange
    df = QUERIES["tpch_q17"](spark, sf_dir)
    assert has_broadcast_join(df) and shuffle_count(df) <= 1


def test_pq_adc_topk_plan_shape(spark, sf_dir):
    """Scale pins for the ADC search pass (r18 batched form): the
    whole compressed-domain scan — encode, per-query ADC tables,
    scoring, per-batch top-k — runs inside ONE MapInPandas corpus pass
    (no pair table, broadcast or otherwise, exists at all), the final
    window ranks only the bounded per-batch survivors, and scoring
    stays aggregation-free — no hash agg anywhere (a groupBy SUM of
    the subspace terms would be order-unstable float aggregation)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["pq_adc_topk"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" not in plan
    # exchanges: the qid top-k plus at most the two fan_out
    # round-robins (tiny-file artifacts, no-ops at scale)
    assert shuffle_count(df) <= 3


def test_ann_ivf_adc_plan_shape(spark, sf_dir):
    """Scale pins for the IVF-prefiltered ADC search (r13): the
    scoring join must be a broadcast HASH join on cid (the bounded
    probe side builds, the corpus streams) — NOT a corpus-wide
    query pairing: pq_adc_topk scores every corpus row against every
    query in one batched scan, which is exactly what the cell
    prefilter exists to avoid.  BNLJ may appear ONLY in the
    bounded index-build/probe steps (corpus x centroids, 50-query x
    centroids), where the broadcast side is the k-row centroid table.
    The per-qid top-k must prune map-side via WindowGroupLimit."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["ann_ivf_adc"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    # the scoring join keys on cid; a vec_id<->qid BNLJ condition would
    # mean the prefilter was lost
    assert "NOT (vec_id" not in plan.split("BroadcastNestedLoopJoin")[0]


def test_bm25_topk_plan_shape(spark, sf_dir):
    """Scale pins for the BM25 posting-list join (r13): the bounded
    query-terms side must be the BROADCAST HASH side of the candidate
    join (a corpus-side broadcast or any nested-loop pairing would be
    the scale-killer), the stored tf index must feed its consumers
    from its checkpoint (Scan ExistingRDD and no parquet scan —
    branch-specific optimization defeats exchange reuse here, so
    without it each branch re-runs the tokenize), the per-qid top-k must prune
    map-side (WindowGroupLimit), and no sort-merge join may appear
    anywhere (nothing in this plan should co-shuffle two large
    sides)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["bm25_topk"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "Scan ExistingRDD" in plan and "Scan parquet" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_lexical_semantic_rrf_plan_shape(spark, sf_dir):
    """The fused plan stacks bm25_topk and the capped shingle-Jaccard
    ranking: no nested-loop join may appear (the shingle candidate
    join broadcasts the bounded query side), and a sort-merge join is
    tolerated ONLY for the full-outer fuse of the two ≤(queries×k)
    rank lists (full outer cannot broadcast-hash; both sides are
    bounded)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["lexical_semantic_rrf"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only SMJ is the bounded FullOuter fuse (tree lines carry the
    # join type; "(nn) SortMergeJoin" detail headers do not)
    smj_tree = [
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln and not ln.strip().startswith("(")
    ]
    assert smj_tree and all("FullOuter" in ln for ln in smj_tree)


def test_pca_debias_plan_is_map_only(spark, sf_dir):
    """The debias projection must stay map-only: mean/direction are
    plan literals, so no KEYED exchange and no join may appear — the
    only tolerated Exchange is fan_out's RoundRobin (tiny-file scan
    widening, a no-op at scale).  A hashpartitioning exchange here
    would mean the fit leaked into the projection plan."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["pca_debias"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_cluster_balanced_sample_plan_shape(spark, sf_dir):
    """The quota window must prune map-side (WindowGroupLimit) before
    its cid exchange, and no corpus-wide nested-loop join may appear
    beyond the bounded corpus x centroid assignment steps (their
    broadcast side is the k-row centroid table)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["cluster_balanced_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    # vec_id-keyed BNLJ conditions would mean a corpus-corpus pairing
    for seg in plan.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.split("\n", 1)[0]
        assert "vec_id" not in head


def test_pq_train_codebooks_plan_shape(spark, sf_dir):
    """Scale pins for the r14 PQ trainer's REPORT pass (the training
    iterations are driver-loop scans that already ran by planning
    time): scoring both codebooks is one map-only corpus projection —
    no join of any kind, no shuffle beyond fan_out's source
    repartition plus the single (variant, subspace, code) hash-agg
    exchange pair — and both codebooks ride as parsed literals (no
    BroadcastExchange at test geometry)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["pq_train_codebooks"](spark, sf_dir)
    plan = formatted_plan(df)
    for bad in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert bad not in plan, bad
    import re

    # detail headers count each operator once (the tree repeats them)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 3, plan  # fan_out + agg partial/final


def test_pq_recall_report_plan_shape(spark, sf_dir):
    """Scale pins for the r14 PQ recall audit: all three search legs
    (exact L2, seed ADC, trained ADC) must broadcast the bounded
    query side against the corpus scan (BroadcastNestedLoopJoin on
    the vec_id<>qid condition — the pq_adc_topk/cosine_topk shape),
    every per-qid top-k must prune map-side (WindowGroupLimit), and
    no sort-merge join may appear (nothing co-shuffles two large
    sides; the hit joins are rank-list-sized)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["pq_recall_report"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_recall_report_plan_shape(spark, sf_dir):
    """Scale pins for the r14 lexical recall audit: the three rank
    lists share ONE stored tf index (read from its checkpoint: Scan
    ExistingRDD present, no parquet scan),
    candidate joins stay broadcast-hash (no corpus-side nested-loop
    pairing), and per-qid top-ks prune map-side.  SortMergeJoin is
    allowed ONLY for lexical_semantic_rrf's bounded <=|q|x2k
    full-outer fuse (full outer can't broadcast-hash), as pinned for
    that operator."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    df = QUERIES["bm25_recall_report"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "Scan ExistingRDD" in plan and "Scan parquet" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_plan_shapes(spark, sf_dir):
    """Scale pins for the r14 scalar-quantization family: the encode
    is map-only past the bounded range agg (no join anywhere), and the
    search carries int codes through the broadcast query pairing with
    a map-side-pruned per-qid top-k (the pq_adc_topk shape)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    enc = formatted_plan(QUERIES["sq8_quantize"](spark, sf_dir))
    for bad in ("Join", "CartesianProduct"):
        assert bad not in enc, bad

    srch = formatted_plan(QUERIES["sq8_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in srch  # bounded 50-query side
    assert "WindowGroupLimit" in srch
    assert "SortMergeJoin" not in srch


def test_ann_probe_sweep_plan_shape(spark, sf_dir):
    """Scale pins for the r15 nprobe sweep: ONE candidate fetch at
    max(ANN_PROBE_SET) rides a broadcast-hash join on cid (probes are
    window output — no size estimate, so unhinted this was a
    SortMergeJoin of the corpus against 400 rows), the level sweep is
    an in-row explode (no join per operating point), the 4-row level
    grid broadcasts onto the post-agg per-query frame (unhinted: a
    CartesianProduct), and every per-(nprobe, qid) top-k prunes
    map-side.  The BNLJs left are the bounded corpus x centroid
    assignment steps and the exact cosine leg (the ann_ivf /
    cosine_topk banked shapes)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["ann_probe_sweep"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_adc_topk_plan_shape(spark, sf_dir):
    """Scale pins for the r15 residual-ADC search: same shape as
    ann_ivf_adc's pinned plan — the bounded per-probe residual table
    frame broadcasts onto the corpus-side cid HASH join, per-qid top-k
    prunes map-side, and no sort-merge join or cartesian product
    appears anywhere (the BNLJs are the bounded corpus x centroid
    assignment steps)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["ivf_pq_adc_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_filtered_topk_plan_shape(spark, sf_dir):
    """Scale pin for r15 filtered vector search: the language equality
    is an equi-join KEY, so the query-corpus pairing must be a
    BroadcastHashJoin on (lang = qlang) — NOT cosine_topk's
    BroadcastNestedLoopJoin against every query — with the per-qid
    top-k pruned map-side.  This is the plan-level proof that the
    metadata filter makes filtered search cheaper, not costlier."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["ann_filtered_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_ivf_pq_rerank_topk_plan_shape(spark, sf_dir):
    """Scale pins for the r16 composed production retrieval query
    (IVF prefilter -> residual ADC -> exact re-rank): stage 1 keeps
    ivf_pq_adc_topk's pinned shape (bounded per-probe residual tables
    broadcast onto the corpus-side cid HASH join, candidate window
    pruned map-side), stage 2 fetches raw vectors BY KEY (the
    CAP-bounded candidate list broadcasts onto a vec_id hash join —
    never a second corpus pair-scan); no sort-merge join or cartesian
    anywhere."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["ivf_pq_rerank_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_probe_sweep_plan_shape(spark, sf_dir):
    """Scale pins for the r16 residual-path nprobe sweep: ONE
    candidate fetch at max(ANN_PROBE_SET) rides the broadcast-hash
    cid join (ivf_pq_adc_topk's pinned shape), the operating points
    are an in-row explode (no join per nprobe level), the level grid
    broadcasts onto the post-agg per-query frame, and every
    per-(nprobe, qid) top-k prunes map-side."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["ivf_pq_probe_sweep"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_shuffle_shards_plan_shape(spark, sf_dir):
    """The structural claim behind the r16 global training shuffle:
    the permutation is ONE hash exchange on shard + per-shard local
    sorts — no rangepartitioning exchange anywhere (ORDER BY rand()
    would plan a total-order range shuffle with a sampling pass,
    straggler-bound at 100 TB)."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["global_shuffle_shards"](spark, sf_dir))
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan


def test_adc_rerank_topk_plan_shape(spark, sf_dir):
    """Scale pins for the r15 two-stage retrieval: ONE code-column
    corpus pass feeds the ADC candidate window (map-side pruned), and
    the exact re-rank fetches raw vectors BY KEY — the CAP-bounded
    candidate list broadcasts onto a vec_id hash join, never a second
    corpus pair-scan; no sort-merge join or cartesian anywhere."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["adc_rerank_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rerank_cap_sweep_plan_shape(spark, sf_dir):
    """Scale pins for the r17 CAP sweep: ONE candidate fetch at
    max(RERANK_CAP_SET) (ivf_pq_adc_topk's pinned broadcast-hash cid
    shape, checkpointed), the exact re-rank d2 computed once per
    candidate via the BY-KEY raw-vector fetch (the bounded candidate
    list broadcasts onto a vec_id hash join — never a second corpus
    pair-scan), the cap operating points an in-row explode (no join
    per level), the 5-row cap grid broadcast onto the post-agg
    per-query frame, and every per-(cap, qid) top-k pruned map-side."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["rerank_cap_sweep"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_split_apply_plan_shape(spark, sf_dir):
    """Scale pins for the r17 split-apply step: the k-row plan and
    seed-vector tables ride broadcast HASH joins (seed vectors fetched
    BY KEY — the plan broadcasts onto a vec_id equi-join, never a
    corpus scan per seed), the one corpus-sized pass is the
    members-of-overfull-cells cid hash join, and the occupancy
    deltas are a hash aggregate — no sort-merge join, no cartesian,
    no per-cell window over the corpus."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["ivf_split_apply"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_bits_recall_report_plan_shape(spark, sf_dir):
    """Scale pins for the r17 codebook-bits rung: both variants keep
    pq_adc_topk's pinned shape — narrow code-column corpus passes
    against broadcast bounded query ADC tables, per-qid top-k pruned
    map-side; audit joins broadcast (no SMJ of post-window frames),
    no cartesian."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["pq_bits_recall_report"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
