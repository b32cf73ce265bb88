"""Text query patterns over the ``documents`` table.

Covers the reference's shipped query (word count, test/user_tasks.cc:12-35)
and the OSDI'04 catalog entries that are text-shaped (distributed grep,
inverted index), plus the north-star text-analysis operators: n-grams,
TF-IDF, language ID, quality scoring, token counting, fingerprinting.

Every function takes (spark, sf_dir) and returns a DataFrame whose column
names match the DuckDB oracle in __spark_entry__.oracle_sql().

Scale notes (100 TB design point):
- All token pipelines are explode + hash-agg — map-side partial
  aggregation halves shuffle volume automatically; no Python UDFs.
- Word/ngram keys follow a Zipf distribution → skewed reducers; AQE
  skew handling is on in session.py, and the aggregations are algebraic
  (partial sums), so skew only affects the final merge, not correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import bigrams_expr, tokens_expr
from ..sources.tables import _artifact, fan_out, load_table
from .dedup import (
    HOT_SHINGLE_DF_CAP,
    SHINGLE_PERSIST_MIN_BYTES,
    _input_bytes,
    _release_checkpoint,
    _rounds,
    _stored,
)

# Tiny embedded English stopword list used by the language-ID heuristic
# and quality scorer.  Must stay in sync with the inline list in the
# DuckDB oracle SQL.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "from", "that", "this",
)


def _docs_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no fan_out: tokenize+explode is cheap relative to an extra shuffle
    # of the raw text (measured at sf0.1); the agg after explode already
    # parallelizes the expensive part.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tokens_expr("text").alias("tokens"))


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's shipped word-count query.

    map = tokenize on the strtok delimiter class " ,.\"'" and emit
    (word, 1) (test/user_tasks.cc:12-23); reduce = sum
    (test/user_tasks.cc:30-35).  Here: explode + groupBy.count —
    Catalyst plans a partial count before the shuffle (the combiner the
    reference lacks) and a final count after it.
    """
    toks = _docs_tokens(spark, sf_dir)
    return (
        toks.select(F.explode("tokens").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep (OSDI §2.1): map emits the line if it matches;
    no reduce.  Pure filter — no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike("fast join")).select("doc_id", "text")


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (OSDI §2.1): word -> sorted distinct doc list.

    Doc list is emitted as a comma-joined string so the value hash is
    representation-stable across Spark and DuckDB.
    """
    toks = _docs_tokens(spark, sf_dir)
    return (
        toks.select("doc_id", F.explode("tokens").alias("word"))
        .groupBy("word")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_set("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("doc_ids"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def bigram_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token bigram frequencies (n-gram text analysis)."""
    toks = _docs_tokens(spark, sf_dir)
    return (
        toks.select(F.explode(bigrams_expr(F.col("tokens"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF: tf(d,w) * ln(N / df(w)).

    Two hash-aggs + one broadcast-ish join on word.  N is a scalar
    computed Spark-side (count of documents) — a driver-side literal,
    not a collect over data rows.
    """
    toks = _docs_tokens(spark, sf_dir)
    pairs = toks.select("doc_id", F.explode("tokens").alias("word"))
    tf = pairs.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # df(w) re-aggregates tf (one row per (doc, word) already) instead of
    # a countDistinct over the raw token stream: the second shuffle moves
    # |tf| rows, not |tokens|, and the tf exchange is reused for both.
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = load_table(spark, sf_dir, "documents").count()
    return (
        tf.join(df_, "word")
        .select(
            "doc_id",
            "word",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias("tfidf"),
        )
    )


COOC_WINDOW = 3  # co-occurrence window (token distance 1..3)
PMI_MIN_COUNT = 5  # report pairs with at least this many co-occurrence events


def word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed word co-occurrence + pointwise mutual information — the
    canonical MapReduce "pairs" design pattern (map: emit ((a,b), 1) for
    every token pair within distance W; reduce: sum), finished with the
    PMI association score pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ).

    Pair events are generated MAP-SIDE as a nested array transform over
    each doc's token array — no positions self-join (the oracle does the
    position join; here the same events come from one projection), so
    the event stream is |tokens|·W rows produced inside whole-stage
    codegen, then two algebraic hash-aggs (pair counts, unigram counts)
    and one broadcast of the two scalar totals, which re-aggregate the
    agg tables (sum of counts == event count) — checkpointed behind a
    size-aware switch so a corpus-scale input is scanned exactly twice.
    At 100 TB: event volume is linear in corpus tokens
    (W is a constant), both aggs get map-side partials, and the
    Zipf-skewed pair keys ride AQE skew handling like every other token
    agg here.  The min-count filter bounds the output to
    statistically-meaningful pairs.

    Probabilities use exact integer counts; the PMI double math mirrors
    the oracle's expression tree and is rounded to 6 decimals.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select(tokens_expr("text").alias("t"))
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.least(i + F.lit(COOC_WINDOW), F.size("t"))),
                lambda j: F.struct(
                    F.least(
                        F.element_at(F.col("t"), i), F.element_at(F.col("t"), j)
                    ).alias("wa"),
                    F.greatest(
                        F.element_at(F.col("t"), i), F.element_at(F.col("t"), j)
                    ).alias("wb"),
                ),
            ),
        )
    )
    ev = (
        toks.filter(F.size("t") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.wa", "p.wb")
    )
    # The pair-count and unigram tables each feed TWO consumers (the
    # PMI join and their scalar total).  Branch-specific optimization
    # canonicalizes the two subtrees differently, so Spark's exchange
    # reuse does NOT dedupe them (verified on the plan) and each total
    # re-runs the tokenize+explode+agg pipeline.  Behind the same
    # size-aware switch as the minhash shingle projection (re-scan wins
    # at local input sizes — measured 0.98 s vs 2.1 s at sf0.1, cache
    # materialization dominating; at 100 TB two extra corpus passes
    # dominate everything), the two agg tables are stored checkpoints,
    # pinning the corpus to exactly two scans; both are aggregate-sized
    # (distinct pairs / vocabulary), far below corpus scale, and the
    # local checkpoint spills to disk if a 100 TB vocabulary outgrows
    # memory.
    pc_all = ev.groupBy("wa", "wb").agg(F.count("*").alias("n_cooc"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    if _input_bytes(sf_dir, "documents", spark) >= SHINGLE_PERSIST_MIN_BYTES:
        pc_all = _stored(spark, sf_dir, "pmi_pairs", (), lambda pc=pc_all: pc)
        uni = _stored(spark, sf_dir, "pmi_uni", (), lambda u=uni: u)
    pc = pc_all.filter(F.col("n_cooc") >= PMI_MIN_COUNT)
    tot = pc_all.agg(F.sum("n_cooc").cast("double").alias("P")).crossJoin(
        uni.agg(F.sum("c").cast("double").alias("T"))
    )
    ua = uni.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("n_cooc").cast("double") / F.col("P"))
        / (
            (F.col("ca").cast("double") / F.col("T"))
            * (F.col("cb").cast("double") / F.col("T"))
        )
    )
    return (
        pc.join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("wa").alias("word_a"),
            F.col("wb").alias("word_b"),
            "n_cooc",
            F.round(pmi, 6).alias("pmi"),
        )
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: per-doc token count, distinct count, avg token length."""
    toks = _docs_tokens(spark, sf_dir)
    return toks.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_distinct"),
        F.round(
            F.aggregate(
                F.col("tokens"), F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
            )
            / F.greatest(F.size("tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("avg_token_len"),
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit ratio over tokens.

    predicted = 'en' if >= 8% of tokens are English stopwords else 'other'.
    (A real system would use char-ngram models; the heuristic keeps the
    operator oracle-checkable and UDF-free.)
    """
    toks = _docs_tokens(spark, sf_dir)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.array_intersect(F.col("tokens"), sw))
    # ratio over *distinct* tokens so Spark and SQL count identically
    distinct_n = F.greatest(F.size(F.array_distinct(F.col("tokens"))), F.lit(1))
    ratio = hits.cast("double") / distinct_n.cast("double")
    return toks.select(
        "doc_id",
        F.round(ratio, 6).alias("stopword_ratio"),
        F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("predicted_lang"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, punctuation ratio, mean token
    length — a linear score clamped to [0, 1].

    score = min(1, n_tokens/100) * 0.5 + (1 - punct_ratio) * 0.3
            + min(1, avg_len/8) * 0.2

    (Single definition: functions.text.quality_signals — shared with
    the curation gate, corpus_summary, and the streaming ingest gate.)
    """
    from ..functions.text import quality_signals

    docs = load_table(spark, sf_dir, "documents")
    q = quality_signals("text")
    return docs.select(
        "doc_id",
        q.n_tokens.cast("long").alias("n_tokens"),
        # no rounding: both engines evaluate the identical IEEE expression
        # tree per row, so raw doubles are bit-identical; rounding is what
        # introduces divergence at decimal-boundary values.
        q.punct_ratio.alias("punct_ratio"),
        q.quality.alias("quality"),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized, lowercased
    text — the exact-dedup key for content-identical docs."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp"))


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both ways the brief names: whitespace tokens and a
    BPE-ish regex tokenization (\\w+ runs | single non-space symbols) —
    the pre-tokenizer shape GPT-style BPE vocabularies assume."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda x: F.length(x) > 0)
    bpe = F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
    )


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash (Rabin-Karp, base 31 mod 1e9+7) over the
    document characters — the incremental fingerprint the brief names,
    computed entirely JVM-side with one fold, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(
        "aggregate(split(text, ''), cast(0 as bigint), "
        "(h, c) -> (h * 31 + ascii(c)) % 1000000007)"
    )
    return docs.select("doc_id", h.alias("rk_hash"))


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene pass: mask email-shaped tokens and long
    digit runs in document text, reporting per-doc match counts.

    All regex work is JVM-side ``regexp_replace``/``regexp_count`` —
    the patterns are kept to the RE2-compatible subset so the DuckDB
    oracle runs the identical expressions.  Scale: narrow map-only
    pipeline, no shuffle, streams with the parquet scan.
    """
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    longnum = r"[0-9]{3,}"
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), longnum, "<NUM>"
        ).alias("clean_text"),
        F.regexp_count("text", F.lit(email)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(longnum)).cast("long").alias("n_longnums"),
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep 50% of English docs and
    10% of every other language, selected by content hash (md5 of the
    doc id) — reproducible across engines and runs, unlike seeded
    ``sampleBy``.  Scale: map-only filter; the hash predicate pushes
    into the scan's data filters, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 50).otherwise(10)
    return docs.filter(bucket < rate).select("doc_id", "lang")


# BPE merge induction: number of merge rules to learn, and the minimum
# pair weight worth merging (a pair seen once cannot generalize).
BPE_NUM_MERGES = 20
BPE_MIN_PAIR = 2


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first K byte-pair-encoding merge rules from the corpus
    — the vocabulary-induction step of a BPE tokenizer (Sennrich et al.
    2016), the iterative-text-algorithm complement to bpe_token_count's
    fixed regex.

    Distribution shape: ONE corpus scan builds the (word, freq)
    vocabulary table; every one of the K iterations then runs over the
    VOCAB (corpus-size-independent), exactly like the reference BPE
    trainer's word-frequency preprocessing.  Per round: adjacent
    symbol-pair counts via zip_with (one vocab-sized hash-agg, weighted
    by word freq), a global argmax (a 1-row collect — the merge decision
    is an inherently global scalar, picked on the driver between
    rounds), and a leftmost-first non-overlapping merge applied with an
    ANSI-safe HOF aggregate fold (F.get returns NULL out-of-bounds, no
    Python in the loop).  The fold is the round step of
    :func:`~..operators.dedup._rounds`, so each round's vocab is one
    eager localCheckpoint (plans stay constant-size across iterations)
    and the previous round's blocks are released.

    Ties break on (count desc, left asc, right asc) — fully
    deterministic.  Verified two ways: against a pure-Python reference
    trainer (tests/test_bpe.py) and, since r11, against an exact
    unrolled-CTE DuckDB oracle (__spark_entry__._bpe_merges_sql) in
    which the sequential skip-flag fold below is restated as its
    closed form (greedy picks alternate within each run of consecutive
    match positions) — so the op is no longer rows-only.
    """
    toks = _docs_tokens(spark, sf_dir)
    build = (
        toks.select(F.explode("tokens").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(F.expr("split(word, '')").alias("s"), "freq")
    )
    pair_struct = "array<struct<l:string,r:string>>"
    merges: list[tuple[int, str, str, int]] = []

    def fold(vocab: DataFrame, _round_no: int) -> DataFrame:
        _, left, right, _ = merges[-1]
        tok = left + right
        merged = F.aggregate(
            F.sequence(F.lit(0), F.size("s") - 1),
            F.struct(
                F.array().cast("array<string>").alias("out"),
                F.lit(False).alias("skip"),
            ),
            lambda acc, i: F.when(
                acc["skip"],
                F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
            ).otherwise(
                F.when(
                    (F.get(F.col("s"), i) == F.lit(left))
                    & (F.get(F.col("s"), i + 1) == F.lit(right)),
                    F.struct(
                        F.concat(acc["out"], F.array(F.lit(tok))).alias("out"),
                        F.lit(True).alias("skip"),
                    ),
                ).otherwise(
                    F.struct(
                        F.concat(
                            acc["out"], F.array(F.get(F.col("s"), i))
                        ).alias("out"),
                        F.lit(False).alias("skip"),
                    )
                )
            ),
        )
        return vocab.select(merged["out"].alias("s"), "freq")

    for rank, vocab, _ in _rounds(build, fold, ["s", "freq"]):
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    F.when(
                        F.size("s") >= 2,
                        F.zip_with(
                            F.slice("s", 1, F.size("s") - 1),
                            F.slice("s", 2, F.size("s") - 1),
                            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                        ),
                    ).otherwise(F.array().cast(pair_struct))
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not best or best[0]["cnt"] < BPE_MIN_PAIR:
            break
        merges.append((rank, best[0]["l"], best[0]["r"], int(best[0]["cnt"])))
        if len(merges) == BPE_NUM_MERGES:
            break
    _release_checkpoint(vocab)
    return spark.createDataFrame(
        merges, schema="rank long, left string, right string, pair_count long"
    )


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: the OLS slope (and
    intercept / R²) of ln(freq) against ln(rank), rank ordered by
    frequency desc with word-asc tie-break.  The slope is the standard
    one-number corpus-health diagnostic (natural text sits near −1;
    boilerplate-heavy or templated corpora flatten it) — a curation
    dashboard statistic computed entirely in-engine.

    Scale shape: one explode + one vocabulary-sized hash agg (Heaps'
    law: vocab ≪ tokens), then the TWO-PASS distributed rank over the
    vocab (same scheme as relational.global_rank: range-partition on
    the sort key, local row_number, tiny per-partition offset table
    broadcast back — a naive global row_number window would collapse
    the multi-billion-term vocabulary of a 100 TB corpus onto one
    partition), then one algebraic regression agg (regr_* are
    sum-decomposable — partials run map-side).  Output is a single row.
    """
    ex = _docs_tokens(spark, sf_dir).select(F.explode("tokens").alias("w"))
    freq = ex.groupBy("w").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    from ..session import two_pass_rank_width

    width = two_pass_rank_width(spark)
    ranged = freq.repartitionByRange(
        width, F.col("c").desc(), F.col("w").asc()
    ).sortWithinPartitions(F.col("c").desc(), F.col("w").asc())
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy("_pid").orderBy(F.desc("c"), F.asc("w"))
    local = with_pid.withColumn("_local_rn", F.row_number().over(w_local))
    # the ranked table feeds TWO consumers (the offset counts and the
    # final join) and branch-specific optimization defeats exchange
    # reuse — without the stored checkpoint the offsets branch re-runs
    # the whole corpus tokenize+explode+agg (verified on the plan).  It
    # is vocab-sized, safe to materialize at any corpus scale.
    # (Contrast relational.global_rank, where the double-consumed input
    # is a bare 2-column parquet scan and re-scanning beats caching.)
    local = _stored(spark, sf_dir, "zipf_ranked", (width,), lambda r=local: r)
    counts = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    )
    ranked = local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid").select(
        "w", "c", (F.col("_local_rn") + F.col("_off")).alias("rnk")
    )
    ln_c = F.log(F.col("c").cast("double"))
    ln_r = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_vocab"),
        F.round(F.regr_slope(ln_c, ln_r), 6).alias("slope"),
        F.round(F.regr_intercept(ln_c, ln_r), 6).alias("intercept"),
        F.round(F.regr_r2(ln_c, ln_r), 6).alias("r2"),
    )


def langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID (the stopword-hit
    rule of :func:`language_id`) against the corpus's labeled ``lang``
    column — per (actual, predicted) doc counts and the within-actual
    share.  The eval table any classifier-driven curation gate ships
    with: it turns "we filter by predicted language" into a measured
    error budget per true language.

    Scale shape: the per-doc prediction is the same codegen expression
    as language_id (no join with it — one corpus pass), then one tiny
    (|langs| x 2)-row algebraic agg; the share window runs over that
    aggregate only.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.col("tokens")
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    distinct_n = F.greatest(F.size(F.array_distinct(toks)), F.lit(1))
    ratio = F.size(F.array_intersect(toks, sw)).cast("double") / distinct_n.cast(
        "double"
    )
    pred = docs.select("lang", tokens_expr("text").alias("tokens")).select(
        "lang",
        F.when(ratio >= 0.08, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("predicted_lang"),
    )
    cell = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = Window.partitionBy("lang")
    return cell.select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(tot).cast("double"),
            6,
        ).alias("share_of_lang"),
    )


def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE SEGMENTATION stats per document: sentence count, mean
    sentence length in tokens (raw double — int/int), and the longest
    sentence's token count — the readability / formatting screen that
    catches run-on machine-generated text (one 400-token "sentence")
    and chopped boilerplate (hundreds of 2-token fragments), neither
    of which token-level quality_score sees.

    Sentences split on the [.!?] class, empties dropped (the strtok
    convention applied at sentence granularity); token counts reuse
    the module tokenizer on each sentence.  All counts integers; both
    engines run the same regex split.

    Scale shape: pure per-row array expressions (split → filter →
    transform → aggregate folds) in whole-stage codegen — a map-only
    corpus pass, no shuffle at all.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    tok_counts = F.transform(sents, lambda s: F.size(tokens_expr(s)))
    return docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.aggregate(
            tok_counts, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("n_tokens"),
        F.aggregate(
            tok_counts, F.lit(0).cast("long"),
            lambda a, x: F.greatest(a, x.cast("long")),
        ).alias("max_sentence_tokens"),
        F.when(
            F.size(sents) > 0,
            F.aggregate(tok_counts, F.lit(0).cast("long"), lambda a, x: a + x)
            / F.size(sents),
        ).otherwise(F.lit(0.0)).alias("avg_sentence_tokens"),
    )


def readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH-STYLE READABILITY PROXY per document: reading-ease score
    computed from words-per-sentence and characters-per-word (the
    chars/3 syllable proxy — no dictionary needed), the doc-level
    quality feature a curation pipeline thresholds next to
    quality_score's token ratios.  Low scores flag run-on legalese
    and machine-generated walls; implausibly high scores flag
    fragment spam — both invisible to token-level screens.

    score = 206.835 − 1.015·(W/S) − 84.6·((C/W)/3)

    Exactness: S, W, C are integers (the sentence_stats [.!?] split
    and the module tokenizer, both already driver-verified); each
    ratio is one exact int/int double division, each product one
    multiplication by the same literal, and the subtraction tree is
    written identically in both engines — bit-identical before the
    final round(4).  Zero-sentence/zero-word docs emit 0.0 rather
    than dividing by zero.

    Scale shape: pure per-row array expressions in whole-stage
    codegen — a map-only corpus pass, no shuffle at all (the
    sentence_stats shape).
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    toks = tokens_expr("text")
    n_s = F.size(sents).cast("long")
    n_w = F.size(toks).cast("long")
    n_c = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_w / n_s)
        - F.lit(84.6) * ((n_c / n_w) / F.lit(3.0))
    )
    return docs.select(
        "doc_id",
        n_s.alias("n_sentences"),
        n_w.alias("n_words"),
        n_c.alias("n_chars"),
        F.when((n_s > 0) & (n_w > 0), F.round(score, 4))
        .otherwise(F.lit(0.0))
        .alias("reading_ease"),
    )


# BM25 retrieval (r13): Lucene's BM25 variant — idf(t) =
# ln(1 + (N - df + 0.5)/(df + 0.5)) (never negative), k1/b the standard
# Robertson defaults, query term frequency ignored (the k3 -> 0 form —
# queries here are whole documents, but repeating a term in the query
# should not multiply its contribution).  Terms with df > BM25_DF_CAP_FRAC
# of the corpus are statically pruned from the QUERY side — the
# block-max-WAND idea reduced to its zero-state core: the hottest
# posting lists (stopword-class terms with near-zero idf) never enter
# the candidate join, which is what bounds candidate volume at 100 TB.
# The cap is 0.9 because the synthetic corpus is a ~31-word vocabulary
# where EVERY content word sits at df/N ~ 0.8 (a 0.5 cap leaves one
# term corpus-wide); a real Zipf-tailed corpus runs 0.1-0.5.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_QUERIES = 20
BM25_TOPK = 5
BM25_DF_CAP_FRAC = 0.9


def _bm25_index(spark: SparkSession, sf_dir: str):
    """The shared BM25 index (bm25_topk + bm25_pruned_topk + the
    lexical legs): (n_docs, avgdl, tf, df_) — corpus size, average doc
    length (exact int/int IEEE division of driver-collected integer
    scalars), the checkpointed (doc_id, dl, word, tf) inverted index,
    and the per-word document frequencies — or None on an empty
    corpus.  Built once per documents file through the build-once
    store, so a warm call collects no scalar and re-runs no tokenize."""

    def build():
        n_docs = load_table(spark, sf_dir, "documents").count()
        if n_docs == 0:
            return None
        toks = _docs_tokens(spark, sf_dir)
        # dl(d) == size of d's token array == sum of tf over d's words:
        # the doc length rides the tf shuffle as a functionally-dependent
        # key, so NO separate doc-length agg or doc_id join exists in the
        # plan (the first cut's dl chain re-ran the tokenize pipeline and
        # joined corpus-side — measured 11.3 s -> ~4 s at sf0.1 with
        # this shape).
        total_tokens = (
            toks.agg(F.sum(F.size("tokens"))).collect()[0][0] or 0
        )  # one map-only scan; no tokenize re-run hides behind an agg table
        avgdl = total_tokens / n_docs  # exact int/int IEEE division
        pairs = toks.select(
            "doc_id", F.size("tokens").cast("long").alias("dl"),
            F.explode("tokens").alias("word"),
        )
        # Checkpointed UNCONDITIONALLY (unlike the size-gated
        # corpus-linear shingle frames): tf is aggregate-sized (distinct
        # (doc, word) pairs — vocabulary-bounded per doc) and THREE
        # branches plus the driver never re-run the tokenize pipeline;
        # branch-specific optimization defeats exchange reuse here (the
        # documented gotcha).
        tf = (
            pairs.groupBy("doc_id", "dl", "word")
            .agg(F.count("*").alias("tf"))
            .localCheckpoint(eager=False)
        )
        df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
        return n_docs, avgdl, tf, df_

    return _artifact(spark, sf_dir, "documents", "bm25_index", (), build)


def _bm25_idf(n_docs: int):
    """Lucene idf over the joined ``df`` column — never negative."""
    return F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )


def _bm25_tfn(avgdl: float):
    """Saturating tf normalization over the ``tf``/``dl`` columns."""
    return (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
    )


def _bm25_query_terms(n_docs: int, tf: DataFrame, df_: DataFrame) -> DataFrame:
    """The df-capped query-terms frame (qid, word, df) — bounded by
    |queries| x query vocabulary, always the broadcast side."""
    return (
        tf.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(F.col("doc_id").alias("qid"), "word")
        .join(df_, "word")
        .filter(F.col("df") <= F.lit(BM25_DF_CAP_FRAC) * F.lit(float(n_docs)))
    )


def _bm25_rank(cand: DataFrame) -> DataFrame:
    """Fixed word-order score fold + per-qid top-k over a candidate
    frame carrying (qid, doc_id, word, s)."""
    scored = cand.groupBy("qid", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("word", "s"))),
            F.lit(0.0),
            lambda a, x: a + x["s"],
        ).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= BM25_TOPK)
        .select("qid", "doc_id", F.round("score", 6).alias("bm25"), "rn")
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 corpus docs per query doc (doc_id < BM25_N_QUERIES) —
    the lexical half of hybrid retrieval (cosine_topk/ann_* are the
    semantic half; lexical_semantic_rrf fuses the two spaces).

    Scale shape (100 TB): the tf table (one row per (doc, word)) is the
    inverted index — built with one explode + hash-agg, checkpointed
    once per documents file because THREE branches plus the driver
    read it (document frequencies, the postings side of the candidate
    join, and the query projection).  The query side (query terms x attached df, bounded by
    |queries| x query vocabulary) is BROADCAST into the postings join,
    so the corpus-sized side never shuffles for the join; candidate
    volume is sum over kept query terms of df(t), bounded by the df cap.
    Per-(query, doc) scores then hash-agg with a per-group top-k window
    (map-side WindowGroupLimit prunes before the single qid exchange).

    Exactness: tf, df, dl are exact integers; N and avgdl are driver
    literals derived from exact integer counts (one bounded scalar
    collect); each per-term score is one fixed expression tree over
    those values, and the per-pair score folds the term scores in
    ascending word order (array_sort + left fold — the pq_adc_topk
    fixed-order discipline), so both engines add the same doubles in
    the same order.  Exact duplicate docs therefore score bit-equal and
    tie-break on doc_id identically in both engines.
    """
    schema = "qid long, doc_id long, bm25 double, rn long"
    idx = _bm25_index(spark, sf_dir)
    if idx is None:
        return spark.createDataFrame([], schema=schema)
    n_docs, avgdl, tf, df_ = idx
    qt = _bm25_query_terms(n_docs, tf, df_)
    cand = (
        tf.join(F.broadcast(qt), "word")
        .filter(F.col("doc_id") != F.col("qid"))
        .select(
            "qid", "doc_id", "word",
            (_bm25_idf(n_docs) * _bm25_tfn(avgdl)).alias("s"),
        )
    )
    return _bm25_rank(cand)


# Static index pruning: keep only the top-BM25_POSTINGS_CAP postings
# per term by IMPACT — the per-posting BM25 contribution idf(t)·tfn,
# which is query-independent, so the pruned index is built once.  The
# impact-ordered early-termination move (Anh & Moffat's impact
# ordering reduced to its static core): the df cap bounds HOW MANY
# posting lists a query opens, the postings cap bounds HOW LONG each
# one is, so candidate volume is <= |query terms| x CAP regardless of
# corpus size.  Honest recall note: the synthetic ~31-word corpus is
# static pruning's WORST case — every term appears in ~every doc, so
# at sf0.1 (df ~ 4000 >> CAP) the pruned pool is the ~CAP highest-tf
# short docs and overlaps 0/100 with the exact top-5 (measured; the
# oracle pins the semantics bit-for-bit either way).  On a Zipf
# corpus the cut postings are the low-impact tail and verbatim
# near-dups survive (pinned in the planted-corpus test); production
# tunes CAP against a recall audit exactly like nprobe for IVF.
BM25_POSTINGS_CAP = 64


def bm25_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 over the impact-pruned index — same query/scoring
    semantics as :func:`bm25_topk`, but each term's posting list is
    statically truncated to its BM25_POSTINGS_CAP highest-impact
    postings (ties to lower doc_id).  Recall vs the exact ranking is
    the documented trade (audit by diffing with bm25_topk — high-tf
    short docs survive; low-impact tail postings are the ones cut);
    the win is a hard per-term candidate bound.

    Scale shape: the prune is one per-word window over the stored
    tf index that prunes map-side via WindowGroupLimit (Zipf-hot words
    are exactly the ones the cap truncates hardest), and everything
    downstream runs on the <= vocab x CAP pruned index instead of the
    full postings.  Exactness: impacts are the same fixed expression
    tree both engines rank (ints in, one expression out; equal-impact
    ties break on doc_id), and scoring replays the bm25_topk fold.
    """
    schema = "qid long, doc_id long, bm25 double, rn long"
    idx = _bm25_index(spark, sf_dir)
    if idx is None:
        return spark.createDataFrame([], schema=schema)
    n_docs, avgdl, tf, df_ = idx
    impact = (_bm25_idf(n_docs) * _bm25_tfn(avgdl)).alias("s")
    wp = Window.partitionBy("word").orderBy(F.desc("s"), F.col("doc_id"))
    pruned = (
        tf.join(df_, "word")
        .select("word", "doc_id", "dl", "tf", "df", impact)
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= BM25_POSTINGS_CAP)
    )
    qt = _bm25_query_terms(n_docs, tf, df_).select("qid", "word")
    cand = (
        pruned.join(F.broadcast(qt), "word")
        .filter(F.col("doc_id") != F.col("qid"))
        .select("qid", "doc_id", "word", "s")
    )
    return _bm25_rank(cand)


def lexical_semantic_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval over the document space: fuse the BM25 lexical
    ranking (:func:`bm25_topk`) with a 3-gram-shingle Jaccard ranking
    of the SAME query docs by reciprocal-rank fusion — the
    similarity.rrf_fusion pattern applied across retrieval *modalities*
    instead of across two vector indexes.  A training-data curation
    stack uses exactly this shape to hedge lexical misses against
    surface-overlap misses when hunting near-duplicates of benchmark
    prompts.

    Exactness: the Jaccard side is integer set algebra over the
    HOT_SHINGLE_DF_CAP-capped shingle sets (the ngram_jaccard_neardup
    semantics — cap applied BEFORE counting, so both engines rank the
    same exact rationals); the BM25 side is the fixed-order fold from
    bm25_topk; each fused score is at most ONE IEEE addition of two
    exact divisions (commutative — order-free), and all rank ties
    break on doc_id.

    Scale shape: the capped per-doc shingle lists are a projection of
    the stored shingle-list index (dedup._shingle_lists over
    dedup._doc_shingles — one shingle pass per documents file, shared
    with the near-dup operators; the hot cap is an in-row filter on
    each list's df).  Sizes are ``size(s)`` projections carried
    THROUGH the candidate join as group keys (no size join), the query
    side explodes the <BM25_N_QUERIES slice (broadcast-bounded), and
    the candidate join explodes the stored lists instead of
    re-tokenizing the corpus.  Candidate volume is bounded by the df
    cap exactly as in ngram_jaccard_neardup, and both per-query
    rankings prune map-side via WindowGroupLimit before their single
    qid exchange.  Same capped shingle sets -> same exact rationals ->
    the oracle gate is unchanged.
    """
    from .dedup import _shingle_lists
    from .similarity import RRF_K

    bm = bm25_topk(spark, sf_dir).select("qid", "doc_id", F.col("rn").alias("rb"))
    by_doc = _shingle_lists(spark, sf_dir, HOT_SHINGLE_DF_CAP)
    qsh = by_doc.filter(F.col("doc_id") < BM25_N_QUERIES).select(
        F.col("doc_id").alias("qid"),
        F.col("n").alias("nq"),
        F.explode("s").alias("shingle"),
    )
    inter = (
        by_doc.select("doc_id", "n", F.explode("s").alias("shingle"))
        .join(F.broadcast(qsh), "shingle")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "nq", "doc_id", "n")
        .agg(F.count("*").alias("i"))
    )
    jac = inter.select(
        "qid",
        "doc_id",
        (F.col("i").cast("double") / (F.col("nq") + F.col("n") - F.col("i"))).alias("j"),
    )
    wj = Window.partitionBy("qid").orderBy(F.desc("j"), F.col("doc_id"))
    jtop = (
        jac.withColumn("rj", F.row_number().over(wj).cast("long"))
        .filter(F.col("rj") <= BM25_TOPK)
        .select("qid", "doc_id", "rj")
    )
    fused = bm.join(jtop, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rb")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rj")), F.lit(0.0))
        ).alias("rrf"),
        (
            F.col("rb").isNotNull().cast("int") + F.col("rj").isNotNull().cast("int")
        ).cast("long").alias("n_lists"),
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf"), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= BM25_TOPK)
        .select("qid", "doc_id", F.round("rrf", 6).alias("rrf"), "n_lists", "fused_rank")
    )


def bm25_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the LEXICAL retrieval legs against the
    exact BM25 ranking — (index, qid, n_exact, n_hit, recall): how many
    of :func:`bm25_topk`'s true top-5 the impact-pruned
    :func:`bm25_pruned_topk` and the hybrid
    :func:`lexical_semantic_rrf` each recovered.  The
    similarity.ann_recall_report pattern applied to the lexical leg
    (VERDICT r13 #5): BM25_POSTINGS_CAP becomes a measurable operating
    point exactly like nprobe for IVF, instead of a docstring note.

    The synthetic ~31-word corpus is static pruning's worst case
    (every term in ~every doc), so the pruned leg's recall here is the
    documented floor; tests/test_round14_ops.py adds a Zipf-planted
    corpus where the cap cuts only the low-impact tail and recall is
    high — the two fixtures bracket the CAP <-> recall trade.

    Scale shape: all inputs are already-bounded (|queries| x k)-row
    rank lists sharing ONE stored tf index (the build-once store's
    bm25_index entry), so the intersections, aggs, and left joins are
    query-set-sized regardless of corpus size.  Exactness: counts are
    integers; recall is one exact int/int IEEE division.
    """
    exact = bm25_topk(spark, sf_dir).select("qid", "doc_id")
    per_q = exact.groupBy("qid").agg(F.count("*").alias("n_exact"))

    def one(index_name: str, approx: DataFrame) -> DataFrame:
        # rank-list-sized joins: broadcast explicitly — post-agg/window
        # frames carry no size estimates (the r14 pq_recall_report pin)
        hits = (
            exact.join(
                F.broadcast(approx.select("qid", "doc_id")), ["qid", "doc_id"]
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

    return one("pruned", bm25_pruned_topk(spark, sf_dir)).unionByName(
        one("rrf", lexical_semantic_rrf(spark, sf_dir))
    )
