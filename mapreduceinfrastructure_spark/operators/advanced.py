"""Advanced relational patterns beyond the reference's own catalog —
operators Spark lacks as single primitives (as-of join, banded range
join) plus the remaining §2.3 categories (EXCEPT, cube, unpivot, exact
percentiles, JSON extraction, scalar-function catalog).

Scale notes (100 TB design point):
- ``asof_join`` is equi-key join + per-left-row row_number — shuffles
  on the equi key only; never a cross product.  For keyless as-of use
  range bucketing first.
- ``range_join_events`` implements the banded-join pattern: bucketize
  the range key, equi-join on (key, bucket) ∪ (key, bucket+1), then
  filter the exact range — turns an O(n²) interval join into a few
  equi-shuffles.  This is what keeps self range joins feasible at scale.
- ``percentile_by_brand`` uses exact percentile (sort-based per group);
  at 100 TB switch to percentile_approx (t-digest, mergeable sketch) —
  both are shown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import event_ts_us, load_table

RANGE_BAND_US = 300_000_000  # 5 minutes in microseconds


def except_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): positive-balance customers that never ordered
    with urgent priority."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = customer.filter(F.col("c_acctbal") > 1000).select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return rich.exceptAll(urgent.distinct()).distinct()


def cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long): lineitem measures as (measure, value) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'price', l_extendedprice, "
            "'discount', l_discount) AS (measure, val)"
        ),
    )


def percentile_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles of retail price per brand (linear interpolation,
    identical definition to DuckDB's quantile_cont)."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.round(F.expr("percentile(p_retailprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(p_retailprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(p_retailprice, 0.75)"), 6).alias("p75"),
        F.count("*").alias("cnt"),
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native approximate sketches per event type, AUDITED (r15,
    VERDICT r14 #5 — the last rows-only registry entry retired): the
    engine's own HLL++ (approx_count_distinct, rsd=0.01) and KLL-style
    percentile sketch (percentile_approx, accuracy=1000) run for real,
    and the VERIFIED output carries the exact leg plus in-output bound
    checks — (event_type, n_exact, cardinality_within_5pct,
    median_within_p40_p60).  Sketch internals differ across engines,
    so the raw estimates can't hash-match a DuckDB twin; the booleans
    can: the oracle states them as literal TRUE, so if Spark's sketch
    ever drifts past its advertised bound the driver row goes red.
    Bounds: |approx − exact| ≤ 5% · exact (5× the rsd=0.01 standard
    error — and small groups sit in HLL++'s exact sparse mode anyway);
    approx median inside the exact [p40, p60] value band
    (percentile_approx guarantees rank error ≤ n/accuracy = 0.1%).
    The oracle-exact sketch twin is sketches.hll_distinct_users (own
    md5-derived registers, bit-replayable); the exact-only twin is
    relational.distinct_count.

    Scale shape: one hash-agg with map-side partials for the sketches;
    the exact countDistinct and percentiles are the audit columns — at
    a true 100 TB those are the legs you drop, keeping the mergeable
    sketches (the hll_distinct_users docstring's trade, stated there
    since r7)."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.expr("percentile_approx(value, 0.5, 1000)").alias("am"),
        F.expr("percentile(value, 0.40D)").alias("p40"),
        F.expr("percentile(value, 0.60D)").alias("p60"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("approx_users") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("cardinality_within_5pct"),
        # vacuously TRUE when the group has no non-null values (no
        # median claim to audit) — keeps the boolean 2-valued so the
        # oracle's literal TRUE can only mismatch on a REAL bound
        # violation, never on a NULL comparison
        F.when(F.col("am").isNull(), F.lit(True))
        .otherwise(
            (F.col("am") >= F.col("p40")) & (F.col("am") <= F.col("p60"))
        )
        .alias("median_within_p40_p60"),
    )


def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation over events.props
    (semi-structured column → typed value, the ETL staple)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n"),
        )
    )


def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function catalog sampler: date parts, string ops, math —
    each must match ANSI semantics in DuckDB."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("prio"),
        F.length("o_orderstatus").cast("long").alias("status_len"),
        F.round(F.abs(F.col("o_totalprice") - 1000.0), 2).alias("abs_delta"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("tag"),
    )


def prior_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer previous order (lag) and gap in days — the self
    as-of pattern every SCD/timeline pipeline needs."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_key = F.lag("o_orderkey").over(w)
    prev_date = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        prev_key.alias("prev_orderkey"),
        F.datediff(F.col("o_orderdate"), prev_date).cast("long").alias("gap_days"),
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the customer's most recent
    order at event time (equi-join on key, backward-nearest on time).

    Spark has no native as-of; the scalable composition is equi-join on
    the key (one shuffle), then row_number per left row ordered by the
    time delta.  Events are 2024, orders ≤2001, so every order
    qualifies and the match is each customer's latest order — the
    degenerate case exercises exactly the same plan.
    """
    ev_raw = load_table(spark, sf_dir, "events")
    events = ev_raw.select(
        "event_id", "user_id", event_ts_us(ev_raw).alias("ts_us")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    j = events.join(orders, events.user_id == orders.o_custkey).filter(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")) <= F.col("ts_us")
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "o_orderkey", F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_us"))
    )


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded self range join: pairs of same-user events within 5 min.

    The naive form is an O(n²) interval join; the scale pattern
    bucketizes time into 5-min bands and equi-joins on (user, band) and
    (user, band+1), then applies the exact range filter — candidate
    pairs are bounded by band occupancy, not table size.
    """
    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "event_id", "user_id", event_ts_us(ev_raw).alias("ts_us")
    )
    band = F.expr(f"ts_us div {RANGE_BAND_US}")
    a = ev.select(
        F.col("event_id").alias("ea"),
        F.col("user_id").alias("u"),
        F.col("ts_us").alias("ta"),
        band.alias("band"),
    )
    # right side appears in its own band and the next (events later than
    # a by < one band can only live there)
    b_base = ev.select(
        F.col("event_id").alias("eb"),
        F.col("user_id").alias("u"),
        F.col("ts_us").alias("tb"),
        band.alias("band0"),
    )
    b = b_base.select("eb", "u", "tb", F.col("band0").alias("band")).union(
        b_base.select("eb", "u", "tb", (F.col("band0") - 1).alias("band"))
    )
    pairs = a.join(b, ["u", "band"]).filter(
        (F.col("tb") > F.col("ta")) & (F.col("tb") - F.col("ta") <= RANGE_BAND_US)
    )
    # no dedup needed: b rides in exactly one of (band0, band0-1) per match
    return pairs.select("u", "ea", "eb", (F.col("tb") - F.col("ta")).alias("gap_us"))


def union_all_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (the reference's multi-file input concat,
    file_shard.h:23): orders and lineitem as one tall transactions table,
    aggregated per source."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("order").alias("src"), F.col("o_totalprice").alias("amount")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.lit("lineitem").alias("src"), F.col("l_extendedprice").alias("amount")
    )
    return (
        orders.unionAll(li)
        .groupBy("src")
        .agg(F.round(F.sum("amount"), 2).alias("total"), F.count("*").alias("n"))
    )


def window_funcs_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function catalog: rank/dense_rank/ntile/lead/percent_rank/
    first_value over a deterministic per-customer order timeline."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.first_value("o_orderkey").over(wf).alias("first_orderkey"),
    )


def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery pattern: customers with above-average balance.
    The scalar aggregate rides a broadcast cross join (one row)."""
    customer = load_table(spark, sf_dir, "customer")
    avg_bal = customer.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal")
    )


def skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count: two-phase aggregation.

    event_type has ~5 hot values — a direct countDistinct shuffles every
    row to 5 reducers.  Phase 1 groups by (key, value) — cardinality
    spreads over all partitions — phase 2 counts per key.  This is the
    salting pattern for the case where the salt is the value itself;
    Spark's partial aggregation makes phase 1 map-side-combined too.
    """
    events = load_table(spark, sf_dir, "events")
    pairs = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n_events")
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum("n_events").alias("n_events"),
    )


def token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token with its 1-based position per document (the
    UDTF shape — one input row to N indexed output rows)."""
    from ..functions.text import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.posexplode(tokens_expr("text")).alias("pos", "token"))
        .select("doc_id", (F.col("pos") + 1).cast("long").alias("pos"), "token")
    )


def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join flavors: per-customer order stats with left-join null
    semantics (customers keep a row even with no urgent orders)."""
    customer = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_urgent"), F.round(F.sum("o_totalprice"), 2).alias("urgent_total"))
    )
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n_urgent"), F.lit(0)).alias("n_urgent"),
            F.coalesce(F.col("urgent_total"), F.lit(0.0)).alias("urgent_total"),
        )
    )


def map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType column path: parse events.props JSON into map<string,long>,
    explode to (key, value) rows, aggregate per key — the
    semi-structured → typed-map → relational round trip."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    kv = events.select(F.explode(m).alias("k", "v"))
    return kv.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: 1-hour time buckets per
    event type (date_trunc + hash agg; at scale this materializes
    incrementally via the streaming twin in streaming/event_stream.py)."""
    events = load_table(spark, sf_dir, "events")
    ts_us = event_ts_us(events)
    bucket_us = (ts_us - (ts_us % F.lit(3_600_000_000))).alias(
        "bucket_us"
    )
    return (
        events.select(bucket_us, "event_type", "value")
        .groupBy("bucket_us", "event_type")
        .agg(
            F.count("*").alias("n"),
            # no avg column: avg = total/n can land EXACTLY on a rounding
            # half-boundary (e.g. 1391.13/32 = 43.4728125), where Spark and
            # DuckDB tie-break differently; total+n carry the same info
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample via content hashing (md5 of the row key),
    not RNG — the sampling primitive a 100 TB pipeline needs: stable
    across runs, engines, partitionings, and re-executions."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws("_", "l_orderkey", "l_linenumber")), 1, 4),
        16,
        10,
    ).cast("long")
    return (
        li.withColumn("_b", bucket % 100)
        .filter(F.col("_b") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert emulation (no Delta in this environment): apply a
    change set to a dimension with anti-join + union — the CDC staple.

    Change set: customers with >8 orders get their balance restated to
    their max order price.  Output = restated rows ∪ untouched rows.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    changes = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"), F.round(F.max("o_totalprice"), 2).alias("new_bal"))
        .filter(F.col("n") > 8)
        .select(F.col("o_custkey").alias("c_custkey"), "new_bal")
    )
    updated = customer.join(changes, "c_custkey").select(
        "c_custkey", F.col("new_bal").alias("c_acctbal"), F.lit(True).alias("restated")
    )
    untouched = customer.join(changes, "c_custkey", "left_anti").select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), F.lit(False).alias("restated")
    )
    return updated.unionByName(untouched)


def grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general multi-grouping form (CUBE and ROLLUP
    are special cases; reference analog: several reduce jobs over the
    same map output, here one scan).  Spark plans this as a single
    Expand + hash-agg: one pass over lineitem, one shuffle, regardless
    of how many grouping sets are requested."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )


CHUNK_TOKENS = 10


def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one document → N fixed-size token
    chunks via a lateral join — the genuine UDTF surface (the
    reference's map() is exactly this shape: one record in, many rows
    out via emit(), external/include/mr_task_factory.h:20), doing the
    LLM-pipeline staple of context chunking.

    Arrow-optimized when available; row-path fallback otherwise.  This
    is the slow Python path by design (API-surface fidelity) — the
    equivalent hot-path operator is the JVM-side explode pipelines in
    text_analysis.  Defined as a nested class so it pickles by value
    (driver processes may not have this package importable on
    executors)."""
    from pyspark.sql.functions import udtf

    size = CHUNK_TOKENS

    def build():
        class ChunkText:
            def eval(self, text):
                import re

                if text is None:
                    return
                toks = [t for t in re.split(r"[ ,.\"']", text) if t]
                for i in range(0, len(toks), size):
                    chunk = toks[i : i + size]
                    yield (i // size + 1, " ".join(chunk), len(chunk))

        return ChunkText

    rt = "chunk_idx: bigint, chunk: string, n_tokens: bigint"
    try:
        fn = udtf(build(), returnType=rt, useArrow=True)
    except Exception:
        fn = udtf(build(), returnType=rt)
    spark.udtf.register("chunk_text", fn)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_tokens
        FROM _udtf_docs d, LATERAL chunk_text(d.text) c
        """
    )


def pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True vectorized UDAF surface: a GROUPED_AGG pandas_udf computing
    the geometric mean of lineitem quantity per return flag — the
    Arrow-batched custom-aggregate path (each group's column arrives as
    one pandas Series; partial aggregation does NOT apply, unlike
    built-ins, which is exactly the trade-off this query documents).
    Nested + shipped so foreign-cwd drivers unpickle it (see
    session.ensure_package_on_executors)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    # explicit GROUPED_AGG: this module uses postponed annotations
    # (PEP 563), which breaks pandas_udf's type-hint inference
    from pyspark.sql.functions import PandasUDFType

    def _geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v[v > 0]).mean()))

    geomean = pandas_udf(_geomean, "double", PandasUDFType.GROUPED_AGG)

    # NB: a GROUPED_AGG pandas UDF cannot be mixed with built-in
    # aggregates in the same agg() (Spark limitation) — single measure.
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(geomean("l_quantity"), 6).alias("geo_qty")
    )


def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate catalog: sample stddev/variance, covariance
    and Pearson correlation per group — the moments-based aggregates the
    reference's reduce() could only hand-roll.  All are algebraic
    (single-pass partial+final via co-moments), so they partial map-side
    like sum/count and survive any partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.count("*").alias("n"),
    )


def not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with correct three-valued-logic semantics: customers whose
    nation is not among the negative-balance suppliers' nations.  The
    anti-join condition carries the ``IS NULL`` disjunct — the exact
    null-aware-anti-join (NAAJ) encoding Catalyst produces for NOT IN —
    so a NULL ever appearing in the subquery collapses the result to
    empty, matching SQL, instead of silently behaving like <> ALL."""
    customer = load_table(spark, sf_dir, "customer")
    # no distinct: anti join semantics ignore build-side duplicates, and
    # dropping it saves the build-side pre-broadcast shuffle
    bad_nations = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_nationkey")
    )
    # full NAAJ condition: a NULL on EITHER side must match (and thus be
    # anti-joined away) — left-key IS NULL included, else a null probe
    # row survives where SQL NOT IN drops it (three-valued logic).
    cond = (
        (F.col("c_nationkey") == F.col("s_nationkey"))
        | F.col("s_nationkey").isNull()
        | F.col("c_nationkey").isNull()
    )
    return customer.join(F.broadcast(bad_nations), cond, "left_anti").select(
        "c_custkey", "c_nationkey"
    )


def argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer arg-max: the orderkey of the highest-priced order,
    by single-pass struct-max aggregation instead of a window sort —
    one map-side-partialed hash agg, no per-group sort at all.  The
    (price, orderkey) struct compares lexicographically in both engines,
    making ties deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    best = F.max(
        F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    )
    return orders.groupBy("o_custkey").agg(
        best.getField("k").alias("best_orderkey"),
        F.round(best.getField("p"), 2).alias("best_price"),
    )


def salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-dim join: events (150 hot user keys) against
    customer, salted.  The fact side gets a deterministic salt
    (event_id % 8); the dim side is replicated 8x with an exploded salt
    column; the join keys on (custkey, salt), splitting each hot key's
    rows across 8 buckets.  Result is provably identical to the unsalted
    join (every fact row matches exactly one replica).  SHUFFLE_HASH
    hint keeps the demo on the shuffle path — at real scale the dim side
    would not fit a broadcast and this is the plan you'd get anyway;
    AQE's skew-join split is the runtime alternative when salting isn't
    baked into the pipeline."""
    n_salt = 8
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).withColumn("salt", F.col("event_id") % n_salt)
    customer = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<long>")),
        )
    )
    return (
        events.hint("SHUFFLE_HASH")
        .join(
            customer,
            (events.user_id == customer.c_custkey)
            & (events.salt == customer.salt),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type round trip: build array<struct> per order
    (sort_array(collect_list(struct))), then explode back to rows.

    Proves the nested build/flatten path is lossless — the result is
    bit-identical to the source projection.  sort_array makes the
    collected order deterministic (collect_list order is not).  At
    scale this is the document/chunks or order/lines modeling pattern;
    one shuffle to nest, narrow explode to flatten."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("lines")
    )
    return nested.select(
        "l_orderkey", F.explode("lines").alias("ln")
    ).select(
        "l_orderkey",
        F.col("ln.l_linenumber").alias("l_linenumber"),
        F.col("ln.l_quantity").alias("l_quantity"),
    )


def bag_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics: each customer's order rows minus
    their urgent-order rows, multiplicity preserved (a customer with 5
    orders, 2 urgent, keeps 3 rows).  Aggregated to counts so the
    result is deterministic and hashable."""
    orders = load_table(spark, sf_dir, "orders")
    rest = orders.select("o_custkey").exceptAll(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    )
    return rest.groupBy("o_custkey").agg(F.count("*").alias("cnt"))


def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval catalog: month truncation, end-of-month, ISO
    weekday, +30-day arithmetic — emitted as epoch micros / longs so the
    DuckDB comparison is timezone-proof (session TZ pinned UTC)."""
    orders = load_table(spark, sf_dir, "orders")
    ts = F.col("o_orderdate").cast("timestamp")
    return orders.select(
        "o_orderkey",
        F.unix_micros(F.date_trunc("month", ts)).alias("month_us"),
        F.unix_micros(F.last_day(ts).cast("timestamp")).alias("eom_us"),
        (F.weekday(ts) + 1).cast("long").alias("isodow"),
        F.unix_micros(F.date_add(ts.cast("date"), 30).cast("timestamp")).alias(
            "plus30_us"
        ),
    )


def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame catalog: 3-row sliding average, cumulative
    distribution, 3rd value in the running frame.  cume_dist is emitted
    UNROUNDED — it is a ratio of identical integers in both engines, so
    the doubles are bit-identical (rounding could only introduce a tie).
    The sliding avg divides by 1/2/3 rows — terminating decimals, no
    rounding boundary."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 6).alias(
            "sliding_avg3"
        ),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("o_orderkey", 3).over(run).alias("third_orderkey"),
    )


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with rows surviving on BOTH sides only: rich
    customers (acctbal > 2000) vs per-customer order aggregates — left-
    only rows are rich customers who never ordered, right-only rows are
    orders whose customer fell below the balance cut.  Keys coalesce;
    null-side measures default.  One shuffle per side on the join key."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 2000
    )
    ordagg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = customer.join(ordagg, customer.c_custkey == ordagg.o_custkey, "full")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().cast("long").alias("has_customer"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce(F.round("c_acctbal", 2), F.lit(-1.0)).alias("acctbal"),
    )


def cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS join: the (order priority x region) grid with
    observed order counts left-joined on — the dimension-grid scaffold
    reports use to show zero-activity cells.  Both grid sides are tiny
    dims; the observed counts aggregate once on the fact."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    orders = load_table(spark, sf_dir, "orders")
    prios = orders.select("o_orderpriority").distinct()
    counts = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    return (
        prios.crossJoin(F.broadcast(region))
        .join(F.broadcast(counts), "o_orderpriority", "left")
        .select("o_orderpriority", "r_name", F.coalesce("n", F.lit(0)).alias("n"))
    )


# Bucket count for the co-located join demo.  At 100 TB this is sized
# so each bucket's per-table slice is a few hundred MB (e.g. 4096
# buckets for a 1 TB fact table); 8 keeps test-SF file counts sane.
BUCKETED_N = 8


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via BUCKETED tables — the
    write_bucketed_table path promoted into the driver-verified
    surface (the ORC-promotion pattern, VERDICT r6 #6): orders and
    lineitem are materialized bucketed+sorted by their order key into
    BUCKETED_N buckets, read back through the catalog, joined, and
    aggregated to revenue per order priority.  A green row certifies
    the whole write→catalog→bucketed-scan→join round trip against a
    plain-join DuckDB twin.

    THE scale argument: hash(key)%R persisted at WRITE time is the
    reference's partitioner made durable (mr_tasks hash partitioner,
    /root/reference/src/mr_tasks.h) — every subsequent join or agg on
    the bucket key skips its exchange entirely.  At 100 TB the
    orders⋈lineitem shuffle is ~the whole table over the network per
    query; bucketing pays that cost ONCE at ingest and amortizes it
    over every downstream query.  test_round7_ops pins the plan: no
    Exchange feeds the join (bucketed scans align 1:1), only the final
    small agg shuffles.
    """
    import os

    from ..scratch import app_tag, scratch_dir

    # Table names and the output path carry the Spark applicationId:
    # the former fixed names (keyed only by the sf_dir basename) were
    # shared GLOBAL state, so two sessions on one host — bench next to
    # verify, or parallel test workers — raced on the same catalog
    # entries and half-written files.  The id is unique per session;
    # within a session repeated calls safely reuse (single driver
    # thread + overwrite mode), the in-memory catalog dies with the
    # session, and scratch_dir's atexit cleanup removes the files
    # (ADVICE r8: nothing deleted the per-app trees).
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tag = f"{tag}_{app_tag(spark)}"
    base = scratch_dir(spark, "bucketed", tag)
    bo_name, bl_name = f"mri_b_orders_{tag}", f"mri_b_lineitem_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    for name, df, key, sub in (
        (bo_name, orders, "o_orderkey", "orders"),
        (bl_name, lineitem, "l_orderkey", "lineitem"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, sub))
            .bucketBy(BUCKETED_N, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    bo, bl = spark.table(bo_name), spark.table(bl_name)
    # MERGE hint: at test SF AQE would broadcast the (locally tiny)
    # orders side, silently bypassing the bucketed path; at 100 TB both
    # sides are fact-sized and sort-merge is the only strategy, so the
    # hint makes the test plan the production plan — and lets the pin
    # prove the exchange-free bucketed scan.
    joined = bl.hint("MERGE").join(bo, bl.l_orderkey == bo.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
    )


def runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join shaped for Catalyst's RUNTIME BLOOM-FILTER
    injection (InjectRuntimeFilter, on by default via
    spark.sql.optimizer.runtime.bloomFilter.enabled): the selective
    predicate lives on the orders side, so the optimizer plants a
    bloom_filter_agg over the filtered o_orderkey stream and rewrites
    the lineitem scan's filter to might_contain(bloom, xxhash64(key))
    — a semi-join reduction that drops non-matching fact rows BEFORE
    the shuffle instead of after the join.

    Why this is a first-class 100 TB lever: with a 1-in-5 selective
    dim-side predicate, four fifths of the fact table's shuffle bytes
    are wasted work in the plain plan; the runtime filter prunes them
    at scan cost.  The injection is size-gated (creation side under
    ~10 MB, application side over ~10 GB scanned), so it triggers
    exactly in the regime it pays for — test SFs sit below the gate,
    which is why tests/test_round8_ops.py pins the rewrite with the
    thresholds lowered rather than relying on data size
    (`might_contain` + `bloom_filter_agg` must appear in the
    optimized plan, and the result must be identical with the filter
    on and off).  The registry query runs ungated — at production
    sizes the same plan acquires the filter automatically.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    # prices and discounts are whole cents: sum them as exact decimals,
    # so the rounded revenue does not depend on the summation order
    # (a double sum flips the last cent with the partition count)
    price = F.col("l_extendedprice").cast("decimal(15,2)")
    discount = F.col("l_discount").cast("decimal(15,2)")
    return j.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.round(F.sum(price * (1 - discount)), 2).cast("double").alias("revenue"),
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
    )


# Z-order layout constants: 16 bits per dimension (exact in 64-bit
# integer arithmetic in both engines), 64 output files (top 6 bits of
# the 32-bit interleaved key).
Z_BITS = 16
Z_FILES_LOG2 = 6


def _zvalue(x: "F.Column", y: "F.Column") -> "F.Column":
    """Bit-interleave two Z_BITS-wide non-negative ints into the
    Morton / Z-order key: bit i of x lands at position 2i, bit i of y
    at 2i+1.  Pure shift/and/or arithmetic — identical semantics in
    Spark and ANSI SQL, so the oracle reproduces it bit for bit
    (generated by __spark_entry__._zvalue_sql from the same spec)."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data layout certified end to end: lineitem is laid out
    on the Morton interleave of (ship day, partkey), written to
    parquet as one file per Z-range, read back, and the per-file
    (min, max) envelope of BOTH dimensions — the exact numbers a
    min/max-pruning reader (parquet row-group stats, Delta/Iceberg
    file skipping) consults — is aggregated from the READ-BACK files.
    The DuckDB oracle recomputes every envelope from ``lineitem``
    with the same integer bit arithmetic, so a green row certifies
    the full write→discover→scan→stat path, not just that files
    appeared.

    Why this is a first-class 100 TB operator: a single-column sort
    layout prunes scans on ONE predicate column only — a date-sorted
    100 TB lineitem answers "last week" by reading ~0.1% of files but
    "this part" by reading ALL of them.  The Z-order curve bounds
    each file's envelope in EVERY interleaved dimension at once
    (each file spans ~2^-(k/2) of each dim's range for k prefix
    bits), so both predicate families skip most files — this is the
    layout lever behind Delta/Databricks OPTIMIZE ZORDER and
    Iceberg's sort-order rewrite, built here from plain column
    arithmetic + repartition + partitionBy.
    tests/test_round8_ops.py quantifies it: on the written layout,
    an average ship-day range predicate AND an average partkey range
    predicate each overlap well under half the files, while a
    date-sorted twin layout cannot prune partkey predicates at all.

    Scale shape: two scans of the two layout columns (one min/max
    agg broadcast back as literals via a 1-row crossJoin, one
    projection computing the key), one repartition shuffle keyed on
    the Z-range (the write's only movement), and a read-back agg
    that touches just the layout columns through parquet column
    pruning.  The 16-bit grid bounds integer magnitudes at 2^32 —
    exact in doubles and bigints everywhere.
    """
    import os

    from ..scratch import scratch_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff("l_shipdate", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("ship_day"),
        F.col("l_partkey").cast("long").alias("partkey"),
    )
    if li.limit(1).count() == 0:
        # empty input: nothing to lay out, and partitionBy would write
        # zero files (read-back then cannot infer a schema) — return
        # the empty envelope table with the stable output schema
        return spark.createDataFrame(
            [],
            schema="zb long, n_rows long, min_day long, max_day long, "
            "min_part long, max_part long",
        )
    mm = li.agg(
        F.min("ship_day").alias("d_lo"),
        F.max("ship_day").alias("d_hi"),
        F.min("partkey").alias("p_lo"),
        F.max("partkey").alias("p_hi"),
    )
    scaled = li.crossJoin(F.broadcast(mm)).select(
        "ship_day",
        "partkey",
        F.expr(
            f"(ship_day - d_lo) * {1 << Z_BITS} div (d_hi - d_lo + 1)"
        ).alias("dx"),
        F.expr(
            f"(partkey - p_lo) * {1 << Z_BITS} div (p_hi - p_lo + 1)"
        ).alias("dy"),
    )
    zb = F.shiftright(_zvalue(F.col("dx"), F.col("dy")), 2 * Z_BITS - Z_FILES_LOG2)
    laid = scaled.select("ship_day", "partkey", zb.alias("zb"))
    # per-session scratch (the bucketed_join_revenue race class,
    # ADVICE r7), cleaned at exit via scratch_dir (ADVICE r8)
    out_path = scratch_dir(
        spark, "zorder", os.path.basename(os.path.normpath(sf_dir))
    )
    # one shuffle keyed on the Z-range → exactly one file per zb dir
    laid.repartition(1 << Z_FILES_LOG2, "zb").write.mode(
        "overwrite"
    ).partitionBy("zb").parquet(out_path)
    back = spark.read.parquet(out_path)
    return back.groupBy(F.col("zb").cast("long").alias("zb")).agg(
        F.count("*").alias("n_rows"),
        F.min("ship_day").alias("min_day"),
        F.max("ship_day").alias("max_day"),
        F.min("partkey").alias("min_part"),
        F.max("partkey").alias("max_part"),
    )


# Reducer count modeled by the skew audit (a typical target
# parallelism for the profiled shuffle; the ratios scale linearly to
# any real cluster width).
SKEW_REDUCERS = 32

# (output label, table, key column) — the join/agg keys a pipeline
# over this star schema actually shuffles on, deliberately spanning
# the regimes: two wide uniform fact keys, a mid-cardinality event
# key, and a 5-value categorical (the salting candidate).
SKEW_PROFILE_KEYS = [
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("events.user_id", "events", "user_id"),
    ("events.event_type", "events", "event_type"),
]


def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-FLIGHT SHUFFLE SKEW AUDIT: for each candidate join/agg key,
    the distribution facts that decide between a plain shuffle, a
    broadcast, AQE skew-join, or salting — BEFORE the 100 TB shuffle
    runs: key cardinality, the heaviest key's row share (the salting
    signal: one key ≈ one reducer's entire input), and the modeled
    reducer-load imbalance under hash partitioning into SKEW_REDUCERS
    buckets (max-load ratio vs the uniform ideal, empty-reducer
    count — the cardinality-starvation signal: fewer keys than
    reducers caps effective parallelism no matter how uniform the
    keys).  This is the measurement behind the engine's existing
    remedies (salted_join, skew_safe_distinct, AQE skew handling in
    session.py) — profile first, then pick the remedy.

    The modeled partitioner is md5-based (the sketches.py idiom), NOT
    Spark's internal Murmur3 — deliberately: the audit must be
    engine-reproducible (the DuckDB oracle computes identical reducer
    loads), and any uniform hash models hash-partition imbalance
    equally well (imbalance comes from key mass, not hash choice).

    Scale shape: one per-key count agg per profiled key (algebraic,
    map-side partials — the only pass over each fact table, reading
    just the key column), then all further arithmetic happens on the
    per-KEY table (|keys| rows, metadata-sized next to the corpus);
    the 1-row summaries cross-join broadcast-style into one 4-row
    output.  Nothing collects to the driver.
    """
    rows = []
    for label, table, col in SKEW_PROFILE_KEYS:
        per_key = (
            load_table(spark, sf_dir, table)
            .select(
                F.coalesce(F.col(col).cast("string"), F.lit("∅")).alias("k")
            )
            .groupBy("k")
            .agg(F.count("*").alias("cnt"))
        )
        red = per_key.withColumn(
            "r",
            F.conv(F.substring(F.md5("k"), 1, 12), 16, 10).cast("long")
            % SKEW_REDUCERS,
        )
        key_stats = per_key.agg(
            F.sum("cnt").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("cnt").alias("top_key_rows"),
        )
        load_stats = (
            red.groupBy("r")
            .agg(F.sum("cnt").alias("load"))
            .agg(
                F.max("load").alias("max_reducer_rows"),
                F.count("*").alias("n_nonempty"),
            )
        )
        rows.append(
            key_stats.crossJoin(F.broadcast(load_stats)).select(
                F.lit(label).alias("key_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_keys").cast("long").alias("n_keys"),
                F.col("top_key_rows").cast("long").alias("top_key_rows"),
                F.round(F.col("top_key_rows") / F.col("n_rows"), 6).alias(
                    "top_share"
                ),
                F.col("max_reducer_rows").cast("long").alias("max_reducer_rows"),
                (F.lit(SKEW_REDUCERS) - F.col("n_nonempty"))
                .cast("long")
                .alias("n_empty_reducers"),
                F.round(
                    F.col("max_reducer_rows")
                    * SKEW_REDUCERS
                    / F.col("n_rows"),
                    6,
                ).alias("skew_ratio"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# Range-partitioner audit: target range count (the write-side sibling
# of SKEW_REDUCERS) over the ship-date key.
RANGE_PARTS = 16


def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-PARTITIONER PLAN + BALANCE AUDIT over lineitem's ship-date
    key: equi-depth boundaries for RANGE_PARTS contiguous date ranges
    (each day atomically assigned to range 1 + floor(rows_before x R /
    total) — a range partitioner cannot split a key, so a hot day's
    whole mass lands in one range and shows up as skew) and, per
    range, the lo/hi day, day count, row count, row share, and the
    max-load ratio vs the uniform ideal.  The range-partitioning
    sibling of :func:`skew_profile` (hash regime): together they are
    the pre-flight measurement for choosing between hash shuffle,
    range write (time-partitioned parquet, Z-order's outer sort), and
    salting — run the audit BEFORE the 100 TB sort-write.

    Scale shape: ONE per-day count agg is the only corpus pass
    (algebraic, map-side partials, reads one column); the cumulative
    window and range assignment run over the DISTINCT-DAY table
    (metadata-sized — bounded by the calendar, ~2.5k rows for 7
    years, regardless of corpus size), so the unpartitioned window is
    deliberate, not a scale hazard.  Ranges with zero days (a single
    day heavier than total/R spans several quantile widths) simply
    don't appear — the audit reports what the partitioner would
    actually produce.
    """
    per_day = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.unix_date(F.col("l_shipdate").cast("date")).alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("cnt"))
    )
    total = per_day.agg(F.sum("cnt").cast("double").alias("total"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    assigned = (
        per_day.withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "range_id",
            (
                F.floor(
                    (F.col("cum") - F.col("cnt"))
                    * F.lit(RANGE_PARTS)
                    / F.col("total")
                )
                + 1
            ).cast("long"),
        )
    )
    return (
        assigned.groupBy("range_id")
        .agg(
            F.min("day").cast("long").alias("lo_day"),
            F.max("day").cast("long").alias("hi_day"),
            F.count("*").cast("long").alias("n_days"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.max("total").alias("t"),
        )
        .select(
            "range_id",
            "lo_day",
            "hi_day",
            "n_days",
            "n_rows",
            F.round(F.col("n_rows") / F.col("t"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.lit(RANGE_PARTS) / F.col("t"), 6
            ).alias("skew_ratio"),
        )
    )


def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY REFERENTIAL AUDIT over the star schema: one row
    per integrity check with its violation count — the pre-flight a
    pipeline runs before trusting joins (an orphan foreign key doesn't
    error in Spark, it silently drops or duplicates rows downstream).
    Checks: orphan lineitems (no order), childless orders (no lines),
    orders with unknown customers, duplicate (orderkey, linenumber)
    line keys, null line keys, non-positive quantities, discounts
    outside [0, 1], and lines shipped BEFORE their order date (the
    cross-table temporal-consistency check).

    Everything is an anti-join, a keyed join + filter, or a scan
    count — integer-exact.  Emitting counts (not offending rows)
    keeps the result driver-safe at any scale; each check names the
    frame to drill into.

    Scale shape: two key-keyed anti-joins (orderkey both directions,
    custkey one), one duplicate-key agg, one orderkey join for the
    temporal check, and three scan-side filter counts folded into ONE
    pass over lineitem via conditional sums.  Anti-join sides are
    fact-sized — they shuffle on the key; nothing broadcasts blindly.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ok = orders.select("o_orderkey")
    orphan_li = (
        li.select("l_orderkey").join(ok, li.l_orderkey == ok.o_orderkey, "left_anti").count()
    )
    childless = (
        ok.join(li.select("l_orderkey"), ok.o_orderkey == li.l_orderkey, "left_anti").count()
    )
    unknown_cust = (
        orders.select("o_custkey").join(cust, orders.o_custkey == cust.c_custkey, "left_anti").count()
    )
    dup_keys = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    scans = li.agg(
        F.sum(
            F.when(F.col("l_orderkey").isNull() | F.col("l_partkey").isNull(), 1).otherwise(0)
        ).alias("null_keys"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("nonpos_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("bad_discount"),
    ).collect()[0]
    ship_before_order = (
        li.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == orders.o_orderkey,
        )
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .count()
    )
    rows = [
        ("orphan_lineitems", orphan_li),
        ("childless_orders", childless),
        ("orders_unknown_customer", unknown_cust),
        ("duplicate_line_keys", dup_keys),
        ("null_line_keys", int(scans["null_keys"] or 0)),
        ("nonpositive_quantity", int(scans["nonpos_qty"] or 0)),
        ("discount_out_of_range", int(scans["bad_discount"] or 0)),
        ("ship_before_order", ship_before_order),
    ]
    return spark.createDataFrame(rows, schema="check string, n_violations long")


def array_funcs_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY / HIGHER-ORDER FUNCTION catalog sampler over the token
    arrays — the §2.3-style presence map for Spark's array surface
    (slice, sort, distinct, reverse-order probe, filter, transform,
    aggregate/fold, containment, position), each against its DuckDB
    list-function twin (1-based there too, so positions line up).
    Everything is per-row projection work — whole-stage codegen, no
    shuffle, the cheapest possible 100 TB pass.
    """
    from ..functions.text import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    t = tokens_expr("text")
    return docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.concat_ws("|", F.slice(t, 1, 5)).alias("first5"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
        # try_element_at: NULL (like DuckDB's [1]) on zero-token docs
        # instead of an ANSI out-of-bounds error
        F.try_element_at(F.sort_array(t), F.lit(1)).alias("min_token"),
        F.try_element_at(F.sort_array(t, asc=False), F.lit(1)).alias("max_token"),
        F.size(F.filter(t, lambda x: F.length(x) > 4)).cast("long").alias("n_long"),
        F.concat_ws("|", F.slice(F.transform(t, F.upper), 1, 3)).alias("first3_upper"),
        F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("sum_len"),
        F.array_contains(t, "the").cast("int").alias("has_the"),
        F.coalesce(F.array_position(t, "the"), F.lit(0)).cast("long").alias("the_pos"),
    )


def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE EQUALITY JOIN semantics certified: join lineitem to a
    derived flag dimension on a NULLABLE key (nullif(l_returnflag,
    'N')) twice — once with <=> (null-safe: NULL matches NULL) and
    once with = (ANSI: NULL matches nothing) — and report per key
    bucket how many rows each semantics kept.  The NULL row is where
    engines silently diverge (dropped rows vs matched rows), and
    <=> is the join a dedup/SCD pipeline needs when the business key
    is legitimately absent; the DuckDB twin is IS NOT DISTINCT FROM.

    Scale: the dim side is 3 rows (broadcast); both joins are one
    fact pass each; counting per bucket is a 3-row agg.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.nullif("l_returnflag", F.lit("N")).alias("k")
    )
    # distinct-rename breaks the self-join lineage ambiguity (dim
    # derives from li, so dim.k and li.k would share an exprId)
    dim = (
        li.distinct()
        .select(F.col("k").alias("kd"))
        .withColumn("tagged", F.lit(1))
    )
    nullsafe = li.join(dim, F.col("k").eqNullSafe(F.col("kd")), "left").select(
        F.col("k").alias("key"), F.col("tagged").alias("ns")
    )
    plain = li.join(dim, F.col("k") == F.col("kd"), "left").select(
        F.col("k").alias("key"), F.col("tagged").alias("pl")
    )
    a = nullsafe.groupBy(F.coalesce("key", F.lit("<NULL>")).alias("key_bucket")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.coalesce("ns", F.lit(0))).cast("long").alias("n_nullsafe_matched"),
    )
    b = plain.groupBy(F.coalesce("key", F.lit("<NULL>")).alias("key_bucket")).agg(
        F.sum(F.coalesce("pl", F.lit(0))).cast("long").alias("n_plain_matched"),
    )
    return a.join(b, "key_bucket")


def linreg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP OLS REGRESSION from raw moments: slope / intercept /
    r² of extended price on quantity, per part brand — the grouped
    ``regr_slope`` / ``regr_r2`` surface of an analytics catalog,
    computed from sufficient statistics instead of the builtins so
    both engines run the IDENTICAL formula.

    Cross-engine exactness is by INTEGER MOMENTS (the md5-sketch
    lesson applied to floats): x = quantity (integer-valued by
    construction), y = price in CENTS, and the five moment sums run
    as DECIMAL(38,0) — not BIGINT: Σy² carries ~1e14 per row, so the
    BIGINT sum died with ANSI ARITHMETIC_OVERFLOW past ~sf2 (r10 fix;
    DuckDB keeps HUGEINT) — so n, Σx, Σy, Σxy, Σx², Σy² are exact
    integers in both engines regardless of summation order; the
    closed-form slope/intercept/r² then run as the same IEEE double
    ops on identical inputs.  Float sums would drift ~1e-10 relative
    and the n·Σxx − (Σx)² cancellation amplifies that — exact
    integers make it a non-issue.

    Scale shape: map-side partial aggregation of 6 integer moments
    per brand (one shuffle, 25 groups); part dim is broadcast.  This
    is the textbook "regression as a monoid" shape — the moments are
    mergeable, so it parallelizes like a sum, not like a sort.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yc"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            # moments in DECIMAL(38,0), not BIGINT (round-10): yc² is
            # ~1e14 per row, so the BIGINT syy overflows past sf~2
            # (measured sf0.1 headroom ~20x) and sxy at 100 TB row
            # counts.  Under this engine's ANSI default the query DIES
            # with ARITHMETIC_OVERFLOW there (a non-ANSI deployment
            # wraps silently — worse); DuckDB's HUGEINT sum would error
            # on the oracle's former ::BIGINT cast at the same point.
            # DECIMAL(38,0) sums are exact to 1e38 (the 100 TB corpus
            # needs ~1e26), stay a 25-group map-side agg, and both
            # engines feed the same exact integers to the double
            # formula edge — parity at every SF instead of a failure.
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("yc").cast("decimal(38,0)")).alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
            F.sum(
                (F.col("yc").cast("decimal(38,0)") * F.col("yc"))
            ).alias("syy"),
            F.sum((F.col("x") * F.col("yc")).cast("decimal(38,0)")).alias("sxy"),
        )
    )
    # cents -> currency at the formula edge; all doubles from here.
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double") / 100.0
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double") / 10000.0
    sxy = F.col("sxy").cast("double") / 100.0
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return m.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(cov_n * cov_n / (var_x * var_y), 6).alias("r2"),
    )


def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MEDIAN per group (lower weighted median of extended
    price, weighted by quantity, per return flag) — the robust
    "typical order-line price where weight = units moved" statistic
    that plain median (one row one vote) misrepresents.

    Definition (deterministic in both engines): sort the group by
    (price, orderkey, linenumber) — a UNIQUE total order — take the
    first row whose running weight reaches half the total.  The
    comparison is 2·cum ≥ total in exact BIGINT arithmetic (weights
    are integer-valued quantities), so there is no float threshold to
    disagree on and ties are broken by the unique sort key.

    Scale shape: one shuffle on the group key + per-group sort (the
    same profile as any exact quantile); the scale swap is
    approx_percentile over a pre-aggregated (price, Σweight) table.
    The final pick is a min-over-candidates agg, not a collect.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("w"),
    )
    ww = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        "w",
        F.sum("w").over(ww).cast("long").alias("cw"),
        F.sum("w").over(Window.partitionBy("l_returnflag"))
        .cast("long").alias("tw"),
    )
    hit = cum.filter(2 * F.col("cw") >= F.col("tw"))
    return hit.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("wmedian"),
        F.min("tw").cast("long").alias("total_weight"),
    )


# Benford expected-share denominators: share(d) = log10(1 + 1/d).
BENFORD_DIGITS = list(range(1, 10))


def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit of order totals — the classic
    fabricated-numbers screen (Benford 1938; Nigrini's forensic
    accounting use): natural multi-scale amounts put ~30.1% of first
    digits at 1, and a synthetic or truncated column shows up as a
    large chi-square against log10(1 + 1/d).

    The first digit is extracted via INTEGER string math — cents =
    round(price·100) as BIGINT, digit = first char of its decimal
    print — because log10-based extraction can straddle a power-of-10
    boundary differently per libm, while integer printing is
    identical everywhere.  Output: per-digit count, observed share,
    Benford share, and the chi-square contribution (O−E)²/E.

    Scale shape: map-only digit extraction + a 9-group aggregate —
    the cheapest possible full-column DQ pass.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1, 1,
        ).cast("int").alias("digit")
    ).filter(F.col("digit") >= 1)
    counts = o.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("tot"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6)
            .alias("obs_share"),
            F.round(expected, 6).alias("benford_share"),
            F.round(
                F.pow(
                    F.col("n").cast("double")
                    - expected * F.col("tot").cast("double"),
                    F.lit(2.0),
                )
                / (expected * F.col("tot").cast("double")),
                6,
            ).alias("chi2_term"),
        )
    )
