"""Parquet table sources for the driver's synthetic star schema.

The reference's only source is newline-delimited text scanned over byte
ranges (src/file_shard.h:19-43, src/worker.h:64-75); Spark's parquet
reader supersedes that with columnar scans + predicate pushdown + column
pruning.  Tables per TESTDATA.md / FIXTURES.md.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows fixed; TPC-H dims scale sub-linearly).
BROADCASTABLE = frozenset({"region", "nation", "supplier"})

# The session confs that change the schema parquet inference yields
# (nanosAsLong is pinned by load_table itself).
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Confs set here — the ONE table chokepoint — because the driver's
    # correctness harness runs queries in its own session (not built by
    # get_spark), so a builder-only conf would not reach it.
    #
    # nanosAsLong: some data generations write events.ts as
    # TIMESTAMP(NANOS), which Spark 4 refuses unless nanos read as long;
    # harmless when ts is timestamp[us].  UTC: TIMESTAMP_NTZ -> TIMESTAMP
    # casts (event_ts_us) interpret the naive value in the session zone;
    # pinning UTC makes them match DuckDB's epoch_us on naive timestamps.
    # InferFiltersFromGenerate turns explode(computed-array) into a
    # size()>0 filter that pushdown re-inlines below the projections —
    # O(len²) re-tokenization on every n-gram explode (see session.py).
    #
    # Each conf is set only when it differs (no per-call session-state
    # churn), and excludedRules APPENDS to whatever the foreign session
    # already excluded instead of clobbering it.
    _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    _ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    _ensure_excluded_rule(
        spark, "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    )
    # Schema inference reads the parquet footers in a Spark job (one per
    # call, even for one file); a read with the schema given submits
    # none.  So the schema is inferred once per table file and session
    # inference confs, and a miss returns the frame it was inferred from
    # rather than reading twice.
    path = os.path.join(sf_dir, f"{name}.parquet")
    inferred = []

    def infer():
        inferred.append(spark.read.parquet(path))
        return inferred[0].schema

    params = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    schema = _artifact(spark, sf_dir, name, "schema", params, infer)
    if inferred:
        return inferred[0]
    return spark.read.schema(schema).parquet(path)


def _table_fingerprint(sf_dir: str, table: str):
    """Cheap content fingerprint of ``<sf_dir>/<table>.parquet``: its
    (mtime_ns, size) for a file, or the sorted (relative path, mtime_ns,
    size) of every file under it, at any depth, for a directory.  None
    when any of it is unstat-able: None disables memoization rather
    than risking a stale hit."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        parts = []
        for root, _, files in os.walk(path, onerror=_raise):
            for f in files:
                part = os.path.join(root, f)
                st = os.stat(part)
                parts.append((os.path.relpath(part, path), st.st_mtime_ns, st.st_size))
        return tuple(sorted(parts))
    except OSError:
        return None


def _raise(err: OSError):
    raise err  # os.walk skips an unlistable directory unless told


# Build-once store for what is derived from a table file and reused
# while the file is unchanged: each table's inferred schema ("schema"),
# the search artifacts a production index builds once per corpus and
# serves to every query (similarity.py: the IVF coarse quantizer, the
# residual frame, the PQ code frames, the bounded query set and the
# trained PQ codebooks), and the frames derived from ``documents``
# (dedup.py: the per-doc shingle-list index and the size-gated shingle
# projection; text_analysis.py: the BM25 index, the PMI tables and the
# ranked Zipf vocabulary).  The package's only memo.  Every DataFrame
# value is a localCheckpoint, never a persist(): clearCache() would
# silently un-cache a persisted entry, and a persisted frame rebuilt
# after a rewrite could match the stale cached plan of the same path.
# Nobody releases a frame the store served.  Key: (Spark application
# id, artifact kind, sf_dir, table, table fingerprint, params).  The
# application id scopes the DataFrame handles, whose localCheckpoint
# blocks live on that context's executors; the fingerprint invalidates
# an entry when the table at sf_dir is rewritten in-process; ``params``
# holds whatever else the artifact depends on (never Python hash() of
# values).  None is a cached value (an empty corpus is not
# re-collected).
_ARTIFACTS: dict[tuple, object] = {}


def _artifact(
    spark, sf_dir: str | None, table: str, kind: str, params: tuple, build
):
    """``build()`` once per (application, kind, sf_dir, table,
    fingerprint, params).  Without ``sf_dir``, or for an unstat-able
    table, every call builds.  A miss first drops the entries that can
    never hit again: another application's, and this table's under
    another fingerprint."""
    fp = None if sf_dir is None else _table_fingerprint(sf_dir, table)
    if fp is None:
        return build()
    app = spark.sparkContext.applicationId
    key = (app, kind, sf_dir, table, fp, params)
    if key in _ARTIFACTS:
        return _ARTIFACTS[key]
    for k in [
        k
        for k in _ARTIFACTS
        if k[0] != app or (k[2:4] == (sf_dir, table) and k[4] != fp)
    ]:
        del _ARTIFACTS[k]
    _ARTIFACTS[key] = out = build()
    return out


def artifact_reset() -> None:
    """Drop every memoized table schema, search artifact and derived frame."""
    _ARTIFACTS.clear()


def _ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    if spark.conf.get(key, None) != value:
        spark.conf.set(key, value)


def _ensure_excluded_rule(spark: SparkSession, rule: str) -> None:
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    rules = [r.strip() for r in current.split(",") if r.strip()]
    if rule not in rules:
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join([*rules, rule]))


def event_ts_us(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds expression for an event timestamp column,
    adaptive to every parquet layout the driver has shipped:

    - ``timestamp[us]`` (Spark TIMESTAMP / TIMESTAMP_NTZ): unix_micros
      of the TIMESTAMP cast — with the session zone pinned UTC in
      :func:`load_table`, the naive value round-trips exactly and
      matches DuckDB's ``epoch_us(ts)``.
    - ``TIMESTAMP(NANOS)`` read as an int64 via the nanosAsLong escape
      hatch: integer ``div 1000`` (ns -> us truncation, same as
      DuckDB's native ns->us cast).

    Pure column expression — stays in whole-stage codegen either way.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, spark: SparkSession, min_ratio: float = 0.5) -> DataFrame:
    """Ensure CPU-heavy narrow pipelines (tokenize/explode/vector math)
    get full parallelism when the source has too few input splits.

    Small/single-row-group parquet files scan as one task, serializing
    everything up to the first shuffle.  If the scan parallelism is
    below ``min_ratio × defaultParallelism``, round-robin repartition to
    the core count — a cheap shuffle of the narrow projection.  With
    properly sized inputs (any real multi-row-group dataset, e.g. at
    100 TB) the condition is false and this is a no-op, so the scale
    plan never pays the extra exchange.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_ratio)):
        return df.repartition(target)
    return df
