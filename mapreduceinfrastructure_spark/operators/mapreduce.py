"""The reference's actual programming model, Spark-native.

The reference's entire query API is: register a ``map(line) -> emit(k,v)*``
and a ``reduce(key, [values]) -> emit(k,v)*`` under a ``user_id``
(external/include/mr_task_factory.h:20,37,47-48; registry
src/mr_task_factory.cc:30-88), then run the two-phase dataflow over
newline-delimited text.  This module reproduces that surface:

    register_tasks(user_id, map_fn, reduce_fn)   — the UDF registry
    map_reduce(df, map_fn, reduce_fn, R)         — the dataflow
    run_job(spark, spec)                         — MapReduce::run(config)

Execution maps onto Spark primitives:
    map + emit        -> mapInPandas (Arrow-batched; 1 line -> N pairs)
    hash(key) % R     -> repartition(R, "key")  (shuffle; reference:
                         src/mr_tasks.h:48)
    phase barrier     -> the shuffle stage boundary (reference:
                         src/master.h:259-268)
    group + sort +    -> groupBy("key").applyInPandas (reference holds
    reduce               each reducer's groups in a std::map,
                         src/worker.h:92-106; applyInPandas likewise
                         materializes one group per call — prefer the
                         algebraic operators in ``relational``/
                         ``text_analysis`` when the reduce is expressible)
    scheduling, RPC,  -> Spark DAG scheduler / task retry / speculation
    stragglers           (configured in session.py; reference:
                         src/master.h:217-256)

Scale note: arbitrary Python reduce is the slow path by design (the
reference has the same property — reduce sees all values of a key in
memory).  The engine's algebraic operators cover every OSDI'04 pattern
without Python; this layer exists for API parity and for genuinely
custom reduce logic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MapFn = Callable[[str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], Iterable[tuple[str, str]]]

_KV_SCHEMA = "key string, value string"


# ---------------------------------------------------------------- registry

_TASK_FACTORY: dict[str, tuple[MapFn, ReduceFn]] = {}


def register_tasks(user_id: str, map_fn: MapFn, reduce_fn: ReduceFn) -> bool:
    """Mirror of ``register_tasks`` (mr_task_factory.cc:74-79): map a
    user id to its mapper/reducer pair.  Returns False if already
    registered (the reference refuses duplicates, mr_task_factory.cc:44)."""
    if user_id in _TASK_FACTORY:
        return False
    _TASK_FACTORY[user_id] = (map_fn, reduce_fn)
    return True


def get_tasks(user_id: str) -> tuple[MapFn, ReduceFn]:
    return _TASK_FACTORY[user_id]


# ---------------------------------------------------------------- dataflow

def _kv_frame(pairs: Iterable[tuple[str, str]]) -> pd.DataFrame:
    """``key, value`` frame of emitted pairs.  Module-level on purpose:
    the executor closures below reference it, so unpickling them always
    imports this package on the worker (which installs
    ``session.install_lazy_zip_invalidation`` there), even when the
    user's map/reduce functions pickle by value."""
    keys: list[str] = []
    vals: list[str] = []
    for k, v in pairs:
        keys.append(k)
        vals.append(v)
    return pd.DataFrame({"key": keys, "value": vals})


def map_reduce(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    num_partitions: int = 8,
) -> DataFrame:
    """Two-phase MapReduce over a single-string-column DataFrame.

    ``df``'s first column is the record (the reference's newline-
    delimited line, description.md:44).  Returns DataFrame[key, value].

    The hash(key) % R partitioner (reference: src/mr_tasks.h:48) is the
    shuffle ``groupBy("key").applyInPandas`` itself plans — it hashes
    on key into ``spark.sql.shuffle.partitions``; an explicit
    ``repartition(R, key)`` in front of it would be a second, wasted
    shuffle.  The R-file output contract (``n_output_files``) is owned
    by the text sink, which repartitions to exactly R on write.
    ``num_partitions`` is kept for API parity with the reference spec.
    """
    from ..session import ensure_package_on_executors

    # user map/reduce fns may be module-level (pickled by reference) —
    # ship the package so executor workers can resolve them regardless
    # of the driver process's cwd/PYTHONPATH.
    ensure_package_on_executors(df.sparkSession)
    record_col = df.columns[0]

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _kv_frame(kv for line in pdf[record_col] for kv in map_fn(line))

    mapped = df.mapInPandas(_map_batches, schema=_KV_SCHEMA)

    def _reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return _kv_frame(reduce_fn(pdf["key"].iloc[0], pdf["value"].tolist()))

    return mapped.groupBy("key").applyInPandas(_reduce_group, schema=_KV_SCHEMA)


# ---------------------------------------------------------------- job spec

@dataclass
class JobSpec:
    """The reference's ``MapReduceSpec`` (src/mapreduce_spec.h:12-20).

    ``n_workers``/``worker_ipaddr_ports`` are accepted for config parity
    but not used: Spark's scheduler owns worker placement.
    ``map_kilobytes`` -> input split size; ``n_output_files`` -> R.
    """

    user_id: str
    input_files: list[str] = field(default_factory=list)
    output_dir: str = "."
    n_output_files: int = 8
    map_kilobytes: int = 500
    n_workers: int = 0
    worker_ipaddr_ports: list[str] = field(default_factory=list)


def read_spec_from_config_file(path: str) -> JobSpec:
    """Parse the reference's ``key=value`` config format
    (src/mapreduce_spec.h:23-47; sample test/config.ini)."""
    kv: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, _, v = line.partition("=")
            kv[k.strip()] = v.strip()
    return JobSpec(
        user_id=kv.get("user_id", ""),
        input_files=[p for p in kv.get("input_files", "").split(",") if p],
        output_dir=kv.get("output_dir", "."),
        n_output_files=int(kv.get("n_output_files", "8")),
        map_kilobytes=int(kv.get("map_kilobytes", "500")),
        n_workers=int(kv.get("n_workers", "0")),
        worker_ipaddr_ports=[p for p in kv.get("worker_ipaddr_ports", "").split(",") if p],
    )


def validate_spec(spec: JobSpec) -> bool:
    """Fail-fast checks mirroring validate_mr_spec
    (src/mapreduce_spec.h:51-64)."""
    import os

    return bool(
        spec.user_id
        and spec.n_output_files > 0
        and spec.map_kilobytes > 0
        and spec.input_files
        and all(os.path.isfile(p) for p in spec.input_files)
    )


def run_job(spark: SparkSession, spec: JobSpec) -> DataFrame:
    """``MapReduce::run(config)`` equivalent (external/include/
    mapreduce.h:8-20): read + validate spec, scan inputs, run the
    registered map/reduce, write sorted partitioned text output.

    Returns the result DataFrame (also materialized to
    ``spec.output_dir``)."""
    from ..sinks.textsink import write_sorted_kv_text
    from ..sources.text import read_text_lines

    if not validate_spec(spec):
        raise ValueError(f"invalid job spec: {spec}")
    map_fn, reduce_fn = get_tasks(spec.user_id)
    # the shard-size knob is session conf (see read_text_lines); hold it
    # through the write action (splits are planned at action time), then
    # restore so the job doesn't leak its shard size into the session.
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        lines = read_text_lines(
            spark, spec.input_files, shard_kilobytes=spec.map_kilobytes
        )
        result = map_reduce(
            lines, map_fn, reduce_fn, num_partitions=spec.n_output_files
        )
        write_sorted_kv_text(
            result, spec.output_dir, spec.n_output_files, user_id=spec.user_id
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
    return result


# ----------------------------------------------------- shipped example UDFs

# The reference's one registered query: word count under "cs6210"
# (test/user_tasks.cc:9-59) — tokenize on the strtok delimiter class
# " ,.\"'" (line 15), emit (token, "1"); reduce sums atoi'd values.
_STRTOK_DELIMS = ' ,."\''


def wordcount_map(line: str) -> Iterable[tuple[str, str]]:
    token = []
    for ch in line:
        if ch in _STRTOK_DELIMS:
            if token:
                yield "".join(token), "1"
                token = []
        else:
            token.append(ch)
    if token:
        yield "".join(token), "1"


def wordcount_reduce(key: str, values: list[str]) -> Iterable[tuple[str, str]]:
    yield key, str(sum(int(v) for v in values))


register_tasks("wordcount", wordcount_map, wordcount_reduce)


def word_count_mr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through the generic MapReduce engine — parity query
    proving map_reduce() reproduces the built-in word_count exactly.
    (Same DuckDB oracle as ``word_count``.)"""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    map_fn, reduce_fn = get_tasks("wordcount")
    kv = map_reduce(docs, map_fn, reduce_fn, num_partitions=8)
    return kv.select(F.col("key").alias("word"), F.col("value").cast("long").alias("cnt"))


# Second registered user task: distributed grep (OSDI §2.1 catalog).
# map: emit the record if it matches; reduce: identity.  Proves the
# task registry + engine generalize beyond the reference's single
# shipped example (user_tasks.cc ships ONLY word count).
_GREP_PATTERN = "fast join"


def grep_map(line: str) -> Iterable[tuple[str, str]]:
    doc_id, _, text = line.partition("\t")
    if _GREP_PATTERN in text:
        yield doc_id, text


def grep_reduce(key: str, values: list[str]) -> Iterable[tuple[str, str]]:
    for v in values:
        yield key, v


register_tasks("grep", grep_map, grep_reduce)


def grep_mr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep through the generic MapReduce engine — the
    map-only job shape (identity reduce), sharing the built-in
    ``grep`` query's DuckDB oracle.  Records are "doc_id\\ttext" lines;
    tabs inside the text are normalized to spaces when the line is
    built, so the map-side partition() parse is unambiguous for ANY
    input (a raw tab would silently truncate the record at the first
    embedded tab — a real deployment would use the byte-offset record
    ids the reference's text sharding yields instead).

    The built-in ``grep`` (a pushed-down filter, zero shuffle) is the
    production path; this exists for engine parity, like word_count_mr.
    """
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.regexp_replace(F.col("text"), "\t", " "),
        )
    )
    map_fn, reduce_fn = get_tasks("grep")
    kv = map_reduce(docs, map_fn, reduce_fn, num_partitions=8)
    return kv.select(
        F.col("key").cast("long").alias("doc_id"), F.col("value").alias("text")
    )


# Third registered user task: inverted index (OSDI §2.1 catalog).
# map: emit (token, doc_id) per strtok token; reduce: sorted distinct
# doc list.  Completes the reduce-shape triangle the registry must
# generalize over — aggregating reduce (wordcount: sum), identity
# reduce (grep), and now a COLLECTING reduce whose output value is
# built from the whole value list (the reference's reduce signature
# reduce(key, vector<values>) exists precisely for this shape,
# external/include/mr_task_factory.h:37).


def invidx_map(line: str) -> Iterable[tuple[str, str]]:
    doc_id, _, text = line.partition("\t")
    token: list[str] = []
    for ch in text:
        if ch in _STRTOK_DELIMS:
            if token:
                yield "".join(token), doc_id
                token = []
        else:
            token.append(ch)
    if token:
        yield "".join(token), doc_id


def invidx_reduce(key: str, values: list[str]) -> Iterable[tuple[str, str]]:
    ids = sorted({int(v) for v in values})
    yield key, ",".join(str(i) for i in ids)


register_tasks("invidx", invidx_map, invidx_reduce)


def inverted_index_mr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index through the generic MapReduce engine — the
    collecting-reduce parity query, sharing the built-in
    ``inverted_index``'s DuckDB oracle.  Record lines are the same
    tab-normalized "doc_id\\ttext" encoding as ``grep_mr``; n_docs is
    derived from the reduced doc list (the engine's kv contract is
    two string columns, exactly like the reference's emit)."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.regexp_replace(F.col("text"), "\t", " "),
        )
    )
    map_fn, reduce_fn = get_tasks("invidx")
    kv = map_reduce(docs, map_fn, reduce_fn, num_partitions=8)
    return kv.select(
        F.col("key").alias("word"),
        F.col("value").alias("doc_ids"),
        F.size(F.split("value", ",")).cast("long").alias("n_docs"),
    )
