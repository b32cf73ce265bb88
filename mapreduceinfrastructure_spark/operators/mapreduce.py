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
    hash(key) % R     -> repartition(R, "key")  (the job's one shuffle;
                         reference: src/mr_tasks.h:48)
    phase barrier     -> the shuffle stage boundary (reference:
                         src/master.h:259-268)
    group + sort +    -> sortWithinPartitions("key", "value") +
    reduce               mapInPandas streaming each reducer partition's
                         sorted key runs, one reduce call per key in
                         key order (reference: the per-reducer std::map,
                         src/worker.h:92-106)
    reducer r writes  -> run_job: the same task streams its reduce
    file r               output into a per-attempt temp file and renames
                         it to {user_id}_result_{r} (src/mr_tasks.h:
                         66-78; OSDI'04 §3.3), no row back to the JVM
    scheduling, RPC,  -> Spark DAG scheduler / task retry / speculation
    stragglers           (configured in session.py; reference:
                         src/master.h:217-256)

Scale note: arbitrary Python reduce is the slow path by design (the
reference has the same property — reduce sees all values of a key in
memory; here that is the only bound, the sort spills).  The engine's
algebraic operators cover every OSDI'04 pattern without Python; this
layer exists for API parity and for genuinely custom reduce logic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from functools import partial
from itertools import groupby
from operator import itemgetter

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


# "no current key": a sentinel, not None, so that a None key is grouped too
_NO_KEY = object()


def _reduce_sorted_runs(
    batches: Iterator[pd.DataFrame], reduce_fn: ReduceFn
) -> Iterator[pd.DataFrame]:
    """Stream a key-sorted partition's Arrow batches through
    ``reduce_fn``: one call per key, in key order, with all of the key's
    values.  A key's run may continue into the next batch (a hot key can
    span many), so the open run is carried over and reduced only when
    the next key starts or the partition ends.  Memory is one key's
    value list plus one batch's output."""
    key, values = _NO_KEY, []
    for pdf in batches:
        out: list[tuple[str, str]] = []
        rows = zip(pdf["key"].tolist(), pdf["value"].tolist())
        for k, run in groupby(rows, key=itemgetter(0)):
            if k != key:
                if key is not _NO_KEY:
                    out.extend(reduce_fn(key, values))
                key, values = k, []
            values.extend(v for _, v in run)
        if out:
            yield _kv_frame(out)
    if key is not _NO_KEY:
        yield _kv_frame(reduce_fn(key, values))


def _sorted_pairs(
    df: DataFrame, map_fn: MapFn, num_partitions: int | None
) -> DataFrame:
    """The map and the job's one shuffle: ``map_fn`` over ``df``'s first
    column, the pairs hashed on key into ``num_partitions`` reducer
    partitions and sorted within each on (key, value)."""
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
    by_key = (
        mapped.repartition("key")
        if num_partitions is None
        else mapped.repartition(num_partitions, "key")
    )
    return by_key.sortWithinPartitions("key", "value")


def map_reduce(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-phase MapReduce over a single-string-column DataFrame.

    ``df``'s first column is the record (the reference's newline-
    delimited line, description.md:44).  Returns DataFrame[key, value].

    One shuffle, as in the reference: the mapped pairs are hashed on key
    into ``num_partitions`` reducer partitions (the reference's R and
    its hash(key) % R, src/mr_tasks.h:48), sorted within each partition
    on (key, value), and each partition is reduced as a stream of key
    runs.  Sorting on value too gives every reduce call the same value
    order on every run and every retry.  Partition r of the result is
    reducer r's output, in key order.  ``num_partitions=None`` hashes
    into the session's shuffle width, which AQE may coalesce.
    """
    return _sorted_pairs(df, map_fn, num_partitions).mapInPandas(
        partial(_reduce_sorted_runs, reduce_fn=reduce_fn), schema=_KV_SCHEMA
    )


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

    The job has one shuffle and two stages: the map, then
    ``spec.n_output_files`` reducer tasks, each of which reduces its
    sorted key runs and writes the output itself as
    ``{user_id}_result_{r}`` (see ``sinks.textsink``).  Within a key the
    file keeps the order the reduce emitted, as the reference does.

    Returns the ``map_reduce`` result DataFrame (already materialized to
    ``spec.output_dir``)."""
    from ..sinks.textsink import write_reducer_files
    from ..sources.text import read_text_lines

    if not validate_spec(spec):
        raise ValueError(f"invalid job spec: {spec}")
    map_fn, reduce_fn = get_tasks(spec.user_id)
    reduce_runs = partial(_reduce_sorted_runs, reduce_fn=reduce_fn)
    # the shard-size knob is session conf (see read_text_lines); hold it
    # through the write action (splits are planned at action time), then
    # restore so the job doesn't leak its shard size into the session.
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        lines = read_text_lines(
            spark, spec.input_files, shard_kilobytes=spec.map_kilobytes
        )
        pairs = _sorted_pairs(lines, map_fn, spec.n_output_files)
        write_reducer_files(
            pairs,
            spec.output_dir,
            spec.n_output_files,
            user_id=spec.user_id,
            reduce_runs=reduce_runs,
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
    return pairs.mapInPandas(reduce_runs, schema=_KV_SCHEMA)


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
    kv = map_reduce(docs, map_fn, reduce_fn)
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
    kv = map_reduce(docs, map_fn, reduce_fn)
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
    kv = map_reduce(docs, map_fn, reduce_fn)
    return kv.select(
        F.col("key").alias("word"),
        F.col("value").alias("doc_ids"),
        F.size(F.split("value", ",")).cast("long").alias("n_docs"),
    )
