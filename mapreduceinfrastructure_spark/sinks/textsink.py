"""Reference-faithful output sink: R text files, ``key value\\n`` rows,
sorted by key within each file.

Format mandate: single-space separator (description.md:66-68;
src/mr_tasks.h:90 ``key << " " << val``); per-file sort mandate
(description.md:62, via std::map iteration in src/worker.h:105).
File naming ``{user_id}_result_{r}`` (src/mr_tasks.h:67).

Unlike the reference, output is overwritten, not appended — the
reference's append-mode files corrupt re-runs (src/mr_tasks.h:25,69;
manual cleanup demanded by structure.md:50); we do not replicate that.

Reducer r writes file r from its own task, as the reference does
(src/mr_tasks.h:66-78,89-91): the executor function
``_write_reducer_file`` streams partition r's rows into a per-attempt
temporary file and renames it into place atomically, the retry-safe
scheme of OSDI'04 §3.3.  No row goes back to the JVM and there is no
Hadoop output committer; each task returns one ``(r, rows)`` summary.
So ``output_dir`` must be a POSIX path (local or shared) that every
executor sees at the same path; a URI is refused up front.

Entry points.  ``write_reducer_files`` takes a frame already hashed by
key and sorted within partitions, optionally reducing each partition's
stream before writing it: ``run_job`` hands it the sorted map output and
the reduce, so reduce and write are one task and the job has one
shuffle.  ``write_partition_files`` sorts a frame already partitioned by
key and writes it in place; ``write_sorted_kv_text`` first
hash-partitions any DataFrame[key, value] into R by key.

Scale note: ``repartition(R, key)`` + ``sortWithinPartitions`` is the
reference's exact layout contract (hash partition by key, sort within
partition) and never requires a global sort.  For globally ordered
output use ``repartitionByRange`` instead (one extra sampling pass).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Frames = Iterator[pd.DataFrame]

_SUMMARY_SCHEMA = "r int, rows long"
_URI_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:/")


def _line(key: str | None, value: str | None) -> str:
    # concat_ws(" ", key, value): a null is skipped, with no separator
    if key is None:
        return ("" if value is None else value) + "\n"
    if value is None:
        return key + "\n"
    return key + " " + value + "\n"


def _write_reducer_file(
    frames: Frames, output_dir: str, user_id: str, num_partitions: int
) -> Frames:
    """Executor side: write this task's ``key, value`` frames as
    ``{user_id}_result_{r}``, r the task's partition.  The lines go to
    ``_{user_id}_staging/{r}.{taskAttemptId}`` and the finished file is
    renamed over the result, so a retried or speculative attempt can
    only replace it with the same bytes.  Keys must arrive in Spark's
    ascending string order (nulls first; Python's code-point order is
    Spark's UTF-8 byte order).  A partition r >= R writes nothing; its
    summary row lets the driver refuse the frame."""
    ctx = TaskContext.get()
    r = ctx.partitionId()
    rows = 0
    if r >= num_partitions:
        rows = sum(len(pdf) for pdf in frames)
    else:
        tmp = os.path.join(output_dir, f"_{user_id}_staging", f"{r}.{ctx.taskAttemptId()}")
        prev = None
        with open(tmp, "w", encoding="utf-8", newline="") as f:
            for pdf in frames:
                keys = pdf["key"].tolist()
                for key in keys:
                    if prev is not None and (key is None or key < prev):
                        raise ValueError(
                            f"reducer {r} wrote key {key!r} after {prev!r}: "
                            "keys must be non-decreasing within a file"
                        )
                    prev = key
                f.write("".join(map(_line, keys, pdf["value"].tolist())))
                rows += len(keys)
        os.replace(tmp, os.path.join(output_dir, f"{user_id}_result_{r}"))
    yield pd.DataFrame({"r": [r], "rows": [rows]})


def write_reducer_files(
    sorted_pairs: DataFrame,
    output_dir: str,
    num_partitions: int,
    user_id: str = "user",
    reduce_runs: Callable[[Frames], Frames] | None = None,
) -> list[str]:
    """Reducer r writes file r: each task of ``sorted_pairs`` (hashed by
    key into at most ``num_partitions`` partitions, sorted within each)
    passes its batches through ``reduce_runs`` (none: written as they
    are) and writes the result as ``{user_id}_result_{r}``.  Pads with
    empty files to exactly R; returns the R file paths."""
    from ..session import ensure_package_on_executors

    if _URI_SCHEME.match(output_dir):
        raise ValueError(
            f"output_dir {output_dir!r} is a URI: reducers write files at a "
            "POSIX path that every executor sees"
        )
    ensure_package_on_executors(sorted_pairs.sparkSession)
    out = os.path.abspath(output_dir)
    staging = os.path.join(out, f"_{user_id}_staging")
    os.makedirs(staging, exist_ok=True)

    def _write(batches: Frames) -> Frames:
        frames = batches if reduce_runs is None else reduce_runs(batches)
        return _write_reducer_file(frames, out, user_id, num_partitions)

    try:
        summary = sorted_pairs.mapInPandas(_write, schema=_SUMMARY_SCHEMA).collect()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    written = {row["r"] for row in summary}
    if written and max(written) >= num_partitions:
        raise ValueError(
            f"partition {max(written)} written: df has more than R={num_partitions} partitions"
        )
    paths = [os.path.join(output_dir, f"{user_id}_result_{r}") for r in range(num_partitions)]
    for r, path in enumerate(paths):
        if r not in written:
            # empty files so exactly R outputs exist, as the reference
            # does (it opens all R up front, mr_tasks.h:66-70)
            open(path, "w").close()
    return paths


def write_partition_files(
    df: DataFrame,
    output_dir: str,
    num_partitions: int,
    user_id: str = "user",
) -> list[str]:
    """Write DataFrame[key, value] partition r, sorted, as text file r;
    returns the final file paths.  No shuffle: ``df`` must already hold
    each key in one partition and have at most ``num_partitions``
    partitions."""
    return write_reducer_files(
        df.sortWithinPartitions("key", "value"), output_dir, num_partitions, user_id
    )


def write_sorted_kv_text(
    df: DataFrame,
    output_dir: str,
    num_partitions: int,
    user_id: str = "user",
) -> list[str]:
    """Write DataFrame[key, value] as R sorted text files, hash-
    partitioned by key; returns the final file paths (see
    ``write_partition_files``)."""
    return write_partition_files(
        df.repartition(num_partitions, F.col("key")), output_dir, num_partitions, user_id
    )
