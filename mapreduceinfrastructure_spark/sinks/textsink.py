"""Reference-faithful output sink: R text files, ``key value\\n`` rows,
sorted by key within each file.

Format mandate: single-space separator (description.md:66-68;
src/mr_tasks.h:90 ``key << " " << val``); per-file sort mandate
(description.md:62, via std::map iteration in src/worker.h:105).
File naming ``{user_id}_result_{r}`` (src/mr_tasks.h:67).

Unlike the reference, output is overwritten, not appended — the
reference's append-mode files corrupt re-runs (src/mr_tasks.h:25,69;
manual cleanup demanded by structure.md:50); we do not replicate that.

Two entry points.  ``write_partition_files`` writes a frame that is
already partitioned by key in place, partition r as file r: ``run_job``
hands it ``map_reduce``'s R reducer partitions, so the job has one
shuffle, as the reference does.  ``write_sorted_kv_text`` first
hash-partitions any DataFrame[key, value] into R by key.

Scale note: ``repartition(R, key)`` + ``sortWithinPartitions`` is the
reference's exact layout contract (hash partition by key, sort within
partition) and never requires a global sort.  For globally ordered
output use ``repartitionByRange`` instead (one extra sampling pass).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partition_files(
    df: DataFrame,
    output_dir: str,
    num_partitions: int,
    user_id: str = "user",
    rename_to_reference_layout: bool = True,
) -> list[str]:
    """Write DataFrame[key, value] partition r, sorted, as text file r;
    returns the final file paths.  No shuffle: ``df`` must already hold
    each key in one partition and have at most ``num_partitions``
    partitions.  With ``rename_to_reference_layout`` the Spark
    ``part-<r>-*`` files are renamed to ``{user_id}_result_{r}`` (local
    filesystem paths only) and padded with empty files to exactly R."""
    staging = os.path.join(output_dir, f"_{user_id}_staging")
    (
        df.sortWithinPartitions("key", "value")
        .select(F.concat_ws(" ", F.col("key"), F.col("value")).alias("line"))
        .write.mode("overwrite")
        .text(staging)
    )
    parts = sorted(glob.glob(os.path.join(staging, "part-*")))
    if not rename_to_reference_layout:
        return parts
    # part-<r>-<uuid>... is written by the task of partition r; a
    # partition with no rows writes no part file, so name by r, not rank
    out_paths = [os.path.join(output_dir, f"{user_id}_result_{r}") for r in range(num_partitions)]
    written = {int(os.path.basename(part).split("-")[1]): part for part in parts}
    if written and max(written) >= num_partitions:
        raise ValueError(
            f"partition {max(written)} written to {staging}: df has more than R={num_partitions} partitions"
        )
    for r, dest in enumerate(out_paths):
        if r in written:
            shutil.move(written[r], dest)
        else:
            # empty files so exactly R outputs exist, as the reference
            # does (it opens all R up front, mr_tasks.h:66-70)
            open(dest, "w").close()
    shutil.rmtree(staging, ignore_errors=True)
    return out_paths


def write_sorted_kv_text(
    df: DataFrame,
    output_dir: str,
    num_partitions: int,
    user_id: str = "user",
    rename_to_reference_layout: bool = True,
) -> list[str]:
    """Write DataFrame[key, value] as R sorted text files, hash-
    partitioned by key; returns the final file paths (see
    ``write_partition_files``)."""
    return write_partition_files(
        df.repartition(num_partitions, F.col("key")),
        output_dir,
        num_partitions,
        user_id=user_id,
        rename_to_reference_layout=rename_to_reference_layout,
    )
