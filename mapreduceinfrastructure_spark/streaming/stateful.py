"""Custom stateful streaming operator via applyInPandasWithState.

Completes the streaming surface (SURVEY.md §2.3 row: watermark/windows/
state): beyond built-in windows and session_window, arbitrary per-key
state machines run as Arrow-batched pandas functions with explicit
state.  The example operator is a per-user running profile (event count,
value sum, last-seen) — the shape of online feature aggregation in a
training-data pipeline.

Scale notes: state is partitioned by key across the state store
(RocksDB/HDFS-backed on a cluster); the watermark-driven timeout
(``GroupStateTimeout``) bounds state lifetime for idle keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _profile_frame(user_id, n: int, total: float, last: int) -> pd.DataFrame:
    """One OUTPUT_SCHEMA row for a user's updated profile."""
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "last_ts_us": [last],
        }
    )


def streaming_user_profiles(events_raw: DataFrame) -> DataFrame:
    """Per-user stateful profile stream.

    ``events_raw`` may carry ``ts`` as nanos-long, TIMESTAMP, or
    TIMESTAMP_NTZ — it is normalized to an epoch-microseconds ``ts_us``
    long Spark-side before the Arrow transfer, so the pandas state math
    is layout-independent.

    The state-update function is nested (cloudpickled by value); the
    output row it yields comes from the module-level ``_profile_frame``,
    so unpickling imports this package on the worker, and
    ``ensure_package_on_executors`` makes it importable there for
    drivers launched from any cwd.
    """
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(events_raw.sparkSession)

    ts_type = dict(events_raw.dtypes).get("ts")
    if ts_type == "bigint":
        ts_us = F.expr("ts div 1000")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    events_norm = events_raw.withColumn("ts_us", ts_us).drop("ts")

    def update_profile(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # fold this micro-batch's events into the per-user running state
        n, total, last = state.get if state.exists else (0, 0.0, 0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last = max(last, int(pdf["ts_us"].max()))
        state.update((n, total, last))
        yield _profile_frame(key[0], n, total, last)

    return events_norm.groupBy("user_id").applyInPandasWithState(
        update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
