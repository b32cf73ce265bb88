from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduceinfrastructure_spark.session import get_spark  # noqa: E402
from mapreduceinfrastructure_spark.sources.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
TEST_CPUS = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        app_name="mri-spark-tests",
        cpus=TEST_CPUS,
        shuffle_partitions=TEST_CPUS,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="mri_wh_"),
            # under local[N] this JVM is also the executor, and its heap
            # grows toward session.py's 16g default (a small host's whole
            # memory) next to pytest's own DuckDB and pandas frames
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's order-insensitive compare: sort columns by
    name, then rows by all values."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


def assert_matches_oracle(spark_df, duck_con, sql: str, float_tol: float = 0.0) -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(duck_con.sql(sql).df())
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    for col in got.columns:
        g, w = got[col], want[col]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            diff = (g.astype(float) - w.astype(float)).abs()
            bad = diff > float_tol
            assert not bad.any(), (
                f"{col}: {int(bad.sum())} float mismatches, max diff {diff.max()}\n"
                f"{pd.concat([got[bad], want[bad]], axis=1).head()}"
            )
        else:
            eq = (g == w) | (g.isna() & w.isna())
            assert eq.all(), (
                f"{col}: {int((~eq).sum())} mismatches\n"
                f"spark:\n{got[~eq].head()}\noracle:\n{want[~eq].head()}"
            )


def jobs_in_group(spark, group, fn):
    """Run ``fn`` under a job group; return its result and job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
