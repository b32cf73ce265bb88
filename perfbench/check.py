"""Output checks, run outside every timed region.

Registry queries are compared with their ``oracle_sql()`` twin in DuckDB
over the same generated files, by the value-hash rule of
scripts/drive_verify.py: equal row count,
equal sorted column names, equal order-insensitive md5 of the values
with floats rounded to 6 places.

MapReduce jobs are checked against the reference's output contract
(exactly R files ``<user>_result_<r>``, each sorted by key, one
``key value`` row per line with a single space) and against a pure
Python count, grep or inverted index of the generated text that shares
no code with the engine.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter, defaultdict

import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# the reference's strtok delimiter class (test/user_tasks.cc:15)
_TOKEN_SPLIT = re.compile(r"[ ,.\"']+")
GREP_PATTERN = "fast join"


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
    if len(pdf) == 0:
        return hashlib.md5("|".join(pdf.columns).encode()).hexdigest()
    cols = [pdf[c].astype(str) for c in pdf.columns]
    rows = sorted(cols[0].str.cat(cols[1:], sep="|").tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``, else the first mismatch."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if value_hash(got) != value_hash(want):
        return "value hash differs"
    return None


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")

    def result(self, sql: str) -> pd.DataFrame:
        return self.con.sql(sql).df()

    def close(self) -> None:
        self.con.close()


# ------------------------------------------------------------ MapReduce


def expected_mr(user_id: str, plain: list[str], tagged: list[str]) -> dict[str, str]:
    """key -> value the job must produce, computed without the engine."""
    if user_id == "wordcount":
        counts: Counter[str] = Counter()
        for path in plain:
            with open(path) as f:
                for line in f:
                    counts.update(t for t in _TOKEN_SPLIT.split(line.rstrip("\n")) if t)
        return {k: str(v) for k, v in counts.items()}
    records = []
    for path in tagged:
        with open(path) as f:
            records.extend(line.rstrip("\n").split("\t", 1) for line in f)
    if user_id == "grep":
        return {doc: text for doc, text in records if GREP_PATTERN in text}
    if user_id == "invidx":
        index: dict[str, set[int]] = defaultdict(set)
        for doc, text in records:
            for t in _TOKEN_SPLIT.split(text):
                if t:
                    index[t].add(int(doc))
        return {k: ",".join(map(str, sorted(v))) for k, v in index.items()}
    raise KeyError(user_id)


def check_mr_output(output_dir: str, user_id: str, n_files: int, expected: dict[str, str]) -> str | None:
    """None when ``output_dir`` holds the job's exact R-file result."""
    names = sorted(os.listdir(output_dir))
    want_names = sorted(f"{user_id}_result_{r}" for r in range(n_files))
    if names != want_names:
        return f"files {names} != {want_names}"
    got: dict[str, str] = {}
    for name in names:
        prev = None
        with open(os.path.join(output_dir, name), newline="") as f:
            data = f.read()
        if data and not data.endswith("\n"):
            return f"{name}: last row has no newline"
        for row in data.split("\n")[:-1]:
            key, sep, value = row.partition(" ")
            if not sep or not key or value.startswith(" ") or "\r" in row:
                return f"{name}: row {row[:60]!r} is not 'key value'"
            if prev is not None and key < prev:
                return f"{name}: key {key!r} after {prev!r}, not sorted"
            if key in got:
                return f"{name}: key {key!r} written twice"
            got[key] = value
            prev = key
    if got != expected:
        missing = len(expected.keys() - got.keys())
        extra = len(got.keys() - expected.keys())
        wrong = sum(1 for k in got.keys() & expected.keys() if got[k] != expected[k])
        return f"result differs: {missing} missing, {extra} extra, {wrong} wrong keys"
    return None
