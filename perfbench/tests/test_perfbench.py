"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first three groups need no Spark and take seconds; the last runs one
traced benchmark run end to end (a few minutes) and is skipped unless
PERFBENCH_E2E=1.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import zlib

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = gen.TableSizes(sf=0.001, documents=200, embeddings=300, dup_rate=0.1, clusters=4)


def _write_all(seed: int, root: str) -> list[str]:
    gen.write_tables(seed, os.path.join(root, "tables"), SMALL)
    gen.write_text(seed, os.path.join(root, "text"), 0.05, 200, 2)
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


# ------------------------------------------------------------ generator


def test_same_seed_same_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    files = _write_all(11, str(a))
    assert files == _write_all(11, str(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _write_all(12, str(c))
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch, "another seed must give other inputs"


def test_tables_keep_keys_and_plant_near_dups(tmp_path):
    import duckdb

    info = gen.write_tables(3, str(tmp_path), SMALL)
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    for table, key in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey"),
                       ("supplier", "s_suppkey"), ("documents", "doc_id"), ("embeddings", "vec_id")):
        n, distinct = con.sql(f"SELECT count(*), count(DISTINCT {key}) FROM {table}").fetchone()
        assert n == distinct == info["rows"][table]
    orphans = con.sql(
        "SELECT count(*) FROM lineitem l ANTI JOIN orders o ON l_orderkey = o_orderkey"
    ).fetchone()[0] + con.sql(
        "SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey"
    ).fetchone()[0]
    assert orphans == 0
    dups = con.sql("SELECT count(*) FROM documents WHERE text LIKE '% dup'").fetchone()[0]
    assert dups == round(SMALL.documents * SMALL.dup_rate)


def test_text_contains_the_grep_literal(tmp_path):
    info = gen.write_text(5, str(tmp_path), 0.2, 300, 2)
    assert check.expected_mr("grep", info["plain"], info["tagged"])


# ------------------------------------------------------------ checker


def _write_mr(out_dir, user_id: str, kv: dict[str, str], n_files: int) -> None:
    """A correct R-file layout: hash-partitioned, sorted within files."""
    parts: list[list[str]] = [[] for _ in range(n_files)]
    for k in kv:
        parts[zlib.crc32(k.encode()) % n_files].append(k)
    for r, keys in enumerate(parts):
        with open(os.path.join(out_dir, f"{user_id}_result_{r}"), "w") as f:
            f.write("".join(f"{k} {kv[k]}\n" for k in sorted(keys)))


@pytest.fixture
def mr_case(tmp_path):
    text = gen.write_text(7, str(tmp_path / "text"), 0.05, 100, 2)
    want = check.expected_mr("wordcount", text["plain"], text["tagged"])
    out = tmp_path / "out"
    out.mkdir()
    _write_mr(out, "wordcount", want, 4)
    assert check.check_mr_output(str(out), "wordcount", 4, want) is None
    return out, want


def _rewrite(path, fn) -> None:
    with open(path) as f:
        rows = f.read().split("\n")[:-1]
    with open(path, "w") as f:
        f.write("".join(r + "\n" for r in fn(rows)))


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: rows[::-1],  # not sorted
        lambda rows: [r.replace(" ", "  ", 1) for r in rows],  # double space
        lambda rows: [r.replace(" ", "\t", 1) for r in rows],  # wrong separator
        lambda rows: rows[1:],  # a key lost
        lambda rows: [rows[0].rsplit(" ", 1)[0] + " 999999", *rows[1:]],  # a wrong count
    ],
)
def test_checker_rejects_a_corrupted_mr_file(mr_case, corrupt):
    out, want = mr_case
    biggest = max(out.iterdir(), key=lambda p: p.stat().st_size)
    _rewrite(biggest, corrupt)
    assert check.check_mr_output(str(out), "wordcount", 4, want) is not None


def test_checker_rejects_a_missing_or_extra_mr_file(mr_case):
    out, want = mr_case
    (out / "wordcount_result_0").rename(out / "wordcount_result_9")
    assert check.check_mr_output(str(out), "wordcount", 4, want) is not None


def test_checker_rejects_a_wrong_query_result(tmp_path):
    gen.write_tables(9, str(tmp_path), SMALL)
    oracle = check.Oracle(str(tmp_path))
    try:
        want = oracle.result("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem GROUP BY 1")
    finally:
        oracle.close()
    got = want.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert check.same_result(got, want) is None  # row order is free
    off = got.copy()
    off.loc[0, "q"] += 0.01
    assert check.same_result(off, want) == "value hash differs"
    assert check.same_result(got.iloc[1:], want) is not None
    assert check.same_result(got.rename(columns={"n": "cnt"}), want) is not None


# ------------------------------------------------------------ metric names


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_recs(n_warm: int) -> list[dict]:
    recs = []
    for p in range(n_warm + 1):
        for i, name in enumerate(("a", "b", "c", "d", "e", "f")):
            recs.append({"pass": p, "name": name, "family": "relational", "group": f"p{p}:{name}",
                         "ok": True, "build_s": 0.1, "action_s": 0.2, "wall_s": 0.3 + i / 10 + p / 100})
    return recs


def test_end_to_end_names_match_benchmark_json():
    recs = _fake_recs(2)
    e2e = run.end_to_end(recs, [2.0, 2.1], 5.0, 12.0, 3.0)
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: unit for k, (_, unit, _) in e2e.items()} == spec


def test_per_layer_names_match_benchmark_json():
    recs = _fake_recs(2)
    layers = {k: 1.0 for k in run.MICRO_LAYER_METRICS}
    m = run.per_layer(recs, (1.0, 2.0), layers, {}, 0.01, 0.5, 900.0)
    assert sorted(m) == sorted(x["name"] for x in _spec()["per_layer"])


def test_tail_has_ten_samples_beyond_it():
    value, pct, n = run.tail([float(i) for i in range(40)])
    assert (value, pct, n) == (29.0, 75.0, 40)
    assert sum(1 for i in range(40) if i > value) == 10
    assert run.tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="set PERFBENCH_E2E=1 (a few minutes)")
def test_traced_run_emits_every_per_layer_metric():
    res = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "analytics", "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400, check=True,
    )
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == spec
    pd.Series([v["value"] for v in out["metrics"].values()]).astype(float)
