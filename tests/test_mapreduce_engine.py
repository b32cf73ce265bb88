"""The generic MapReduce fidelity layer: programming-model parity with
the reference (map/emit + reduce/emit, config-driven job, sorted
partitioned text output)."""

from __future__ import annotations

import os
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from mapreduceinfrastructure_spark.operators import mapreduce as mr
from mapreduceinfrastructure_spark.sinks.textsink import write_sorted_kv_text


def python_wordcount(lines: list[str]) -> Counter:
    """Independent strtok-faithful oracle."""
    c: Counter = Counter()
    for line in lines:
        for tok in line.replace(",", " ").replace(".", " ").replace('"', " ").replace("'", " ").split():
            c[tok] += 1
    return c


def test_strtok_semantics():
    # consecutive delimiters yield no empty tokens (user_tasks.cc:15-21)
    assert list(mr.wordcount_map('a,,b.."c"  d\'')) == [
        ("a", "1"), ("b", "1"), ("c", "1"), ("d", "1"),
    ]
    assert list(mr.wordcount_map("")) == []
    assert list(mr.wordcount_map(" ,.\"'")) == []


def test_registry_refuses_duplicates():
    assert mr.register_tasks("wordcount", mr.wordcount_map, mr.wordcount_reduce) is False


def test_map_reduce_matches_builtin(spark, sf_dir):
    """word_count through the generic engine == built-in word_count."""
    from mapreduceinfrastructure_spark.operators.text_analysis import word_count

    got = {
        (r["word"], r["cnt"]) for r in mr.word_count_mr(spark, sf_dir).collect()
    }
    want = {(r["word"], r["cnt"]) for r in word_count(spark, sf_dir).collect()}
    assert got == want


def test_run_job_end_to_end(spark, tmp_path):
    """Full MapReduce::run parity: config file -> sorted R-file output."""
    lines = [
        "the quick brown fox",
        "the lazy dog, the end.",
        'quick "quotes" and \'apostrophes\' here',
        "",
        "fox fox fox",
    ]
    inp = tmp_path / "input.txt"
    inp.write_text("\n".join(lines) + "\n")
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    config = tmp_path / "config.ini"
    config.write_text(
        "n_workers=6\n"
        "worker_ipaddr_ports=localhost:50051,localhost:50052\n"
        f"input_files={inp}\n"
        f"output_dir={out_dir}\n"
        "n_output_files=4\n"
        "map_kilobytes=500\n"
        "user_id=wordcount\n"
    )
    spec = mr.read_spec_from_config_file(str(config))
    assert spec.n_output_files == 4 and spec.user_id == "wordcount"
    assert mr.validate_spec(spec)

    mr.run_job(spark, spec)

    files = sorted(os.listdir(out_dir))
    assert files == [f"wordcount_result_{r}" for r in range(4)]

    seen: Counter = Counter()
    for fname in files:
        rows = (out_dir / fname).read_text().splitlines()
        keys = [row.split(" ", 1)[0] for row in rows]
        assert keys == sorted(keys), f"{fname} not sorted by key"
        for row in rows:
            k, v = row.split(" ", 1)
            seen[k] += int(v)
    assert seen == python_wordcount(lines)
    # every key lands in exactly one partition file
    all_keys = []
    for fname in files:
        all_keys.extend({r.split(" ", 1)[0] for r in (out_dir / fname).read_text().splitlines()})
    assert len(all_keys) == len(set(all_keys))


def test_invalid_spec_rejected(spark, tmp_path):
    spec = mr.JobSpec(user_id="", input_files=[str(tmp_path / "nope.txt")])
    assert not mr.validate_spec(spec)


def test_sink_empty_partitions(spark, tmp_path):
    """Sink emits exactly R files even when R > #distinct keys."""
    df = spark.createDataFrame([("k", "v")], "key string, value string")
    paths = write_sorted_kv_text(df, str(tmp_path), 5, user_id="u")
    assert len(paths) == 5
    contents = [open(p).read() for p in sorted(paths)]
    assert sum(1 for c in contents if c.strip()) == 1


def test_partition_files_refuses_more_than_r_partitions(spark, tmp_path):
    """Partition r becomes file r, so a frame with more than R partitions
    is an error, not silently dropped files."""
    from mapreduceinfrastructure_spark.sinks.textsink import write_partition_files

    df = spark.createDataFrame([(f"k{i}", "v") for i in range(6)], "key string, value string")
    with pytest.raises(ValueError, match="more than R=2"):
        write_partition_files(df.repartition(3), str(tmp_path), 2, user_id="u")


def test_cli_main_runs_reference_config_shape(spark, tmp_path):
    """The module CLI (python -m mapreduceinfrastructure_spark
    config.ini) — the reference's ./mrdemo entry — must parse the
    reference config format, alias its shipped cs6210 user id onto the
    wordcount task, run, and leave exactly n_output_files sorted text
    files.  Invoked in-process so the already-running test session is
    reused (get_spark getOrCreate)."""
    import glob

    from mapreduceinfrastructure_spark.__main__ import main

    inp = tmp_path / "in.txt"
    inp.write_text("b a a\nc b a\n")
    out_dir = tmp_path / "out"
    config = tmp_path / "config.ini"
    config.write_text(
        "n_workers=2\n"
        "worker_ipaddr_ports=localhost:50051,localhost:50052\n"
        f"input_files={inp}\n"
        f"output_dir={out_dir}\n"
        "n_output_files=3\n"
        "map_kilobytes=500\n"
        "user_id=cs6210\n"
    )
    assert main(["prog", str(config)]) == 0
    parts = sorted(glob.glob(str(out_dir / "wordcount_result_*")))
    assert len(parts) == 3
    kv = {}
    for p in parts:
        lines = open(p).read().splitlines()
        assert lines == sorted(lines)  # per-file sorted contract
        for line in lines:
            k, v = line.split(" ")
            kv[k] = int(v)
    assert kv == {"a": 3, "b": 2, "c": 1}

    # bad argv and bad spec paths return the reference's failure codes
    assert main(["prog"]) == 2
    bad = tmp_path / "bad.ini"
    bad.write_text("user_id=\n")
    assert main(["prog", str(bad)]) == 1


# ------------------------------------------------ streaming reduce over key runs

def _split_map(line):
    """"k v" -> (k, v); the key "-" stands for a None key."""
    k, _, v = line.partition(" ")
    yield (None if k == "-" else k), v


def _shape_reduce(key, values):
    """0 pairs for keys starting with "z", one per value for keys
    starting with "m", else one pair of the joined value list."""
    if key is not None and key.startswith("z"):
        return
    if key is not None and key.startswith("m"):
        for v in values:
            yield key, v
        return
    yield key, ",".join(values)


def _count_reduce(key, values):
    yield key, str(len(values))


def _oracle(lines, reduce_fn):
    groups = defaultdict(list)
    for line in lines:
        for k, v in _split_map(line):
            groups[k].append(v)
    return Counter(kv for k, vs in groups.items() for kv in reduce_fn(k, sorted(vs)))


# a hot key over many 7-row Arrow batches, a None key, keys reduced to
# 0 / 1 / many pairs, and values arriving out of order
_RUN_LINES = (
    [f"hot {i:03d}" for i in range(60, 0, -1)]
    + [f"- n{i}" for i in range(9)]
    + [f"zap {i}" for i in range(11)]
    + [f"many {i}" for i in range(13)]
    + ["one x", "b 2", "b 1", "c 0"]
)


@pytest.fixture
def small_arrow_batches(spark):
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    yield
    spark.conf.set(conf, prev)


@pytest.mark.parametrize("num_partitions", [None, 3, 64])
@pytest.mark.parametrize("reduce_fn", [_shape_reduce, _count_reduce])
def test_streaming_reduce_matches_oracle(spark, small_arrow_batches, num_partitions, reduce_fn):
    """Each key is reduced exactly once with its full, value-sorted list,
    whether its run spans batches, is None, or R exceeds the distinct
    keys (64 > 7)."""
    df = spark.createDataFrame([(x,) for x in _RUN_LINES], "line string").repartition(4)
    got = mr.map_reduce(df, _split_map, reduce_fn, num_partitions).collect()
    assert Counter((r["key"], r["value"]) for r in got) == _oracle(_RUN_LINES, reduce_fn)
    if reduce_fn is _count_reduce:
        assert len(got) == len({r["key"] for r in got}) == 7


def test_map_reduce_plan_has_one_exchange_and_no_group_calls(spark):
    """The reduce streams sorted runs: no per-group FlatMapGroupsInPandas
    node, and the hash partitioning is the plan's only shuffle."""
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan, shuffle_count

    df = spark.createDataFrame([("a b",)], "line string")
    kv = mr.map_reduce(df, mr.wordcount_map, mr.wordcount_reduce, 4)
    plan = formatted_plan(kv)
    assert "FlatMapGroupsInPandas" not in plan
    assert len(re.findall(r"\(\d+\) \w*Exchange\b", plan)) == shuffle_count(kv) == 1


def test_run_job_is_one_shuffle_reducer_r_writes_file_r(spark, tmp_path):
    """run_job runs two stages (map, then reduce + write), the map_reduce
    frame has R partitions, and file r holds exactly partition r's keys."""
    from mapreduceinfrastructure_spark.sources.text import read_text_lines

    R = 5
    inp = tmp_path / "input.txt"
    inp.write_text("".join(f"w{i % 37} w{i % 11} common\n" for i in range(300)))
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    spec = mr.JobSpec("wordcount", [str(inp)], str(out_dir), R, map_kilobytes=2)

    sc = spark.sparkContext
    group = "test-one-shuffle-run-job"
    sc.setJobGroup(group, "run_job")
    try:
        mr.run_job(spark, spec)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    ran = set()
    for j in st.getJobIdsForGroup(group):
        for s in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                ran.add(s)
    assert len(ran) == 2

    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        lines = read_text_lines(spark, [str(inp)], shard_kilobytes=2)
        kv = mr.map_reduce(lines, mr.wordcount_map, mr.wordcount_reduce, num_partitions=R)
        assert kv.rdd.getNumPartitions() == R
        part_keys = defaultdict(set)
        for row in kv.select(F.spark_partition_id().alias("p"), "key").collect():
            part_keys[row["p"]].add(row["key"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
    for r in range(R):
        rows = (out_dir / f"wordcount_result_{r}").read_text().splitlines()
        assert {row.split(" ", 1)[0] for row in rows} == part_keys[r]
    assert sum(len(v) for v in part_keys.values()) == 38  # w0..w36 + common


# ------------------------------------------- reducer r writes file r itself

def _model_files(spark, pairs, R):
    """Expected bytes of each of the R files: ``pairs`` in the order the
    reduce emits them (keys ascending, nulls first), each placed by the
    shuffle's hash(key) % R and written as a concat_ws(" ", key, value)
    line — a null is skipped with its separator."""
    part = {
        row["key"]: row["p"]
        for row in spark.createDataFrame([(k,) for k in {k for k, _ in pairs}], "key string")
        .select("key", F.expr(f"pmod(hash(key), {R})").alias("p"))
        .collect()
    }
    files = [""] * R
    for k, v in pairs:
        files[part[k]] += " ".join(x for x in (k, v) if x is not None) + "\n"
    return files


def _python_job(user_id, lines):
    """The registered task in plain Python: group, sort values, reduce
    each key in key order."""
    map_fn, reduce_fn = mr.get_tasks(user_id)
    groups = defaultdict(list)
    for line in lines:
        for k, v in map_fn(line):
            groups[k].append(v)
    return [kv for k in sorted(groups) for kv in reduce_fn(k, sorted(groups[k]))]


def _read_files(out_dir, user_id, R):
    assert sorted(os.listdir(out_dir)) == sorted(f"{user_id}_result_{r}" for r in range(R))
    return [(out_dir / f"{user_id}_result_{r}").read_bytes().decode("utf-8") for r in range(R)]


_JOB_TEXT = [
    "Zeta zeta é 😀 fast join here",
    "the fast join, again. é",
    "",
    "z Z 😀 'quoted' \"and\" more, words.",
    "fast join fast join",
]


@pytest.mark.parametrize("user_id", ["wordcount", "grep", "invidx"])
def test_run_job_files_match_python_model(spark, tmp_path, user_id):
    """The three registered jobs: file r is byte-equal to the sorted
    ``key value`` lines a pure-Python run puts in reducer r, with
    non-ASCII keys ordered as Spark sorts them."""
    lines = _JOB_TEXT if user_id == "wordcount" else [f"{i}\t{t}" for i, t in enumerate(_JOB_TEXT * 3)]
    inp = tmp_path / "in.txt"
    inp.write_text("".join(f"{line}\n" for line in lines), encoding="utf-8")
    out_dir = tmp_path / "out"
    R = 3
    mr.run_job(spark, mr.JobSpec(user_id, [str(inp)], str(out_dir), R))
    want = _model_files(spark, _python_job(user_id, lines), R)
    assert _read_files(out_dir, user_id, R) == want
    assert sum(map(len, want)) > 0


def test_sink_null_key_and_value_follow_concat_ws(spark, tmp_path):
    """A null key or value is skipped with its separator; null keys sort
    first."""
    pairs = [(None, "v1"), (None, None), ("k", None), ("k", "a"), ("é", "x"), ("😀", "y")]
    df = spark.createDataFrame(pairs, "key string, value string")
    write_sorted_kv_text(df, str(tmp_path), 2, user_id="u")
    nulls_first = sorted(pairs, key=lambda kv: [(x is not None, x or "") for x in kv])
    assert _read_files(tmp_path, "u", 2) == _model_files(spark, nulls_first, 2)


def test_sink_non_ascii_order_on_unpartitioned_frame(spark, tmp_path):
    """write_sorted_kv_text on a frame not partitioned by key: the order
    guard agrees with Spark's sort ("Z" < "z" < "é" < "😀") and raises
    no false error."""
    keys = ["😀", "z", "é", "Z", "a", "é", "zz", "Zé"]
    pairs = [(k, str(i)) for i, k in enumerate(keys)]
    df = spark.createDataFrame(pairs, "key string, value string").repartition(3)
    for R in (1, 4):
        out = tmp_path / f"r{R}"
        paths = write_sorted_kv_text(df, str(out), R, user_id="u")
        assert paths == [str(out / f"u_result_{r}") for r in range(R)]
        assert _read_files(out, "u", R) == _model_files(spark, sorted(pairs), R)


def test_run_job_more_files_than_keys(spark, tmp_path):
    """R above the number of distinct keys: exactly R files, and the
    files of reducers that got no key are empty."""
    inp = tmp_path / "in.txt"
    inp.write_text("b a a\nc b a\n")
    out_dir = tmp_path / "out"
    R = 16
    mr.run_job(spark, mr.JobSpec("wordcount", [str(inp)], str(out_dir), R))
    got = _read_files(out_dir, "wordcount", R)
    assert got == _model_files(spark, [("a", "3"), ("b", "2"), ("c", "1")], R)
    assert sum(1 for text in got if text == "") == R - 3


def _backwards_reduce(key, values):
    yield key, str(len(values))
    if key == "b":
        yield "a", "late"


mr.register_tasks("test_backwards", mr.wordcount_map, _backwards_reduce)


def test_reduce_emitting_smaller_key_fails_the_job(spark, tmp_path):
    """A key below the previous one in the same file fails the job with
    both keys named, and no staging directory is left behind."""
    inp = tmp_path / "in.txt"
    inp.write_text("a b c\n")
    out_dir = tmp_path / "out"
    with pytest.raises(Exception, match="wrote key 'a' after 'b'"):
        mr.run_job(spark, mr.JobSpec("test_backwards", [str(inp)], str(out_dir), 1))
    assert not [n for n in os.listdir(out_dir) if "staging" in n]


def test_sink_refuses_uri_output_dir(spark):
    df = spark.createDataFrame([("k", "v")], "key string, value string")
    for uri in ("file:///tmp/out", "hdfs://nn/out", "s3a://bucket/out"):
        with pytest.raises(ValueError, match="is a URI"):
            write_sorted_kv_text(df, uri, 2)


_RETRY_PROBE = r"""
import os, sys

from mapreduceinfrastructure_spark.operators import mapreduce as mr
from mapreduceinfrastructure_spark.session import get_spark

root = sys.argv[1]
marker = os.path.join(root, "attempt0_failed")


def faulty_reduce(key, values):
    # reducer 0's first attempt fails on its 20th key, after earlier
    # keys' output went to the writer; the retry runs clean
    from pyspark import TaskContext

    ctx = TaskContext.get()
    calls.append(key)
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and len(calls) == 20:
        open(marker, "w").close()
        raise RuntimeError("injected reducer fault")
    yield key, str(sum(int(v) for v in values))


calls = []
mr.register_tasks("retry", mr.wordcount_map, faulty_reduce)
mr.register_tasks("clean", mr.wordcount_map, mr.wordcount_reduce)
spark = get_spark(
    app_name="mri-retry-probe", cpus=2, shuffle_partitions=2,
    extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "7"},
)
inp = os.path.join(root, "in.txt")
with open(inp, "w") as f:
    f.writelines(f"w{i:03d} w{i % 17:03d} w{(i * 7) % 101:03d}\n" for i in range(300))
for user_id in ("clean", "retry"):
    mr.run_job(spark, mr.JobSpec(user_id, [inp], os.path.join(root, user_id), 2))
spark.stop()
print("ok")
"""


def test_task_retry_leaves_the_same_files(tmp_path):
    """With task retries on (local[2,2]), reducer 0 failing mid-output on
    its first attempt leaves the same R files as a fault-free run and no
    staging entries: the retry's temp file replaces the result whole."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[2,2]")
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_PROBE, str(tmp_path)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")
    assert (tmp_path / "attempt0_failed").exists()
    clean = _read_files(tmp_path / "clean", "clean", 2)
    assert _read_files(tmp_path / "retry", "retry", 2) == clean
    assert all(clean)
