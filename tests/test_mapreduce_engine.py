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
