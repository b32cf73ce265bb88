"""Repository benchmark: one workload in one fresh driver process.

    python3 perfbench/run.py --workload analytics --seed 7 --seconds 10 --trace 0

Closed loop: one driver process on ``local[<cpus>]`` submits the
workload's jobs back to back.  Pass 0 runs in the fresh session (the
cold path); then whole warm passes run, ``ceil(--seconds / pass budget)``
of them.  Every input is generated from
``--seed`` before the first job; the engine reads only those files.
Every MapReduce job's files and every registry query's result are
checked outside the timed regions (see check.py).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
protocol with the Spark event log and the benchmark's spans switched on
and prints the per-layer metrics.  The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  The layer map
and the probe sizings are in README.md next to this file.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from check import Oracle  # noqa: E402
from tracing import RssSampler, Tracer, read_event_log, task_metrics_by_group  # noqa: E402

# Sizes are cut down from the probe sizings in README.md so that one run
# (fresh session, cold pass, warm passes, checks) takes about a minute
# on a 4-CPU host.
MR_TASKS = ("wordcount", "grep", "invidx")
MR_TEXT_MB = 0.5  # the plain copy; the tab-tagged copy adds about 5%
MR_VOCAB = 500
MR_FILES = 4
MR_MAP_KB = 128
MR_OUTPUTS = 8
MIN_TAIL_SAMPLES = 11  # job_tail_s needs 10 warm samples beyond it


@dataclass(frozen=True)
class Workload:
    mr: bool  # runs the reference's three MapReduce jobs through run_job
    queries: tuple[str, ...]  # registry queries, after the MapReduce jobs
    sizes: gen.TableSizes
    pass_budget_s: float  # seconds of --seconds that buy one warm pass


WORKLOADS = {
    "analytics": Workload(
        False,
        (
            "word_count", "key_stats", "sessionize", "tpch_q1", "tpch_q6", "tpch_q21",
            "rolling_time_window",
        ),
        gen.TableSizes(sf=0.01, documents=1000, embeddings=500, dup_rate=0.05, clusters=10),
        2.5,
    ),
    "curation": Workload(
        True,
        ("dedup_clusters", "pq_adc_topk", "cosine_topk"),
        gen.TableSizes(sf=0.001, documents=1000, embeddings=4000, dup_rate=0.05, clusters=16),
        12.0,
    ),
}

# a run stops starting warm passes past this wall (a run must end within 180 s)
RUN_WALL_CAP_S = 120.0


def _process_start() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _confine_to(run_dir: str) -> dict[str, str]:
    """Point every scratch location Spark, the JVM and Python use into
    ``run_dir`` inside the checkout; returns the session conf that
    completes it."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={tmp}",
    }


def _start_session(conf: dict[str, str], cpus: int):
    from mapreduceinfrastructure_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------ jobs


@dataclass
class Job:
    name: str
    family: str
    build: object  # () -> DataFrame
    action: object  # (DataFrame) -> result, or None when build did the work
    check: object  # (result) -> None, or a description of the mismatch
    prepare: object = None  # () -> None, run before the timed build


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_jobs(spark, names, sf_dir, oracle) -> list[Job]:
    """Registry queries; the action collects the result so that every
    job's output can be checked without running the query again."""
    import __spark_entry__ as entry

    from check import same_result

    qs, sqls = entry.queries(), entry.oracle_sql()
    want: dict[str, object] = {}
    jobs = []
    for name in names:
        fn = qs[name]

        def check(got, name=name):
            if name not in want:
                want[name] = oracle.result(sqls[name])
            return same_result(got, want[name])

        jobs.append(Job(name, fn.__module__.rsplit(".", 1)[-1], lambda fn=fn: fn(spark, sf_dir),
                        lambda df: df.toPandas(), check))
    return jobs


def mr_jobs(spark, text: dict, out_root: str) -> list[Job]:
    """The reference's jobs through ``run_job``: R sorted text files each."""
    from check import check_mr_output, expected_mr
    from mapreduceinfrastructure_spark.operators.mapreduce import JobSpec, run_job

    jobs = []
    for user_id in MR_TASKS:
        out_dir = os.path.join(out_root, user_id)
        inputs = text["plain"] if user_id == "wordcount" else text["tagged"]
        spec = JobSpec(user_id, inputs, out_dir, MR_OUTPUTS, MR_MAP_KB)
        want = expected_mr(user_id, text["plain"], text["tagged"])

        def prepare(spec=spec):
            shutil.rmtree(spec.output_dir, ignore_errors=True)
            os.makedirs(spec.output_dir)

        def check(_result, spec=spec, want=want):
            return check_mr_output(spec.output_dir, spec.user_id, MR_OUTPUTS, want)

        jobs.append(Job(user_id, "mapreduce", lambda spec=spec: run_job(spark, spec), None, check, prepare))
    return jobs


# ------------------------------------------------------------ passes

_PY_NODE = re.compile(r"\(\d+\) \w*(?:Python|Pandas|InArrow)\w*")


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numTasks
    return len(ids), stages, tasks


def _storage(sc) -> tuple[int, float]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum((i.memSize() + i.diskSize()) for i in infos) / 1e6


def _plan_shape(df) -> tuple[int, int, int]:
    from mapreduceinfrastructure_spark.plans.explain import formatted_plan, shuffle_count

    plan = formatted_plan(df)
    return shuffle_count(df), len(_PY_NODE.findall(plan)), len(plan)


def run_pass(spark, jobs, p: int, tracer: Tracer, plans: bool) -> list[dict]:
    """One closed-loop pass: each job's build and action are timed; its
    Spark counts, storage, plan and output check are taken after it."""
    sc = spark.sparkContext
    recs = []
    for job in jobs:
        group = f"p{p}:{job.name}"
        rec = {"pass": p, "name": job.name, "family": job.family, "group": group, "ok": True}
        df = result = None
        try:
            if job.prepare is not None:
                job.prepare()
            with tracer.span("job", p, group):
                sc.setJobGroup(f"{group}:build", job.name)
                t0 = time.perf_counter()
                with tracer.span("build", p, f"{group}:build"):
                    df = job.build()
                t1 = time.perf_counter()
                if job.action is not None:
                    sc.setJobGroup(f"{group}:action", job.name)
                    with tracer.span("action", p, f"{group}:action"):
                        result = job.action(df)
                t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
            if tracer.enabled:
                rec["build_jobs"], s1, n1 = _job_counts(sc, f"{group}:build")
                _, s2, n2 = _job_counts(sc, f"{group}:action")
                rec["stages"], rec["tasks"] = s1 + s2, n1 + n2
                rec["rdds"], rec["stored_mb"] = _storage(sc)
                if plans:
                    rec["exchanges"], rec["python_nodes"], rec["plan_chars"] = _plan_shape(df)
            err = job.check(result)
            if err:
                rec.update(ok=False, error=f"check: {err}")
        except Exception as ex:  # a failed job is counted, the loop goes on
            rec.update(ok=False, error=f"{type(ex).__name__}: {ex}"[:500])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            del df, result
            spark.catalog.clearCache()
            gc.collect()
        recs.append(rec)
    return recs


# ------------------------------------------------------------ layers (traced run only)


MICRO_LAYER_METRICS = (
    "sources.scan_s", "sources.splits", "sources.input_mb",
    "mapreduce.map_fn_s", "mapreduce.reduce_fn_s",
    "sinks.write_s", "sinks.files", "sinks.mb_written",
    "batchmath.full_d2_s", "batchmath.subspace_d2_s", "batchmath.pq_codes_s",
    "batchmath.gflop", "batchmath.mb_moved",
)


def measure_layers(spark, wl: Workload, inputs: dict, tracer: Tracer) -> dict[str, float]:
    """The layers timed from outside, after the passes: a scan-only job
    per source, the MapReduce UDFs and the batchmath kernels in-process,
    and the text sink on a cached result; keys are MICRO_LAYER_METRICS."""
    import numpy as np

    from mapreduceinfrastructure_spark.functions import batchmath
    from pyspark.sql import functions as F

    from mapreduceinfrastructure_spark.operators.mapreduce import get_tasks
    from mapreduceinfrastructure_spark.sinks.textsink import write_sorted_kv_text
    from mapreduceinfrastructure_spark.sources.tables import TABLE_NAMES, load_table
    from mapreduceinfrastructure_spark.sources.text import read_text_lines

    out: dict[str, float] = {}
    sc = spark.sparkContext

    # sources: scan-only jobs over every generated input; the text's
    # split size is session conf (see read_text_lines), restored after
    sc.setJobGroup("layer:sources", "scan")
    split_conf = "spark.sql.files.maxPartitionBytes"
    prev_split = spark.conf.get(split_conf)
    scan_s = splits = 0.0
    with tracer.span("sources.scan", group="layer:sources"):
        sources = [lambda t=t: load_table(spark, inputs["sf_dir"], t) for t in TABLE_NAMES]
        if wl.mr:
            sources.append(lambda: read_text_lines(spark, inputs["plain"] + inputs["tagged"], MR_MAP_KB))
        try:
            for source in sources:
                t0 = time.perf_counter()
                df = source()
                _noop(df)
                scan_s += time.perf_counter() - t0
                splits += df.rdd.getNumPartitions()
        finally:
            spark.conf.set(split_conf, prev_split)
    out["sources.scan_s"] = scan_s
    out["sources.splits"] = splits
    out["sources.input_mb"] = inputs["input_mb"]

    # the text the workload's jobs read: the MapReduce files, or the documents table
    if wl.mr:
        plain = [ln.rstrip("\n") for p in inputs["plain"] for ln in open(p)]
        tagged = [ln.rstrip("\n") for p in inputs["tagged"] for ln in open(p)]
    else:
        docs = load_table(spark, inputs["sf_dir"], "documents").select("doc_id", "text").toPandas()
        plain = docs["text"].tolist()
        tagged = [f"{d}\t{t}" for d, t in zip(docs["doc_id"], docs["text"])]

    # mapreduce: the registered UDFs in-process, no Spark
    map_s = reduce_s = 0.0
    for user_id in MR_TASKS:
        map_fn, reduce_fn = get_tasks(user_id)
        lines = plain if user_id == "wordcount" else tagged
        with tracer.span(f"mapreduce.map_fn.{user_id}"):
            t0 = time.perf_counter()
            groups: dict[str, list[str]] = {}
            for line in lines:
                for k, v in map_fn(line):
                    groups.setdefault(k, []).append(v)
            map_s += time.perf_counter() - t0
        with tracer.span(f"mapreduce.reduce_fn.{user_id}"):
            t0 = time.perf_counter()
            for k in sorted(groups):
                for _ in reduce_fn(k, groups[k]):
                    pass
            reduce_s += time.perf_counter() - t0
    out["mapreduce.map_fn_s"] = map_s
    out["mapreduce.reduce_fn_s"] = reduce_s

    # sinks: the R-file writer on a cached word count of the same text
    words = spark.createDataFrame([(line,) for line in plain], "line string").select(
        F.explode(F.split("line", " ")).alias("key")
    )
    kv = words.groupBy("key").agg(F.count("*").cast("string").alias("value")).cache()
    sc.setJobGroup("layer:sinks.prepare", "cache")
    kv.count()
    sink_dir = os.path.join(inputs["run_dir"], "sink_out")
    shutil.rmtree(sink_dir, ignore_errors=True)
    os.makedirs(sink_dir)
    sc.setJobGroup("layer:sinks", "write")
    with tracer.span("sinks.write", group="layer:sinks"):
        t0 = time.perf_counter()
        files = write_sorted_kv_text(kv, sink_dir, MR_OUTPUTS, user_id="sink")
        out["sinks.write_s"] = time.perf_counter() - t0
    out["sinks.files"] = float(len(files))
    out["sinks.mb_written"] = sum(os.path.getsize(f) for f in files) / 1e6
    kv.unpersist()
    sc.setLocalProperty("spark.jobGroup.id", None)

    # batchmath: the public kernels on the generated vectors, no Spark
    import pyarrow.parquet as pq

    col = pq.read_table(os.path.join(inputs["sf_dir"], "embeddings.parquet"))["embedding"].combine_chunks()
    V = np.asarray(col.flatten(), dtype=np.float64).reshape(len(col), gen.EMBED_DIM)
    n, dim = V.shape
    Q = V[:32]
    n_codes, n_sub, subdim = 16, 8, dim // 8
    flat = V[np.linspace(0, n - 1, n_codes).astype(int)].reshape(-1)
    with tracer.span("batchmath.full_d2"):
        t0 = time.perf_counter()
        batchmath.full_d2(V, Q)
        out["batchmath.full_d2_s"] = time.perf_counter() - t0
    with tracer.span("batchmath.subspace_d2"):
        t0 = time.perf_counter()
        batchmath.subspace_d2(V, flat, n_codes, n_sub, subdim)
        out["batchmath.subspace_d2_s"] = time.perf_counter() - t0
    with tracer.span("batchmath.pq_codes"):
        t0 = time.perf_counter()
        batchmath.pq_codes(V, flat, n_codes, n_sub, subdim)
        out["batchmath.pq_codes_s"] = time.perf_counter() - t0
    # subtract, multiply, add per (row, query or code, dimension)
    flops = 3 * n * dim * (Q.shape[0] + 2 * n_codes)
    out["batchmath.gflop"] = flops / 1e9
    moved = V.nbytes * 3 + Q.nbytes + flat.size * 8 * 2 + n * Q.shape[0] * 8 + 2 * n * n_sub * n_codes * 8
    out["batchmath.mb_moved"] = moved / 1e6
    return out


def calibration_probe(spark) -> float:
    """bench.py's fixed host-speed probe, recorded as host context."""
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup("host:calib", "calibration")
    t0 = time.perf_counter()
    (
        spark.range(0, 50_000_000, 1, 32)
        .groupBy((F.col("id") % 1024).alias("k"))
        .agg(F.sum(F.hash("id")).alias("s"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return time.perf_counter() - t0


# ------------------------------------------------------------ metrics


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, samples)."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:  # only when jobs failed: no such percentile, report the maximum
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(recs, warm_walls, cold_wall, setup_s, input_mb) -> dict[str, tuple[float, str, int]]:
    """The gated end-to-end metrics: name -> (value, unit, samples)."""
    warm = [r["wall_s"] for r in recs if r["pass"] > 0 and r["ok"]]
    return {
        "setup_s": (setup_s, "s", 1),
        "cold_pass_s": (cold_wall, "s", 1),
        "throughput_mb_s": (input_mb / statistics.median(warm_walls), "MB/s", len(warm_walls)),
        "job_p50_s": (statistics.median(warm), "s", len(warm)),
    }


def pass_walls(recs) -> dict[int, float]:
    """Pass number -> sum of its job walls."""
    walls: dict[int, float] = {}
    for r in recs:
        walls[r["pass"]] = walls.get(r["pass"], 0.0) + r.get("wall_s", 0.0)
    return walls


def per_layer(recs, session, layers, spark_groups, overhead, cpu_s, peak_mb) -> dict[str, float]:
    """Per-layer metrics from the traced passes' records (pass 0 cold)."""
    walls = pass_walls(recs)
    warm = [r for r in recs if r["pass"] > 0]
    n_warm = len(walls) - 1
    warm_walls = [w for p, w in walls.items() if p > 0]

    def per_pass(key, rows):
        return sum(r.get(key, 0.0) for r in rows) / n_warm

    first_warm = [r for r in warm if r["pass"] == 1]
    m = {
        "session.start_s": session[0],
        "session.first_action_s": session[1],
        **{k: v for k, v in layers.items()},
        "operators.build_s": per_pass("build_s", warm),
        "operators.build_jobs": per_pass("build_jobs", warm),
        "operators.action_s": per_pass("action_s", warm),
        "operators.stages": per_pass("stages", warm),
        "operators.tasks": per_pass("tasks", warm),
        "operators.cold_extra_s": walls[0] - statistics.median(warm_walls),
        "plans.exchanges": float(sum(r.get("exchanges", 0) for r in first_warm)),
        "plans.python_nodes": float(sum(r.get("python_nodes", 0) for r in first_warm)),
        "plans.chars": float(sum(r.get("plan_chars", 0) for r in first_warm)),
        "storage.rdds_after_job": statistics.mean(r.get("rdds", 0) for r in warm),
        "storage.mb_after_job": statistics.mean(r.get("stored_mb", 0.0) for r in warm),
        "driver.cpu_s": cpu_s,
        "process.peak_rss_mb": peak_mb,
        "trace.overhead_share": overhead,
    }
    warm_groups = {r["group"] for r in warm}
    tot: dict[str, float] = {}
    for group, vals in spark_groups.items():
        if group.rsplit(":", 1)[0] in warm_groups:
            for k, v in vals.items():
                tot[k] = tot.get(k, 0.0) + v
    for k in (
        "run_ms", "cpu_ms", "gc_ms", "deser_ms", "sched_delay_ms",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    ):
        m[f"spark.{k}"] = tot.get(k, 0.0) / n_warm
    m["spark.python_ms"] = m["spark.run_ms"] - m["spark.cpu_ms"]
    m["spark.failed_tasks"] = sum(v.get("failed_tasks", 0.0) for v in spark_groups.values())
    m["python.sent_mb"] = tot.get("python_sent_mb", 0.0) / n_warm
    m["python.received_mb"] = tot.get("python_received_mb", 0.0) / n_warm
    return m


def family_table(recs) -> dict[str, dict[str, float]]:
    """operators.<family>.* from the traced passes' records."""
    n_warm = len(pass_walls(recs)) - 1
    fams: dict[str, dict[str, float]] = {}
    for fam in sorted({r["family"] for r in recs}):
        rows = [r for r in recs if r["family"] == fam]
        warm = [r for r in rows if r["pass"] > 0]
        by_name: dict[str, list[float]] = {}
        for r in warm:
            by_name.setdefault(r["name"], []).append(r.get("wall_s", 0.0))
        cold_extra = sum(
            r.get("wall_s", 0.0) - statistics.median(by_name.get(r["name"], [0.0]))
            for r in rows
            if r["pass"] == 0
        )
        fams[fam] = {
            "build_s": sum(r.get("build_s", 0.0) for r in warm) / n_warm,
            "build_jobs": sum(r.get("build_jobs", 0) for r in warm) / n_warm,
            "action_s": sum(r.get("action_s", 0.0) for r in warm) / n_warm,
            "stages": sum(r.get("stages", 0) for r in warm) / n_warm,
            "tasks": sum(r.get("tasks", 0) for r in warm) / n_warm,
            "cold_extra_s": cold_extra,
        }
    return fams


# ------------------------------------------------------------ main


def _event_log(spark, on: bool) -> None:
    """Attach or detach the session's event-log listener."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger().get()
    if on:
        sc.listenerBus().addToEventLogQueue(logger)
    else:
        sc.removeSparkListener(logger)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = _process_start()
    try:
        import __spark_entry__  # noqa: F401
        import mapreduceinfrastructure_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)

    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    conf = _confine_to(run_dir)
    event_dir = os.path.join(run_dir, "eventlog")
    if traced:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    sampler = RssSampler().start()
    tracer = Tracer(traced, args.workload)
    cpus = _cpus()
    with tracer.span("session"):
        spark, start_s, first_s = _start_session(conf, cpus)
    setup_s = time.time() - t_start

    # inputs: generated after the session is up, so set-up time is the engine's own
    inputs: dict = {"run_dir": run_dir, "sf_dir": os.path.join(run_dir, "tables")}
    inputs.update(gen.write_tables(args.seed, inputs["sf_dir"], wl.sizes))
    jobs = []
    if wl.mr:
        text = gen.write_text(args.seed, os.path.join(run_dir, "text"), MR_TEXT_MB, MR_VOCAB, MR_FILES)
        inputs["input_mb"] += text.pop("input_mb")
        inputs.update(text)
        jobs += mr_jobs(spark, inputs, os.path.join(run_dir, "mr_out"))
    oracle = Oracle(inputs["sf_dir"])
    jobs += registry_jobs(spark, wl.queries, inputs["sf_dir"], oracle)

    min_warm = max(2, math.ceil(MIN_TAIL_SAMPLES / len(jobs)))
    n_warm = max(min_warm, math.ceil(args.seconds / wl.pass_budget_s))
    # A traced run adds one warm pass in the middle with the event log
    # detached and no spans: the untraced reference for trace.overhead_share.
    ref_pass = 1 + (n_warm + 1) // 2 if traced else -1
    recs: list[dict] = []
    ref_recs: list[dict] = []
    cpu_per_pass: dict[int, float] = {}
    for p in range(n_warm + 1 + traced):
        if p > max(min_warm, ref_pass) and time.time() - t_start > RUN_WALL_CAP_S:
            break
        ru0 = resource.getrusage(resource.RUSAGE_SELF)
        if p == ref_pass:
            _event_log(spark, on=False)
            ref_recs = run_pass(spark, jobs, p, Tracer(False, args.workload), plans=False)
            _event_log(spark, on=True)
            continue
        with tracer.span("pass", p):
            recs += run_pass(spark, jobs, p, tracer, plans=(traced and p == 1))
        ru1 = resource.getrusage(resource.RUSAGE_SELF)
        cpu_per_pass[p] = ru1.ru_utime + ru1.ru_stime - ru0.ru_utime - ru0.ru_stime
    layers = measure_layers(spark, wl, inputs, tracer) if traced else {}
    calib_s = calibration_probe(spark)
    peak_mb = sampler.stop()
    _stop_session(spark)
    oracle.close()

    attempted = len(recs) + len(ref_recs)
    failed = sum(1 for r in recs + ref_recs if not r["ok"])
    for r in recs + ref_recs:
        if not r["ok"]:
            print(f"FAILED pass {r['pass']} {r['name']}: {r['error']}")
    walls = pass_walls(recs)
    cold_wall, warm_walls = walls[0], [w for p, w in walls.items() if p > 0]
    ref_note = f" + 1 untraced reference pass (pass {ref_pass})" if traced else ""
    print(f"workload {args.workload} seed {args.seed} local[{cpus}] trace {args.trace}: "
          f"{len(jobs)} jobs x (1 cold + {len(warm_walls)} warm passes{ref_note}), "
          f"input {inputs['input_mb']:.2f} MB")
    print(f"  inputs: near-dup rate {inputs['dup_rate']}, embedding clusters "
          f"{inputs['embedding_clusters']}, rows {inputs['rows']}")
    if wl.mr:
        print(f"  text: {inputs['lines']} lines, Zipf vocabulary {inputs['vocab_size']}, "
              f"{MR_FILES} files x 2 encodings, map_kilobytes {MR_MAP_KB}, R {MR_OUTPUTS}")
    print(f"  session start {start_s:.2f} s, first action {first_s:.2f} s, run wall {time.time() - t_start:.1f} s")
    print(f"  host context: calibration probe {calib_s:.3f} s; pass walls "
          + " ".join(f"{w:.2f}" for w in walls.values()))
    print(f"  peak RSS {peak_mb:.0f} MB, by process name (MB): "
          + ", ".join(f"{k} {v / 1024:.0f}" for k, v in sorted(sampler.peak_parts.items())))
    print(f"  failed_share {failed / attempted:.4f} ({failed}/{attempted} jobs)")
    for job in jobs:
        job_walls = [r.get("wall_s", 0.0) for r in recs if r["name"] == job.name]
        print(f"  job {job.name:24s} cold {job_walls[0]:7.3f} s, "
              f"warm median {statistics.median(job_walls[1:]):7.3f} s")

    if not traced:
        e2e = end_to_end(recs, warm_walls, cold_wall, setup_s, inputs["input_mb"])
        for k, (v, unit, count) in e2e.items():
            print(f"  {k:16s} {v:12.4f} {unit:5s} (n={count})")
        # reported, not gated: too unsteady run to run for a bound (README.md)
        tail_v, pct, n = tail([r["wall_s"] for r in recs if r["pass"] > 0 and r["ok"]])
        print(f"  {'job_tail_s':16s} {tail_v:12.4f} s     (n={n}, p{pct:.1f}; not gated)")
        print(f"  {'peak_rss_mb':16s} {peak_mb:12.1f} MB    (n=1; not gated)")
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit, _) in e2e.items()}
    else:
        events = read_event_log(event_dir)
        groups = task_metrics_by_group(events)
        overhead = statistics.median(warm_walls) / sum(r.get("wall_s", 0.0) for r in ref_recs) - 1.0
        cpu_s = statistics.median(v for p, v in cpu_per_pass.items() if p > 0)
        layer = per_layer(recs, (start_s, first_s), layers, groups, overhead, cpu_s, peak_mb)
        fams = family_table(recs)
        for fam, vals in fams.items():
            print("  operators." + fam + ": " + ", ".join(f"{k} {v:.3f}" for k, v in vals.items()))
        for k, v in layer.items():
            print(f"  {k:26s} {v:14.4f}")
        tracer.write(
            os.path.join(WORK, f"trace_{args.workload}_{args.seed}.json"),
            {"jobs": recs, "families": fams, "layers": layer, "spark_groups": groups},
        )
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = json.load(f)["per_layer"]
        metrics = {u["name"]: {"value": layer[u["name"]], "unit": u["unit"]} for u in units}
    with open(os.path.join(WORK, f"jobs_{args.workload}_{args.seed}_t{args.trace}.json"), "w") as f:
        json.dump({"jobs": recs, "reference_pass": ref_recs, "setup_s": setup_s, "peak_mb": peak_mb, "calib_s": calib_s,
                   "rss_parts_kb": sampler.peak_parts}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
