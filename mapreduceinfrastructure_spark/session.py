"""SparkSession factory.

Maps the reference's cluster knobs (src/mapreduce_spec.h:12-20) onto Spark
runtime configuration:

    n_workers / worker addresses  -> executor cores (local[N] here)
    map_kilobytes (shard size)    -> spark.sql.files.maxPartitionBytes
    n_output_files (R)            -> spark.sql.shuffle.partitions / repartition(R)

Robustness parity (SURVEY.md §2.1 rows 13-15) is configuration, not code:
task retry subsumes worker-failure requeue (src/master.h:246-249),
speculation subsumes the 10s straggler deadline (src/master.h:19,82-84).

Fixed cost of a Python task.  Every ``mapInPandas``/``applyInPandas``
task (the map/reduce UDFs, the ``batchmath`` kernels) starts with
PySpark's ``setup_spark_files`` → ``importlib.invalidate_caches()``.
Below Python 3.13 each cached zipimporter answers that by re-reading
its archive's central directory; a reused worker holds ~16 of them,
mostly over ``pyspark.zip`` (1328 entries), so a warm task with no
data spent a median 198 of its 249 ms there (measured by wrapping
``pyspark.worker.main`` on Python 3.11.7, 4 vCPUs).
``install_lazy_zip_invalidation`` backports 3.13's lazy behavior: the
package ``__init__`` installs it only inside a Spark task — driver
processes keep the stock importer — and it is a no-op on 3.13+, which
is lazy already.  Every engine ``mapInPandas``/``applyInPandas``
closure (and the LSH bucket pandas UDF) references a module-level name
of this package, so unpickling it on a worker imports the package and
installs the fix there, even when the user's own map or reduce
function pickles by value.  The two API demos that pickle wholly by
value (``pandas_udaf_geomean``, ``udtf_chunk_text``) get it only in
workers that already imported the package for another task.

Measured on perfbench's ``curation`` workload (4 vCPUs, 10 alternating
before/after pairs): median job_p50_s 1.441 -> 1.007 s (10/10 pairs
faster), throughput 0.329 -> 0.413 MB/s; the JVM-only ``analytics``
workload is flat.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mapreduceinfrastructure_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local mode mirrors the driver's harness; on a real cluster the same
    conf applies minus ``master``.  AQE handles runtime partition
    coalescing and skew-join splitting — the scale path for 100 TB runs.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # SPARK_GRAFT_MASTER lets a cluster deployment point this same
    # factory at its real master (ADVICE r17: with the master
    # hardcoded to local[N], the non-local speculation branch below
    # was unreachable).  Default unchanged: local[$SPARK_GRAFT_CPUS],
    # the driver contract.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # see the speculation comment below: local masters default off,
    # a cluster deployment (non-local master) defaults on.
    spec_default = "false" if master.startswith("local") else "true"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # R reducers ~ shuffle partitions; AQE coalesces small ones at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shard size knob (reference map_kilobytes, description.md:18) — 128 MB
        # newline-aligned splits, exactly the reference's shard_files contract.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # straggler/failure parity: retries + speculation instead of the
        # reference's 10 s deadline + requeue loop (src/master.h:217-256).
        # Speculation exists to dodge slow/failing NODES by re-launching
        # a straggling task elsewhere; under a local[N] master every
        # "executor" is the same JVM on the same host, so a speculative
        # copy can only duplicate the straggler's compute on the CPUs
        # the tail is already contending for (guide: speculation "helps
        # with slow nodes, not genuinely larger partitions").  Measured
        # at sf0.1 (min of 3): kcore_peel 4.14 -> 2.71 s, cluster_
        # diameter 5.33 -> 3.55 s, prefix_filter_neardup 3.54 -> 3.18 s
        # with speculation off locally.  Default: ON for any non-local
        # master (the 10 s-deadline parity a real cluster needs), OFF
        # under local[*]; SPARK_GRAFT_SPECULATION forces either way.
        .config("spark.task.maxFailures", "4")
        .config(
            "spark.speculation",
            os.environ.get("SPARK_GRAFT_SPECULATION", spec_default),
        )
        # Arrow for the pandas-UDF slow path (vectorized batches).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet is TIMESTAMP(NANOS) — read nanos as int64
        # everywhere (load_table re-asserts this at runtime for foreign
        # sessions, e.g. the driver's own).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate synthesizes size(arr)>0 from explode;
        # predicate pushdown then substitutes the whole generator
        # expression below the projections, re-inlining tokenize into
        # every element_at — O(len²) per doc on n-gram explodes
        # (measured 34 s -> 3 s at sf0.1).  Our generators are computed
        # expressions, never stored columns, so the inferred filter can
        # only cost.  load_table re-asserts for foreign sessions.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Whole-stage-codegen class cache: the default LRU holds 100
        # generated classes, but one query here compiles dozens of
        # codegen units, so a service running a mixed query workload
        # (or this repo's 45-query bench series) evicts EVERY class
        # between repeats and re-JITs the full plan each time — the
        # root cause of the r5->r7 dedup_clusters bench drift (3.03 ->
        # 4.35 s on untouched code, tracking the growing bench list):
        # measured, an interleaved re-run costs 5.1 s at 100 entries
        # and 3.6 s at 10000 (static conf, set before session start).
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def two_pass_rank_width(spark: SparkSession) -> int:
    """Partition width for the two-pass distributed rank scheme
    (range-partition → local row_number → broadcast offsets), used by
    ``relational.global_rank`` and ``text_analysis.zipf_slope``.

    Derived from the cluster, not hardcoded: ``defaultParallelism`` is
    total executor cores, so the rank stage scales with the cluster (a
    multi-billion-term vocabulary on a 1000-executor cluster gets
    thousands of rank tasks, not 8), with a floor of 8 so the offset
    prefix-sum stays meaningful on tiny local runs.  The offset table
    is one row per partition — still driver-trivial at any realistic
    width (VERDICT r5 #3).

    ``SPARK_GRAFT_RANK_WIDTH`` overrides (tests prove rank equivalence
    across widths with it; ops can pin it on clusters where
    defaultParallelism misreports, e.g. dynamic allocation at min).
    """
    override = os.environ.get("SPARK_GRAFT_RANK_WIDTH")
    if override:
        return max(1, int(override))
    return max(8, spark.sparkContext.defaultParallelism)


_SHIPPED_APPS: set[str] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (``addPyFile`` of a
    package zip — the programmatic twin of ``spark-submit --py-files``).

    Any closure handed to Spark that references a module-level name in
    this package gets cloudpickled BY REFERENCE to the module; executor
    workers then must be able to import it, which fails whenever the
    driver process was launched from a cwd without this repo on
    PYTHONPATH.  Operators that execute Python on executors call this
    once per session before building their plan.
    """
    import shutil
    import tempfile

    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), f"mri_spark_pkg_{os.getpid()}"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    _SHIPPED_APPS.add(app)


def install_lazy_zip_invalidation() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` lazy below
    Python 3.13 (the CPython 3.13 behavior, backported; see the module
    docstring for the per-task cost it removes).

    The replacement re-reads an archive's directory only when its
    ``(st_mtime_ns, st_size)`` changed since that importer last read it
    (the first call per importer always reads), so a rewritten zip is
    still picked up.  Idempotent; a no-op on 3.13+.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    if eager.__module__ == __name__:
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, "_dir_sig", None):
            eager(self)
            self._dir_sig = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches
