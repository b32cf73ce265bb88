"""Lazy zip-cache invalidation in executor Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; below Python 3.13 each cached zipimporter re-reads its archive's
central directory on that call.  ``session.install_lazy_zip_invalidation``
makes the re-read conditional on the archive changing, and the package
``__init__`` installs it inside Spark tasks only.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import importlib, sys, zipfile, zipimport

import mapreduceinfrastructure_spark  # outside a task: must not patch
from mapreduceinfrastructure_spark.session import install_lazy_zip_invalidation

assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

zpath = sys.argv[1]


def write(names):
    with zipfile.ZipFile(zpath, "w") as z:
        for name in names:
            z.writestr(name + ".py", "NAME = %r\n" % name)


write(["zmod_a"])
sys.path.insert(0, zpath)
import zmod_a

install_lazy_zip_invalidation()
install_lazy_zip_invalidation()  # idempotent
if sys.version_info < (3, 13):
    fn = zipimport.zipimporter.invalidate_caches
    assert fn.__module__ == "mapreduceinfrastructure_spark.session", fn
importlib.invalidate_caches()  # first call per importer reads once

reads = []
real = zipimport._read_directory


def counting(path):
    reads.append(path)
    return real(path)


zipimport._read_directory = counting
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [], reads  # unchanged zips are not re-read

write(["zmod_a", "zmod_b"])  # rewritten archive: new size and mtime
importlib.invalidate_caches()
import zmod_b

assert zmod_b.NAME == "zmod_b"
assert reads.count(zpath) == 1, reads
print("ok")
"""


def test_unchanged_zip_not_reread_and_rewrite_picked_up(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "mods.zip")],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().endswith("ok")


def test_map_reduce_worker_has_lazy_invalidation(spark):
    """A map function defined here pickles entirely by value, so only
    map_reduce's own closures can make the worker import the package —
    and with it install the lazy invalidation."""
    from mapreduceinfrastructure_spark.operators.mapreduce import map_reduce

    def probe(line):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        lazy = sys.version_info >= (3, 13) or (
            fn.__module__ == "mapreduceinfrastructure_spark.session"
        )
        yield "lazy", str(lazy)

    def distinct(key, values):
        yield key, ",".join(sorted(set(values)))

    df = spark.createDataFrame([(f"line {i}",) for i in range(16)], "line string")
    rows = map_reduce(df.repartition(4), probe, distinct).collect()
    assert [(r["key"], r["value"]) for r in rows] == [("lazy", "True")]
