"""PySpark-native analytics engine with the query/data-processing
capabilities of hemangdash/MapReduceInfrastructure.

The reference (C++14/gRPC MapReduce framework, /root/reference) exposes a
map/emit + reduce/emit programming model over newline-delimited text
(external/include/mr_task_factory.h:20,37).  This engine re-expresses that
capability surface — and the OSDI'04 query-pattern catalog MapReduce was
designed for — as idiomatic Spark DataFrame/SQL plans, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) the north star demands.

Layout:
    session       SparkSession factory tuned for the target scale
    config        JobSpec — the reference's config.ini knobs → Spark conf
    sources       table / text readers
    operators     query patterns (relational, text, dedup, similarity, mapreduce)
    functions     reusable column expression builders (tokenizer, vector math)
    sinks         reference-faithful ``key value\\n`` partitioned text sink
    streaming     Structured Streaming variants (sessionization, windows)
"""

import sys as _sys

__version__ = "0.1.0"

# Inside a Spark task (an executor's Python worker, which has always
# imported pyspark) make per-task zip-cache invalidation lazy; see
# session.install_lazy_zip_invalidation.  Driver processes are untouched.
_pyspark = _sys.modules.get("pyspark")
if _pyspark is not None and _pyspark.TaskContext.get() is not None:
    from .session import install_lazy_zip_invalidation

    install_lazy_zip_invalidation()
