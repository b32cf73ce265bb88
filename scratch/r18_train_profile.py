"""r18: isolate the PQ/IVF/residual TRAINING cold path's raw wall time.

The bench's min-of-3-interleaved-series protocol hides this cost (paid
once in series 1 via the train-once memos) — VERDICT r17 item 2 asks for
the raw train wall to be measured, optimized, and recorded.

Usage: python scratch/r18_train_profile.py [sf_dir]
Prints one line per stage: stage name, wall seconds.
"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

from mapreduceinfrastructure_spark.session import get_spark  # noqa: E402
from mapreduceinfrastructure_spark.operators import similarity as sim  # noqa: E402
from mapreduceinfrastructure_spark.sources.tables import artifact_reset  # noqa: E402

spark = get_spark(app_name="r18-train-profile")
spark.range(1).count()  # JVM warmup

t = {}


def clock(name, fn):
    t0 = time.perf_counter()
    out = fn()
    t[name] = time.perf_counter() - t0
    print(f"{name}: {t[name]:.3f}s", flush=True)
    return out


emb = sim._embeddings(spark, SF_DIR)
clock("corpus_count", lambda: emb.count())

# 1. seed codebook collect (driver transfer, bounded)
clock("pq_collect_codebook", lambda: sim._pq_collect_codebook(emb))

# 2. raw PQ Lloyd training: PQ_TRAIN_ITERS one-scan passes
artifact_reset()
clock("pq_train_raw", lambda: sim._pq_train_flat(emb, SF_DIR))

# 3. IVF coarse quantizer: LLOYD_ITERATIONS passes + final assignment
assign_cents = clock("ivf_train", lambda: sim.ivf_assignments(spark, SF_DIR))
clock(
    "ivf_assign_materialize",
    lambda: assign_cents[0]
    .write.mode("overwrite")
    .format("noop")
    .save(),
)

# 4. residual frame (assignment join + checkpoint materialization)
res_cents = clock("residual_frame_build", lambda: sim._residual_frame(spark, SF_DIR))
clock(
    "residual_frame_materialize",
    lambda: res_cents[0].write.mode("overwrite").format("noop").save(),
)

# 5. residual PQ Lloyd training over the materialized residual frame
from pyspark.sql import functions as F  # noqa: E402

res_v = res_cents[0].select("vec_id", F.col("rv").alias("v"))
clock(
    "pq_train_residual",
    lambda: sim._pq_train_flat(res_v, SF_DIR, kind="residual"),
)

total = sum(v for k, v in t.items() if k != "corpus_count")
print(f"TOTAL train cold path (excl. count): {total:.3f}s")
spark.stop()
