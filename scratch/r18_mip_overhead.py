"""r18: isolate the per-invocation cost of a mapInPandas stage at the
local test corpus (2000 x 64 doubles) — how much fixed overhead does
each Arrow round trip add vs the JVM projection it replaces?"""
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from mapreduceinfrastructure_spark.session import get_spark
from mapreduceinfrastructure_spark.operators import similarity as sim
from mapreduceinfrastructure_spark.functions import batchmath as bm
from mapreduceinfrastructure_spark.session import ensure_package_on_executors

SF = "/root/testdata/sf0.1"
spark = get_spark(app_name="r18-mip-overhead")
spark.range(1).count()
ensure_package_on_executors(spark)
emb = sim._embeddings(spark, SF)
emb.count()
cq = sim._collect_queries(emb)
qids, qvecs = cq


def t(name, fn, reps=5):
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    print(f"{name}: min {min(times):.3f} all {[round(x,3) for x in times]}", flush=True)


def noop(df):
    df.write.mode("overwrite").format("noop").save()


# baseline: plain JVM projection scan
t("jvm_scan", lambda: noop(emb.select("vec_id", "v")))

# identity-ish mapInPandas (ships v out and back)
def ident(batches):
    for pdf in batches:
        yield pdf[["vec_id"]]

t("mip_identity_32p", lambda: noop(
    emb.select("vec_id", "v").mapInPandas(ident, schema="vec_id long")))

t("mip_identity_4p", lambda: noop(
    emb.select("vec_id", "v").repartition(4).mapInPandas(ident, schema="vec_id long")))

# the cosine partial-topk kernel alone
t("mip_cosine_kernel", lambda: noop(
    emb.select("vec_id", "v").mapInPandas(
        bm.topk_partials_fn(bm.cosine_scorer(qvecs), qids, sim.TOPK, descending=True),
        schema="qid long, neighbor_id long, score double")))

# collect_queries driver job alone
t("collect_queries", lambda: sim._collect_queries(emb))

# full new cosine_topk vs old shape rebuilt inline
t("cosine_topk_new", lambda: noop(sim.cosine_topk(spark, SF)))

from pyspark.sql import Window
from mapreduceinfrastructure_spark.functions.vector import cosine_similarity_expr

def cosine_topk_old():
    q = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    s = cosine_similarity_expr(F.col("qv"), F.col("v"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (pairs.select("qid", F.col("vec_id").alias("neighbor_id"), s.alias("sim"))
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= sim.TOPK)
            .select("qid", "neighbor_id", F.round("sim", 6).alias("cosine"), "rn"))

t("cosine_topk_old", lambda: noop(cosine_topk_old()))
spark.stop()
