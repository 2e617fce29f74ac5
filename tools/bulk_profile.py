"""Stage breakdown of the vec1m bulk grouped-join search (r15): where do
the ~26 s at 32 cores go?  Times each sub-plan of similarity_join_grouped
on the exact bench shape (1M x 64 IVF2048, 20k queries, nprobe 16).

Run:  SPARK_GRAFT_CPUS=32 python tools/bulk_profile.py
"""
import os
import sys
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)
sys.path.insert(0, os.path.join(repo, "tools"))

import numpy as np
import pyspark.sql.functions as F

from duckdb_faiss_ext_spark import FaissSparkEngine
from duckdb_faiss_ext_spark.session import get_spark
from _synth import synth_clusterable

N, DIM, NLIST, NQ, NPROBE = 1_000_000, 64, 2048, 20_000, 16

spark = get_spark("bulk_profile", extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
eng = FaissSparkEngine(spark)

corp = synth_clusterable(spark, N, DIM, n_clusters=1024).persist()
corp.count()
qbulk = synth_clusterable(
    spark, NQ, DIM, n_clusters=1024, lo=N + 256, id_col="qid"
).persist()
qbulk.count()

t0 = time.perf_counter()
eng.create("bp_v1m", DIM, f"IDMap,IVF{NLIST}", metric_type="L2")
eng.add("bp_v1m", corp)
print(f"build_sec={time.perf_counter()-t0:.1f}", flush=True)
eng.warm("bp_v1m")
idx = eng.registry.get("bp_v1m")


def t(label, fn, n=1):
    best = None
    for _ in range(n):
        sc.setJobDescription(f"bulk_profile:{label}")
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label}: {best:.2f}s", flush=True)
    return best


# end-to-end first (cold then 2 warm)
def full():
    return eng.search_flat(
        "bp_v1m", 10, qbulk, params={"nprobe": NPROBE, "bulk_queries": 1}
    ).count()

t("full_cold", full)
t("full_warm", full, n=2)

# --- sub-plan decomposition (mirrors engine._search path + simjoin) ------
from duckdb_faiss_ext_spark.operators.simjoin import (
    BLOCK_BYTES,
    BLOCK_ROWS,
    _pack_blocks,
)

corpus = idx.data
q = qbulk.select(F.col("qid"), F.col("vector"))
ql = eng._probe_rows(idx, q, NPROBE)

t("probe_explode_count", lambda: ql.count(), n=2)

lb = _pack_blocks(ql.select(F.col("qid").alias("id"), "vector", "cluster_id"),
                  "id", "vector", BLOCK_ROWS, np.float32, "cluster_id")
t("left_pack_count", lambda: lb.count(), n=2)

rb = _pack_blocks(corpus.select("label", "vector", "cluster_id"),
                  "label", "vector", BLOCK_ROWS, np.float32, "cluster_id")
t("right_pack_count", lambda: rb.count(), n=2)

pairs = lb.join(
    rb.select("grp", F.col("n").alias("rn"), F.col("ids").alias("rids"),
              F.col("vecs").alias("rvecs")),
    "grp",
).select("blk", "grp", "n", "ids", "vecs", "rn", "rids", "rvecs")
t("pairs_count", lambda: pairs.count(), n=2)

res = eng.search_flat("bp_v1m", 10, qbulk, params={"nprobe": NPROBE, "bulk_queries": 1})
dest = os.path.join(repo, "plans/r15/vec1m_bulk_before.txt")
with open(dest, "w") as f:
    f.write(res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
print("explain ->", dest)

# partition/shape stats
print("corpus_partitions:", corpus.rdd.getNumPartitions())
print("shuffle_partitions:", spark.conf.get("spark.sql.shuffle.partitions"))
print("lb_rows:", lb.count(), "rb_rows:", rb.count(), "pairs:", pairs.count())
spark.stop()
