"""Receipt (VERDICT r14 task 4): a fit whose capped sample exceeds
DRIVER_FIT_BYTES must take the MLlib distributed path END-TO-END — train,
add, search — with the driver-side fit never invoked.

Shape: dim=1536, nlist=64, train_points_per_centroid=2048 ->
cap = 131,072 rows x 1536 x 4 B = 805 MB > DRIVER_FIT_BYTES (600 MB).
The k is small so the MLlib fit stays tractable locally; what matters is
the PATH, which gates on sample bytes only (engine.py _train_kmeans).

Run:  SPARK_GRAFT_CPUS=32 python tools/fit_path_receipt.py
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from duckdb_faiss_ext_spark import FaissSparkEngine
from duckdb_faiss_ext_spark.session import get_spark
import pyspark.sql.functions as F

from _synth import synth_clusterable

DIM = 1536
NLIST = 64
N = 140_000  # > cap so the sample hits the cap exactly

spark = get_spark("fit_path_receipt")
spark.sparkContext.setLogLevel("ERROR")
eng = FaissSparkEngine(spark)

# instrument the driver fit: the receipt must show it NOT called
calls = {"driver": 0}
_orig_driver = FaissSparkEngine._fit_kmeans_driver


def _driver(self, *a, **k):
    calls["driver"] += 1
    return _orig_driver(self, *a, **k)


FaissSparkEngine._fit_kmeans_driver = _driver

corp = synth_clusterable(spark, N, DIM, n_clusters=NLIST, id_col="label").persist()
n = corp.count()
ppc = 2048
cap = ppc * NLIST
sample_bytes = min(n, cap) * DIM * 4
print(f"rows={n} dim={DIM} nlist={NLIST} ppc={ppc} cap={cap} "
      f"sample_bytes={sample_bytes/1e6:.0f}MB DRIVER_FIT_BYTES="
      f"{FaissSparkEngine.DRIVER_FIT_BYTES/1e6:.0f}MB "
      f"over_threshold={sample_bytes > FaissSparkEngine.DRIVER_FIT_BYTES}")

t0 = time.perf_counter()
eng.create(
    "fit_receipt", DIM, f"IDMap,IVF{NLIST}", metric_type="L2",
    params={"train_points_per_centroid": ppc},
)
eng.add("fit_receipt", corp)
t_build = time.perf_counter() - t0
print(f"build_sec={t_build:.1f}")

q = corp.limit(8).select(F.col("label").alias("qid"), F.col("vector"))
res = eng.search("fit_receipt", 5, q, params={"nprobe": NLIST}).collect()
selfhit = all(r.result[0].label == r.qid for r in res)
print(f"search rows={len(res)} selfhit_rank0={selfhit}")
print(f"driver_fit_calls={calls['driver']}")
verdict = calls["driver"] == 0 and selfhit and len(res) == 8
print("RECEIPT:", "OK — MLlib path end-to-end" if verdict else "FAIL")
spark.stop()
sys.exit(0 if verdict else 1)
