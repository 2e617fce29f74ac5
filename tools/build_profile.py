"""Phase breakdown of the vec1m IVF build (r15): the build runs 97 s at 32
cores but 60 s at 8 — find the anti-scaling phase.  Wraps the engine's
internal phases with timers and runs create+add on the bench shape.

Run:  SPARK_GRAFT_CPUS=32 python tools/build_profile.py
"""
import os
import sys
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)
sys.path.insert(0, os.path.join(repo, "tools"))

from duckdb_faiss_ext_spark import FaissSparkEngine
from duckdb_faiss_ext_spark.session import get_spark
from _synth import synth_clusterable

N, DIM, NLIST = 1_000_000, 64, 2048

spark = get_spark("build_profile", extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
eng = FaissSparkEngine(spark)
corp = synth_clusterable(spark, N, DIM, n_clusters=1024).persist()
corp.count()

phases = {}
for meth in ("_fit_kmeans_driver", "_train_kmeans", "_rebalance_oversize_clusters",
             "_assign_only"):
    if not hasattr(FaissSparkEngine, meth):
        continue
    orig = getattr(FaissSparkEngine, meth)

    def wrap(orig=orig, meth=meth):
        def inner(self, *a, **k):
            t0 = time.perf_counter()
            try:
                return orig(self, *a, **k)
            finally:
                phases[meth] = phases.get(meth, 0.0) + time.perf_counter() - t0
        return inner

    setattr(FaissSparkEngine, meth, wrap())

# _cluster_layout is a staticmethod — wrap without self
_orig_layout = FaissSparkEngine._cluster_layout


def _layout_timed(assigned):
    t0 = time.perf_counter()
    try:
        return _orig_layout(assigned)
    finally:
        phases["_cluster_layout"] = (
            phases.get("_cluster_layout", 0.0) + time.perf_counter() - t0
        )


FaissSparkEngine._cluster_layout = staticmethod(_layout_timed)

# small JIT warmup
eng.create("bw", DIM, "IDMap,IVF64", metric_type="L2")
eng.add("bw", corp.limit(32_768))
eng.destroy("bw")
phases.clear()

t0 = time.perf_counter()
eng.create("bp", DIM, f"IDMap,IVF{NLIST}", metric_type="L2")
eng.add("bp", corp)
total = time.perf_counter() - t0
print(f"cpus={os.environ.get('SPARK_GRAFT_CPUS')} total_add={total:.1f}s")
acc = 0.0
for m, s in sorted(phases.items(), key=lambda kv: -kv[1]):
    print(f"  {m}: {s:.1f}s")
    acc += s
# _train_kmeans includes fit+rebalance; avoid double count in 'other'
other = total - phases.get("_train_kmeans", 0.0) - phases.get("_cluster_layout", 0.0)
print(f"  (other/add-side: {other:.1f}s)")
spark.stop()
