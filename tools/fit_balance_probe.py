"""r15 probe: sample-level balance of the driver fit's k-means|| init.

Calls ``_fit_kmeans_driver`` directly on a clusterable sample shaped like
the bench build's training sample (524k x 64 after the ppc cap, 1024
natural clusters, nlist 2048) and reports the fit-label histogram's
max-share plus wall time.  Balance is load-independent (deterministic
layout quality), so this probe can run on a busy host; the TIMING receipt
comes from the quiet BENCH_ONLY=vec1m runs.

Usage: python tools/fit_balance_probe.py [n_rows] [nlist]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np

from _synth import synth_clusterable
from duckdb_faiss_ext_spark.engine import FaissSparkEngine
from duckdb_faiss_ext_spark.operators.topk import vector_matrix
from duckdb_faiss_ext_spark.session import get_spark


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 524_288
    nlist = int(sys.argv[2]) if len(sys.argv) > 2 else 2048
    dim = 64
    spark = get_spark("fit_balance_probe")
    eng = FaissSparkEngine(spark)
    sample = synth_clusterable(spark, n, dim, n_clusters=1024).select("vector")
    vcol = sample.toArrow().column("vector").combine_chunks()
    x = vector_matrix(vcol, dim, "sample")
    t0 = time.perf_counter()
    cents, counts, labels = eng._fit_kmeans_driver(x, nlist, 20)
    t = time.perf_counter() - t0
    even = counts.sum() / nlist
    hist = np.bincount(labels, minlength=nlist)
    print(
        f"fit_sec={t:.2f} n={n} nlist={nlist} "
        f"max_share={counts.max() / even:.3f} "
        f"label_max_share={hist.max() / even:.3f} "
        f"empties={(counts == 0).sum()} "
        f"p99_share={np.quantile(counts, 0.99) / even:.3f} "
        f"inertia_proxy={float(np.sort(counts)[-8:].sum()):.0f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
