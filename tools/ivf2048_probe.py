"""IVF at reference-realistic nlist (VERDICT r4 task 5).

The reference's headline factory is ``IVF2048_HNSW128,Flat``
(Makefile:105) searched at nprobe=15 (go/benches_c.go:128); all prior
local IVF probes used nlist=32.  This probe builds ``IDMap,IVF2048,Flat``
at 1-4M x 64 and measures what nlist=2048 changes:

- build cost with the 256/centroid training cap (the KMeans fit is a
  524k-point k=2048 problem regardless of corpus size);
- directory-pruning effectiveness: the fraction of corpus rows a 48-query
  batch actually scans at each nprobe (probed-cluster row mass / total);
- recall@10 vs exact IP at nprobe in {16, 64, 128}.

4th arg ``normalize=1`` L2-normalizes the synth corpus first — the regime
the reference actually runs (its trained embeddings are unit-norm, like
testdata embeddings.parquet).  On UNNORMALIZED data the IP coarse
quantizer concentrates mass on large-norm centroids (faiss IP-IVF
convention: assignment maximizes <x, c>), leaving most clusters empty and
pruning ineffective — measured in SCALE.md r6; normalized vectors restore
balanced cells.

Usage: python tools/ivf2048_probe.py [n_rows] [nlist] [dim] [normalize]
                                     [nprobe_list] [params_json] [corpus]

``corpus`` (r9, VERDICT r8 task 3): "hash" (default — the uniform
recall-adversarial corpus) or "mog[:k[:spread]]" — clusterable
mixture-of-Gaussians-like data from tools/_synth.synth_clusterable
(e.g. "mog:2048:0.05"), the regime real trained embeddings live in.

r8 additions (VERDICT r7 tasks 4+5): ``nprobe_list`` is a comma list (a
repeated value re-times the leg, e.g. "128,64,16,16" rotates np16 to last
and measures it twice — the r7 anomaly had np16 first after the 447 s
build); ``params_json`` passes engine params through to faiss_create
(e.g. '{"train_max_iter": "40"}' or '{"rebalance_clusters": "0"}').
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyspark.sql.functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    nlist = int(sys.argv[2]) if len(sys.argv) > 2 else 2048
    dim = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    normalize = bool(int(sys.argv[4])) if len(sys.argv) > 4 else False
    nprobes = (
        [int(x) for x in sys.argv[5].split(",")]
        if len(sys.argv) > 5
        else [16, 64, 128]
    )
    extra_params = json.loads(sys.argv[6]) if len(sys.argv) > 6 else {}
    corpus_spec = sys.argv[7] if len(sys.argv) > 7 else "hash"
    # "flat" (default): exact baseline via a second IDMap,Flat index.
    # "fullprobe" (r9): exact baseline = the IVF index searched at
    # nprobe=nlist (identical rows, full coverage) — HALVES persisted
    # data; the 16M x 64 run with two persisted indexes was OOM-killed
    # at the host's ~30 GB effective ceiling
    exact_mode = sys.argv[8] if len(sys.argv) > 8 else "flat"
    # r10: optional factory suffix for the probed index, e.g. ",SQ8" —
    # probes the storage-tier composites at scale with the same legs
    factory_suffix = sys.argv[9] if len(sys.argv) > 9 else ""

    from duckdb_faiss_ext_spark import FaissSparkEngine
    from duckdb_faiss_ext_spark.session import get_spark
    from tools._synth import synth_clusterable, synth_vectors

    spark = get_spark("ivf2048-probe")
    spark.sparkContext.setLogLevel("ERROR")
    eng = FaissSparkEngine(spark)

    if corpus_spec.startswith("mog"):
        parts_ = corpus_spec.split(":")
        k = int(parts_[1]) if len(parts_) > 1 else 256
        spread = float(parts_[2]) if len(parts_) > 2 else 0.05
        corpus = synth_clusterable(spark, n, dim, n_clusters=k, spread=spread)
    else:
        corpus = synth_vectors(spark, n, dim)
    if normalize:
        # unit-norm, JVM-side: x / ||x|| (the reference's embedding regime)
        nrm = F.sqrt(F.aggregate("vector", F.lit(0.0), lambda a, v: a + v * v))
        corpus = corpus.select(
            "label",
            F.transform("vector", lambda v: (v / nrm).cast("float")).alias("vector"),
        )
    corpus = corpus.persist()
    corpus.count()
    queries = corpus.limit(48).select(
        F.col("label").alias("qid"), F.col("vector")
    ).cache()
    queries.count()

    if exact_mode == "flat":
        eng.create("iv_flat", dim, "IDMap,Flat", metric_type="INNER_PRODUCT")
        eng.add("iv_flat", corpus)
        t0 = time.perf_counter()
        exact = {
            (r["qid"], r["label"])
            for r in eng.search_flat("iv_flat", 10, queries).collect()
        }
        exact_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    eng.create(
        "iv_big", dim,
        f"IDMap,IVF{nlist}{factory_suffix or ',Flat'}",
        metric_type="INNER_PRODUCT",
        params=extra_params or None,
    )
    eng.add("iv_big", corpus)
    build_sec = time.perf_counter() - t0
    if exact_mode != "flat":
        corpus.unpersist()  # iv_big's cluster-assigned cache is the corpus now
        t0 = time.perf_counter()
        exact = {
            (r["qid"], r["label"])
            for r in eng.search_flat(
                "iv_big", 10, queries, params={"nprobe": nlist}
            ).collect()
        }
        exact_sec = time.perf_counter() - t0

    idx = eng.registry.get("iv_big")
    hist = {
        r["cluster_id"]: r["c"]
        for r in idx.data.groupBy("cluster_id").agg(F.count("*").alias("c")).collect()
    }
    total = sum(hist.values())
    sizes = np.array(sorted(hist.values()))
    qvec = np.array(
        [r["vector"] for r in queries.collect()], dtype=np.float32
    )

    rows = []
    for nprobe in nprobes:
        run = lambda: eng.search_flat(  # noqa: E731
            "iv_big", 10, queries, params={"nprobe": nprobe, "bulk_queries": 0}
        )
        run().count()  # warm
        t0 = time.perf_counter()
        run().count()
        sec = time.perf_counter() - t0
        hits = {(r["qid"], r["label"]) for r in run().collect()}
        # scanned fraction: union of the batch's probed clusters (the JVM
        # IN-filter's reach) AND the per-query average (the kernel's reach)
        probes = eng._probe_ids(idx, qvec, nprobe)
        union_rows = sum(hist.get(int(c), 0) for c in np.unique(probes))
        perq_rows = float(
            np.mean(
                [sum(hist.get(int(c), 0) for c in row) for row in probes]
            )
        )
        with open("/proc/loadavg") as lf:
            load_1m = float(lf.read().split()[0])
        rows.append(
            {
                "nprobe": nprobe,
                "search_sec": round(sec, 3),
                "load_1m": load_1m,
                "recall_at_10": round(len(hits & exact) / max(len(exact), 1), 4),
                "scan_frac_batch_union": round(union_rows / total, 4),
                "scan_frac_per_query": round(perq_rows / total, 5),
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print(
        json.dumps(
            {
                "summary": {
                    "n": n,
                    "nlist": nlist,
                    "dim": dim,
                    "normalized": normalize,
                    "corpus": corpus_spec,
                    "build_sec": round(build_sec, 2),
                    "exact_search_sec": round(exact_sec, 3),
                    "cluster_rows_p50": int(np.median(sizes)),
                    "cluster_rows_p99": int(np.percentile(sizes, 99)),
                    "cluster_rows_max": int(sizes.max()),
                    # r10: corpus rebalance can GROW nlist (bounded 2x);
                    # max_share is vs the FACTORY even share — the
                    # REBALANCE_CAP_SHARE=4.0 contract this probe verifies
                    "nlist_live": len(idx.centroids),
                    "corpus_max_share": round(
                        float(sizes.max()) * nlist / total, 2
                    ),
                    "empty_clusters": int(len(idx.centroids) - len(sizes)),
                }
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
