"""Dedup scale probe: 1M synthetic docs through the capped LSH + connected-
components survivor pipeline.

The corpus is built to stress exactly what the caps bound:

- 80% unique docs (hash-derived word soup — no near-dups);
- 18% members of small dup groups (2-8 variants of a template — the normal
  near-dup structure LSH must catch);
- 2% members of GIANT boilerplate cliques (1000+ docs sharing a template —
  the m² bucket/edge blowup `max_bucket`/`max_degree` exist for).

Measures: candidate-pair count with/without max_bucket, components rounds to
convergence with max_degree, wall time per stage.  Appends to SCALE.md.
Run: python tools/dedup_probe.py [n_docs]
"""

from __future__ import annotations

import os
import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from duckdb_faiss_ext_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_components,
    )
    from duckdb_faiss_ext_spark.session import get_spark

    spark = get_spark("dedup-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic synthetic docs, fully codegen (no Python row loop):
    # docs with the same template id get near-identical text (one word of
    # drift), unique docs get hash-derived word soup
    n_giant = max(n // 50_000, 1)  # ~20 giant cliques at 1M
    giant_sz = 1000
    n_small_groups = max(n * 18 // 100 // 4, 1)  # avg group size ~4
    base = spark.range(0, n, 1, 32)
    docs = base.select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < n_giant * giant_sz,
            # giant boilerplate cliques: template = id DIV giant_sz
            F.concat(
                F.lit("terms of service boilerplate template "),
                (F.col("id") / giant_sz).cast("bigint").cast("string"),
                F.lit(" all rights reserved standard clause text variant "),
                (F.col("id") % 3).cast("string"),  # 3 variants per clique
            ),
        )
        .when(
            F.col("id") < n_giant * giant_sz + n_small_groups * 4,
            # small dup groups: template = id DIV 4, one drifting word
            F.concat(
                F.lit("document template number "),
                ((F.col("id") - n_giant * giant_sz) / 4)
                .cast("bigint")
                .cast("string"),
                F.lit(" shared content body sentence alpha beta gamma "),
                (F.col("id") % 4).cast("string"),
            ),
        )
        .otherwise(
            # unique word soup from the id hash
            F.concat_ws(
                " ",
                *[
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.col("id").cast("string"), F.lit(f"w{i}"))),
                            1,
                            6,
                        ),
                        16,
                        10,
                    )
                    for i in range(12)
                ],
            )
        )
        .alias("text"),
    ).persist()
    n_docs = docs.count()
    results: dict[str, float] = {}
    results["n_docs"] = n_docs

    t0 = time.perf_counter()
    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", 4, 2, shingle_n=3, max_bucket=256
    ).persist()
    results["lsh_pairs_capped"] = capped.count()
    results["lsh_capped_sec"] = round(time.perf_counter() - t0, 2)

    # max_bucket=None: every giant clique bucket emits all its pairs
    t0 = time.perf_counter()
    results["lsh_pairs_uncapped"] = minhash_lsh_pairs(
        docs, "doc_id", "text", 4, 2, shingle_n=3
    ).count()
    results["lsh_uncapped_sec"] = round(time.perf_counter() - t0, 2)

    # distributed propagation forced (small_collect=None): the probe's job
    # is to measure the over-cap fallback path, which small graphs would
    # otherwise never reach now that they solve on the driver
    t0 = time.perf_counter()
    stats: dict = {}
    comp = neardup_components(capped, max_degree=16, stats=stats, small_collect=None)
    n_nodes = comp.count()
    results["components_sec"] = round(time.perf_counter() - t0, 2)
    results["components_rounds"] = stats["rounds"]
    results["components_edges"] = stats["edges"]
    results["components_nodes"] = n_nodes
    results["components_groups"] = comp.select("comp").distinct().count()

    # the default driver union-find on the same graph, for the A/B
    t0 = time.perf_counter()
    dstats: dict = {}
    dcomp = neardup_components(capped, max_degree=16, stats=dstats)
    results["components_driver_sec"] = round(time.perf_counter() - t0, 2)
    results["components_driver_groups"] = dcomp.select("comp").distinct().count()
    results["host_load_1m"] = round(os.getloadavg()[0], 2)

    lines = [
        f"\n## dedup probe n={n_docs:,} docs (capped: max_bucket=256, max_degree=16)\n",
        "| metric | value |",
        "|---|---|",
    ]
    for k, v in results.items():
        lines.append(f"| {k} | {v} |")
    out = "\n".join(lines) + "\n"
    print(out)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md"), "a") as f:
        f.write(out)


if __name__ == "__main__":
    main()
