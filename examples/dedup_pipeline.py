"""End-to-end training-data deduplication pipeline over the documents table.

The canonical LLM-corpus cleaning flow, each stage a bounded-cost Spark job:

  1. exact dedup        — md5(text) groupBy, min-id survivor (1 shuffle)
  2. near-dup candidates — shingle -> MinHash -> banded LSH buckets (pairs
                           only form inside identical band buckets, emitted
                           from each bucket's member list)
  3. verification       — exact word-3-gram Jaccard computed PER candidate
                           pair (two hash joins; never a gram self-join)
  4. semantic near-dup  — embedding cosine via hyperplane-LSH buckets
  5. survivor selection — connected components over the verified pair
                           graph (min-label propagation, O(diameter)
                           rounds), keep the min id per component

Stage 5 follows CHAINS exactly (a~b, b~c groups all three even when a!~c
directly), unlike single-pass drop-the-larger-id selection.  At 100 TB
every stage stays bucket-bounded: no stage emits more than (band-bucket
population)^2 pairs, and stages 2-4 never shuffle the full text column —
only ids, signatures, and candidate pairs move.  Stages 2 and 4 each keep
their bucket frame persisted from the cap audit through the stage's count,
so each stage's signatures (md5 over the 3-grams, the hyperplane signs) are
computed once per pass.

Scale knobs (set MAX_BUCKET / MAX_DEGREE below; tools/dedup_probe.py
measures them at 1M docs — SCALE.md):

- ``max_bucket`` (stages 2 and 4): band buckets bigger than this emit no
  pairs — a degenerate bucket of m rows would emit m² candidate pairs;
  docs that pile into huge buckets are boilerplate better handled by exact
  dedup upstream.
- ``max_degree`` (stage 5): caps each node's retained edges to its
  max_degree smallest neighbors, so a dup clique of m docs carries m·d
  edges through every propagation round instead of m².

Run:  python examples/dedup_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import time

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# corpus-scale caps (None = exact, fine at sf<=0.1; see module docstring)
MAX_BUCKET = 256
MAX_DEGREE = 16


def run_pipeline(
    docs0, emb, max_bucket: int = MAX_BUCKET, max_degree: int = MAX_DEGREE
) -> dict:
    """Run stages 1-5 over (documents, embeddings) frames; returns counts
    plus a ``timings`` dict of per-stage seconds (each stage materializes
    its cached frame inside its own timer, so the split sums to the whole
    and a regression in ONE stage is attributable per bench round —
    VERDICT r4 task 6)."""
    from duckdb_faiss_ext_spark.operators.dedup import (
        bucket_pairs,
        cosine_buckets,
        cosine_verify_pairs,
        exact_dedup,
        jaccard_verify_pairs,
        minhash_buckets,
        minhash_lsh_pairs,
        neardup_survivors,
    )

    timings: dict = {}
    t0 = time.perf_counter()
    n0 = docs0.count()

    # 1. exact dedup ---------------------------------------------------------
    docs = exact_dedup(docs0, "doc_id", "text").cache()
    n1 = docs.count()
    timings["exact"] = time.perf_counter() - t0
    t0 = time.perf_counter()

    # 2+3. MinHash LSH candidates, Jaccard-verified --------------------------
    # cap_stats makes the bucket-cap truncation LOUD (VERDICT r11 task 5):
    # the pipeline output counts exactly what the cap dropped instead of
    # silently shrinking the candidate set
    # cap_mode='refine' (r13): dropping oversized buckets outright costs
    # real recall on boilerplate-clique corpora (verified-pair recall 0.82,
    # dropped-doc recall 0.77 vs uncapped at 200k — SCALE.md r13 receipt);
    # wider-shingle re-banding of just the oversized members recovers
    # 0.976 / 0.9995 at zero cost when no bucket breaches
    # the bucket frame stays persisted from the audit through the count, so
    # the md5 signature pass runs once for the audit AND the pairs
    lsh_cap: dict = {}
    lsh_buckets = minhash_buckets(docs, "doc_id", "text", 4, 2, shingle_n=3).persist()
    cand = minhash_lsh_pairs(
        docs, "doc_id", "text", 4, 2, shingle_n=3, max_bucket=max_bucket,
        cap_stats=lsh_cap, cap_mode="refine", buckets=lsh_buckets,
    )
    cand_ids = cand.select("id_a", "id_b").distinct().cache()
    n_cand = cand_ids.count()
    lsh_buckets.unpersist()
    timings["lsh_candidates"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    # verify the candidate pairs DIRECTLY — O(|pairs|), two hash joins
    # shipping each side's gram set onto the pair row.  The previous plan
    # (ngram_jaccard_pairs over candidate docs, then a semi-join onto the
    # pairs) went quadratic on boilerplate grams BEFORE the semi-join
    # could prune: the r12 10M probe measured 61 s for 17k pairs at 200k
    # docs; per-pair verification is linear in the (bucket-capped)
    # candidate count.  Equivalence of the two verifications is
    # pytest-pinned (tests/test_dedup.py).
    # cache: the verified pairs feed BOTH the survivor graph and the stats
    # count — uncached, the whole gram pipeline re-ran per use
    verified = jaccard_verify_pairs(
        docs, cand_ids, "doc_id", "text", n=3, threshold=0.8
    ).cache()
    n_ver = verified.count()
    timings["jaccard_verify"] = time.perf_counter() - t0
    t0 = time.perf_counter()

    # 4. embedding near-dup (cosine > 0.95 via hyperplane-LSH buckets) -------
    # 24 planes / 4 bands = 6-bit bands: P(candidate | cos=0.95) ~ 0.95,
    # ~0.99 at cos>=0.99 (the usual near-dup regime), with 64 buckets per
    # band instead of 16 — the verify join scores ~n²/buckets pairs, so
    # band width is the direct scale knob (16 planes / 4-bit bands spent
    # ~60% of the whole pipeline exact-verifying bucket collisions).
    # cosine_lsh_pairs composed here so the bucket frame (the hyperplane
    # signs) stays persisted from the audit through the count
    dim = len(emb.select("embedding").first()[0])
    vecs = emb.withColumnRenamed("vec_id", "doc_id")
    sem_cap: dict = {}
    sem_buckets = cosine_buckets(
        vecs, "doc_id", "embedding", dim, n_planes=24, n_bands=4
    ).persist()
    sem = (
        cosine_verify_pairs(
            vecs,
            bucket_pairs(sem_buckets, max_bucket, sem_cap),
            "doc_id",
            "embedding",
            threshold=0.95,
        )
        .select(F.col("id_a"), F.col("id_b"))
        .cache()
    )
    n_sem = sem.count()
    sem_buckets.unpersist()
    timings["semantic_lsh"] = time.perf_counter() - t0
    t0 = time.perf_counter()

    # 5. survivor selection: connected components over ALL near-dup edges ----
    all_pairs = verified.select("id_a", "id_b").union(sem).distinct()
    clean = neardup_survivors(
        docs, all_pairs, "doc_id", max_degree=max_degree
    ).cache()
    n2 = clean.count()
    timings["survivors"] = time.perf_counter() - t0
    stats = {
        "input_docs": n0,
        "after_exact": n1,
        "lsh_candidate_pairs": n_cand,
        "jaccard_verified": n_ver,
        "semantic_neardups": n_sem,
        "clean_docs": n2,
        "timings": timings,
        # loud-cap receipts (VERDICT r11 task 5): what the bucket caps
        # actually dropped, per banded stage
        "lsh_bucket_cap": lsh_cap,
        "semantic_bucket_cap": sem_cap,
    }
    docs.unpersist()
    cand_ids.unpersist()
    verified.unpersist()
    sem.unpersist()
    clean.unpersist()
    return stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from duckdb_faiss_ext_spark.session import get_spark

    spark = get_spark("dedup-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    st = run_pipeline(docs, emb)

    print(f"input docs:            {st['input_docs']}")
    print(
        f"after exact dedup:     {st['after_exact']}  "
        f"(-{st['input_docs'] - st['after_exact']})"
    )
    print(f"lsh candidate pairs:   {st['lsh_candidate_pairs']}")
    print(f"jaccard-verified:      {st['jaccard_verified']}")
    print(f"semantic near-dups:    {st['semantic_neardups']}")
    print(
        f"clean corpus:          {st['clean_docs']}  "
        f"(-{st['after_exact'] - st['clean_docs']} near-dups)"
    )
    assert st["clean_docs"] <= st["after_exact"] <= st["input_docs"]


if __name__ == "__main__":
    main()
