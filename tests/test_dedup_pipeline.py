"""One cold pass of ``examples.dedup_pipeline.run_pipeline``: each LSH stage
computes its signatures once (the pairs read the bucket frame the audit
persisted), and the pass runs a pinned number of Spark jobs."""

import numpy as np
import pandas as pd
import pytest

from duckdb_faiss_ext_spark.operators import dedup as D
from examples.dedup_pipeline import run_pipeline

DOCS, WORDS, VOCAB, DIM, PLANTED = 500, 60, 20_000, 64, 25

# jobs of one pass over the inputs below: 47 with an eager cap audit plus a
# band self-join per LSH stage and a bounded count before the components'
# collect
PASS_JOBS = 42


@pytest.fixture(scope="module")
def inputs(spark):
    """500 random 60-word documents and 64-d embeddings with 25 exact, 25
    near (one appended word) and 25 semantic (cosine > 0.999) duplicates."""
    rng = np.random.default_rng([31, 2])
    texts = [" ".join(f"w{w}" for w in row) for row in rng.integers(0, VOCAB, (DOCS, WORDS))]
    emb = rng.standard_normal((DOCS, DIM)).astype(np.float32)
    base = DOCS - 3 * PLANTED
    for i in range(PLANTED):
        texts[base + i] = texts[i]
        texts[base + PLANTED + i] = f"{texts[PLANTED + i]} w{VOCAB + i}"
        j = 2 * PLANTED + i
        emb[base + j] = emb[j] + 0.01 * rng.standard_normal(DIM).astype(np.float32)
    ids = np.arange(DOCS, dtype=np.int64)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": texts}), "doc_id bigint, text string"
    ).cache()
    embs = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": list(emb)}),
        "vec_id bigint, embedding array<float>",
    ).cache()
    docs.count()
    embs.count()
    yield docs, embs
    docs.unpersist()
    embs.unpersist()


def _plan_nodes(df):
    """(name, one-line description) of each node of ``df``'s optimized plan;
    a cached frame is one ``InMemoryRelation`` leaf, its plan not entered."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        out.append((node.nodeName(), node.simpleString(1000)))
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def test_each_lsh_stage_reads_its_bucket_frame_once(spark, inputs, monkeypatch):
    plans = {}

    def spy(name, fn):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            plans[name] = _plan_nodes(out)
            return out

        monkeypatch.setattr(D, name, wrapped)

    spy("minhash_lsh_pairs", D.minhash_lsh_pairs)
    spy("cosine_verify_pairs", D.cosine_verify_pairs)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cached = persistent().size()
    stats = run_pipeline(*inputs)
    assert stats["clean_docs"] == 425

    lsh = plans["minhash_lsh_pairs"]
    assert [n for n, _ in lsh].count("InMemoryRelation") == 1
    assert not any("md5(" in s for _, s in lsh), lsh

    sem = [n for n, _ in plans["cosine_verify_pairs"]]
    # one InMemoryRelation per side's vectors and one for the buckets; the
    # only Python operator left is the verify's cosine
    assert sem.count("InMemoryRelation") == 3
    assert not any("MapInArrow" in n for n in sem), sem
    assert sem.count("ArrowEvalPython") == 1
    assert persistent().size() == cached  # the pass leaves nothing cached


def test_pass_job_count(spark, inputs):
    sc = spark.sparkContext
    sc.setJobGroup("dedup-pass-jobs", "one pipeline pass")
    try:
        stats = run_pipeline(*inputs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats["clean_docs"] == 425
    assert len(sc.statusTracker().getJobIdsForGroup("dedup-pass-jobs")) == PASS_JOBS
