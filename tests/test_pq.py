import numpy as np
import pyspark.sql.functions as F
import pytest

from duckdb_faiss_ext_spark.operators.pq import pq_encode, pq_search, pq_train
from duckdb_faiss_ext_spark.operators.topk import exact_knn_flat


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("label"), F.col("embedding").alias("vector")
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, dim=64, m=8, sample=512)


def test_train_shapes_and_determinism(emb, books):
    assert books.shape == (8, 256, 8)
    again = pq_train(emb, dim=64, m=8, sample=512)
    assert np.array_equal(books, again)


def test_encode_compression_and_range(spark, emb, books):
    codes = pq_encode(emb, books)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:20]:
        assert len(r["code"]) == 8
        assert all(0 <= c < 256 for c in r["code"])


def test_adc_recall_vs_exact(spark, emb, books):
    """ADC is approximate, but on 500 vectors with 8x8 codebooks recall@10
    against the exact L2 kernel must clear 0.5, and self-hit (rank 0 = the
    query itself) must hold for most queries."""
    codes = pq_encode(emb, books).cache()
    codes.count()
    q = emb.filter(F.col("label") < 20).select(
        F.col("label").alias("qid"), F.col("vector")
    )
    approx = pq_search(codes, q, books, 10, metric="L2")
    a_hits = {(r["qid"], r["label"]) for r in approx.collect()}
    exact = exact_knn_flat(emb, q, 10, metric="L2")
    e_hits = {(r["qid"], r["label"]) for r in exact.collect()}
    recall = len(a_hits & e_hits) / len(e_hits)
    assert recall >= 0.5, recall
    top1 = {
        r["qid"]: r["label"]
        for r in approx.collect()
        if r["rank"] == 0
    }
    self_hits = sum(1 for qid, lab in top1.items() if qid == lab)
    assert self_hits >= 15, top1


def test_adc_scores_close_to_true_l2(spark, emb, books):
    """ADC distance approximates true squared L2 within quantization error
    (relative error bounded on normalized vectors)."""
    codes = pq_encode(emb, books)
    q = emb.filter(F.col("label") == 0).select(
        F.col("label").alias("qid"), F.col("vector")
    )
    adc = {r["label"]: r["distance"] for r in pq_search(codes, q, books, 5, metric="L2").collect()}
    true = {
        r["label"]: r["distance"]
        for r in exact_knn_flat(emb, q, 5, metric="L2").collect()
    }
    common = set(adc) & set(true)
    assert common
    for lab in common:
        assert abs(adc[lab] - true[lab]) < 0.5, (lab, adc[lab], true[lab])


# ------------------------------------------------------ engine factory wiring


def test_engine_factory_pq_compresses(spark, emb):
    """'IVFn,PQm' through the engine (VERDICT r1 #6): data stores SMALLINT
    codes (no float vector column), cluster_id survives encoding, and search
    routes through ADC with IVF pruning."""
    from duckdb_faiss_ext_spark import FaissSparkEngine

    eng = FaissSparkEngine(spark)
    eng.create("fpq", 64, "IDMap,IVF4,PQ8", metric_type="L2")
    eng.add("fpq", emb.select("label", "vector"))
    idx = eng.registry.get("fpq")
    assert idx.codebooks.shape == (8, 256, 8)
    assert set(idx.data.columns) == {"label", "code", "cluster_id"}
    assert "vector" not in idx.data.columns  # compressed, not full-precision
    q = emb.filter(F.col("label") < 10).select(F.col("label").alias("qid"), "vector")
    res = eng.search_flat("fpq", 10, q, params={"nprobe": 4}).collect()
    assert len(res) == 100
    exact = exact_knn_flat(emb, q, 10, metric="L2")
    e_hits = {(r["qid"], r["label"]) for r in exact.collect()}
    a_hits = {(r["qid"], r["label"]) for r in res}
    assert len(a_hits & e_hits) / len(e_hits) >= 0.5


def test_engine_factory_pure_pq(spark, emb):
    """Standalone 'PQ8' (faiss IndexPQ): trains on first add, flat ADC scan,
    IP self-hit at rank 0 for normalized vectors."""
    from duckdb_faiss_ext_spark import FaissSparkEngine

    eng = FaissSparkEngine(spark)
    eng.create("ppq", 64, "IDMap,PQ8", metric_type="INNER_PRODUCT")
    eng.add("ppq", emb.select("label", "vector"))
    q = emb.filter(F.col("label") < 20).select(F.col("label").alias("qid"), "vector")
    res = eng.search_flat("ppq", 1, q).collect()
    assert sum(1 for r in res if r["label"] == r["qid"]) >= 18


def test_engine_pq_save_load_roundtrip(spark, emb, tmp_path):
    """Codebooks persist in meta.json; a loaded PQ index searches identically."""
    from duckdb_faiss_ext_spark import FaissSparkEngine

    eng = FaissSparkEngine(spark)
    eng.create("spq", 64, "IDMap,IVF4,PQ8", metric_type="L2")
    eng.add("spq", emb.select("label", "vector"))
    q = emb.filter(F.col("label") < 5).select(F.col("label").alias("qid"), "vector")
    before = sorted(
        (r["qid"], r["rank"], r["label"]) for r in eng.search_flat("spq", 5, q, params={"nprobe": 4}).collect()
    )
    eng.save("spq", str(tmp_path / "spq"))
    eng.load("spq2", str(tmp_path / "spq"))
    after = sorted(
        (r["qid"], r["rank"], r["label"]) for r in eng.search_flat("spq2", 5, q, params={"nprobe": 4}).collect()
    )
    assert before == after


def test_engine_pq_rejects_bad_dim_and_metric(spark):
    from duckdb_faiss_ext_spark import FaissSparkEngine
    from duckdb_faiss_ext_spark.errors import FaissSparkError
    import pytest

    eng = FaissSparkEngine(spark)
    with pytest.raises(FaissSparkError, match="divisible"):
        eng.create("bad1", 63, "IDMap,PQ8")
    with pytest.raises(FaissSparkError, match="L2 and INNER_PRODUCT"):
        eng.create("bad2", 64, "IDMap,PQ8", metric_type="COSINE")


def test_residual_encoding_tightens_adc_error(spark):
    """faiss IndexIVFPQ rationale: quantizing per-cluster RESIDUALS gives
    measurably lower ADC error than quantizing raw vectors at the same m
    WHEN the data clusters — residual magnitudes are then a fraction of
    vector magnitudes, so 256 codes/subspace cover them finer.  Uses a
    16-center Gaussian mixture (cluster std 0.1 vs unit-scale centers);
    compares mean |ADC − true L2| of the engine's IVF16,PQ8 (residual) vs
    pure PQ8 (raw) on identical data and candidates (full probe)."""
    from duckdb_faiss_ext_spark import FaissSparkEngine
    from duckdb_faiss_ext_spark.metrics import pairwise

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((16, 64)).astype(np.float32)
    assign = rng.integers(0, 16, 2000)
    corpus = (
        centers[assign] + 0.1 * rng.standard_normal((2000, 64))
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in corpus[i]]) for i in range(len(corpus))],
        "label bigint, vector array<float>",
    ).cache()
    qx = corpus[:8]
    qdf = spark.createDataFrame(
        [(int(i), [float(v) for v in qx[i]]) for i in range(8)],
        "qid bigint, vector array<float>",
    )
    true = pairwise(qx, corpus, "L2", 0.0)

    eng = FaissSparkEngine(spark)

    def mean_err(index_name, factory, params=None):
        eng.create(index_name, 64, factory, metric_type="L2")
        eng.add(index_name, df)
        res = eng.search_flat(index_name, 10, qdf, params=params or {}).collect()
        errs = [abs(r["distance"] - true[r["qid"], r["label"]]) for r in res]
        eng.destroy(index_name)
        return float(np.mean(errs))

    raw_err = mean_err("pq_raw", "IDMap,PQ8")
    # nprobe=16/16: full probe — same candidate set, only the encoding differs
    res_err = mean_err("pq_res", "IDMap,IVF16,PQ8", params={"nprobe": 16})
    assert res_err < raw_err * 0.5, (res_err, raw_err)


def test_pq_bulk_queries_matches_standard(spark):
    """params={'bulk_queries': 1} on an IVFPQ index routes through the
    cluster-keyed code-block equi-join (simjoin.block_join) — results must
    match the driver-block ADC path at the same nprobe."""
    import numpy as np
    from conftest import gen_vectors
    from duckdb_faiss_ext_spark import FaissSparkEngine

    eng = FaissSparkEngine(spark)
    x = gen_vectors(1000, 8, 5)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(1000)],
        "label bigint, vector array<float>",
    )
    for name, factory, metric in [
        ("bpq_l2", "IDMap,IVF4,PQ4", "L2"),
        ("bpq_ip", "IDMap,IVF4,PQ4", "INNER_PRODUCT"),
    ]:
        eng.create(name, 8, factory, metric_type=metric)
        eng.add(name, df)
        q = spark.createDataFrame(
            [(int(i), [float(v) for v in x[i]]) for i in (3, 77, 512)],
            "qid bigint, vector array<float>",
        )
        base = eng.search_flat(name, 5, q, params={"nprobe": 2}).collect()
        bulk = eng.search_flat(
            name, 5, q, params={"nprobe": 2, "bulk_queries": 1}
        ).collect()
        key = lambda rows: sorted((r["qid"], r["rank"], r["label"]) for r in rows)
        assert key(base) == key(bulk), (name, key(base)[:5], key(bulk)[:5])
        for b, u in zip(
            sorted(base, key=lambda r: (r["qid"], r["rank"])),
            sorted(bulk, key=lambda r: (r["qid"], r["rank"])),
        ):
            assert abs(b["distance"] - u["distance"]) < 1e-3, (b, u)
        eng.destroy(name)
