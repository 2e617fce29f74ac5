"""Steady-state IVF driver reads compile no new code.

``search_query_blocks`` drops the rows of clusters no query probes before
the Python kernel.  Written as ``isin(probed)``, that filter inlined each
probed id into the generated source, so every read with a new probe set
compiled fresh classes: 2 per 64-query nprobe-4 read and 3 per 1-query
read on a 10k x 64 IVF64.  The filter now carries the probed set as one
binary literal, a byte per cluster id, which codegen passes by reference,
so after one warm read the generated source repeats and the compile cache
serves it.  The results must not move: each read is checked against the
bulk route, whose grouped join never runs the pre-filter.

Reads scan the stored slices coalesced to a few tasks; that plan repeats
too, on a fixed index and from the second read after an append on."""

import numpy as np
import pandas as pd
import pytest

from duckdb_faiss_ext_spark import FaissSparkEngine

DIM, CENTERS, ROWS, K = 32, 64, 6400, 10


def _mixture(rng, centers, n):
    pick = rng.integers(0, len(centers), n)
    noise = rng.standard_normal((n, centers.shape[1]), dtype=np.float32)
    return (centers[pick] + np.float32(0.25) * noise).astype(np.float32)


def _frame(spark, ids, x, id_col):
    pdf = pd.DataFrame({id_col: np.asarray(ids, dtype=np.int64), "vector": list(x)})
    return spark.createDataFrame(pdf, f"{id_col} bigint, vector array<float>")


def _rows(df):
    return sorted((r["qid"], r["rank"], r["label"]) for r in df.collect())


def _compiles(spark) -> int:
    jvm = spark._jvm
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metric.METRIC_COMPILATION_TIME().getCount())


@pytest.fixture(scope="module")
def ivf(spark):
    rng = np.random.default_rng([911, 0])
    centers = rng.random((CENTERS, DIM), dtype=np.float32)
    eng = FaissSparkEngine(spark)
    eng.create("cg_ivf", DIM, f"IDMap,IVF{CENTERS}", "L2")
    eng.add("cg_ivf", _frame(spark, np.arange(ROWS), _mixture(rng, centers, ROWS), "label"))
    yield eng, centers
    eng.destroy("cg_ivf")


@pytest.mark.parametrize("nq", [64, 1])
def test_steady_state_ivf_read_compiles_nothing(spark, ivf, nq):
    eng, centers = ivf
    qrng = np.random.default_rng([nq, 1])
    driver = {"nprobe": 4, "bulk_queries": 0}
    reads = [_frame(spark, np.arange(nq), _mixture(qrng, centers, nq), "qid") for _ in range(4)]
    got, compiles = [], []
    for i, qdf in enumerate(reads):
        c0 = _compiles(spark)
        got.append(_rows(eng.search_flat("cg_ivf", K, qdf, params=dict(driver))))
        if i:  # reads[0] is the warm read
            compiles.append(_compiles(spark) - c0)
    assert compiles == [0, 0, 0]
    for qdf, rows in zip(reads, got):
        assert len(rows) == nq * K
        bulk = {"nprobe": 4, "bulk_queries": 1}
        assert rows == _rows(eng.search_flat("cg_ivf", K, qdf, params=bulk))


def test_coalesced_read_after_an_append_compiles_nothing(spark):
    rng = np.random.default_rng([912, 0])
    centers = rng.random((CENTERS, DIM), dtype=np.float32)
    eng = FaissSparkEngine(spark)
    eng.create("cg_app", DIM, f"IDMap,IVF{CENTERS}", "L2")
    eng.add("cg_app", _frame(spark, np.arange(ROWS), _mixture(rng, centers, ROWS), "label"))
    driver = {"nprobe": 4, "bulk_queries": 0}
    try:
        compiles = []
        for lo in (ROWS, ROWS + 500):
            more = _mixture(rng, centers, 500)
            eng.add("cg_app", _frame(spark, np.arange(lo, lo + 500), more, "label"))
            for _ in range(3):  # the first read after the append is the warm one
                qdf = _frame(spark, np.arange(64), _mixture(rng, centers, 64), "qid")
                c0 = _compiles(spark)
                rows = _rows(eng.search_flat("cg_app", K, qdf, params=dict(driver)))
                compiles.append(_compiles(spark) - c0)
                bulk = {"nprobe": 4, "bulk_queries": 1}
                assert rows == _rows(eng.search_flat("cg_app", K, qdf, params=bulk))
        assert compiles[1:3] == compiles[4:6] == [0, 0], compiles
    finally:
        eng.destroy("cg_app")
