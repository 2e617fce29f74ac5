"""Steady-state IVF driver reads compile no new code.

``search_query_blocks`` drops the rows of clusters no query probes before
the Python kernel.  Written as ``isin(probed)``, that filter inlined each
probed id into the generated source, so every read with a new probe set
compiled fresh classes: 2 per 64-query nprobe-4 read and 3 per 1-query
read on a 10k x 64 IVF64.  The filter now carries the probed set as one
binary literal, a byte per cluster id, which codegen passes by reference,
so after one warm read the generated source repeats and the compile cache
serves it.  The results must not move: each read is checked against the
bulk route, whose grouped join never runs the pre-filter."""

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
