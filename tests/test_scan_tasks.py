"""A read's scan tasks come from the index's exact stored bytes.

Each scan task costs a fixed 0.05-0.12 CPU-s (a Python worker round trip
plus a JVM task).  ``search_flat`` coalesces the stored corpus, the union of
its slices, to ``scan_tasks(count * row bytes, cores)`` tasks, so the
count no longer follows the partitioning of the frames the index was built
and appended from.  The unit tests pin the rule; the integration tests
count the tasks of the stage that reads the cached corpus and check the
answers against ``exact_knn_flat`` over the uncoalesced corpus."""

import os
import sys

import numpy as np
import pandas as pd
import pytest

from duckdb_faiss_ext_spark import FaissSparkEngine
from duckdb_faiss_ext_spark.engine import SCAN_TASK_MIN_BYTES, scan_tasks
from duckdb_faiss_ext_spark.factory import parse_factory
from duckdb_faiss_ext_spark.operators.topk import exact_knn_flat
from duckdb_faiss_ext_spark.registry import FaissIndex

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))
from stage_tasks import scan_tasks_of  # noqa: E402


def _row_bytes(factory, dim=64, sq8=False, pq_m=None):
    idx = FaissIndex(name="x", dim=dim, spec=parse_factory(factory), metric="L2")
    if sq8:
        idx.sq_vdiff = np.ones(dim, dtype=np.float32)
    if pq_m:
        idx.codebooks = np.zeros((pq_m, 256, dim // pq_m), dtype=np.float32)
    return FaissSparkEngine._stored_row_bytes(idx)


# ------------------------------------------------------------ the rule


def test_stored_row_bytes_per_tier():
    assert _row_bytes("IDMap,Flat") == 8 + 64 * 4
    assert _row_bytes("IDMap,IVF64") == 8 + 64 * 4 + 4
    assert _row_bytes("IDMap,Flat,SQ8", sq8=True) == 8 + 64
    assert _row_bytes("IDMap,IVF64,SQ8", sq8=True) == 8 + 64 + 4
    assert _row_bytes("IDMap,PQ8", pq_m=8) == 8 + 8 * 2
    assert _row_bytes("IDMap,IVF64,PQ8", pq_m=8) == 8 + 8 * 2 + 4


def test_small_index_is_one_task():
    # perfbench serve: 10k x 64 float32, Flat and IVF, on any core count
    for factory in ("IDMap,Flat", "IDMap,IVF64"):
        for cores in (4, 32):
            assert scan_tasks(10_000 * _row_bytes(factory), cores) == 1
    # appends do not split it while it stays under the floor
    assert scan_tasks(SCAN_TASK_MIN_BYTES - 1, 4) == 1
    assert scan_tasks(0, 4) == 1


def test_million_rows_take_the_cores():
    for factory in ("IDMap,Flat", "IDMap,IVF2048"):
        total = 1_000_000 * _row_bytes(factory)
        assert scan_tasks(total, 4) == 4
        assert scan_tasks(total, 32) == 32
    # no more tasks than cores, however large the corpus
    assert scan_tasks(10_000_000 * _row_bytes("IDMap,Flat"), 4) == 4


def test_quantized_tiers_take_fewer_tasks():
    sq8 = 1_000_000 * _row_bytes("IDMap,Flat,SQ8", sq8=True)  # 72 MB
    assert scan_tasks(sq8, 4) == 4
    assert scan_tasks(sq8, 32) == sq8 // SCAN_TASK_MIN_BYTES == 9
    pq = 1_000_000 * _row_bytes("IDMap,IVF64,PQ8", pq_m=8)  # 28 MB
    assert scan_tasks(pq, 32) == 3


# ------------------------------------------------------- the engine's reads

DIM, K = 16, 10


def _frame(spark, ids, x, id_col):
    pdf = pd.DataFrame({id_col: np.asarray(ids, dtype=np.int64), "vector": list(x)})
    return spark.createDataFrame(pdf, f"{id_col} bigint, vector array<float>")


def _rows(df):
    return sorted((r["qid"], r["rank"], r["label"]) for r in df.collect())


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(7)
    x = rng.random((6400, DIM), dtype=np.float32)
    q = _frame(spark, np.arange(64), rng.random((64, DIM), dtype=np.float32), "qid")
    return rng, x, q


def test_flat_from_four_partitions_scans_in_one_task(spark, data):
    _, x, q = data
    eng = FaissSparkEngine(spark)
    eng.create("st_flat", DIM, "IDMap,Flat", "L2")
    eng.add("st_flat", _frame(spark, np.arange(len(x)), x, "label").repartition(4))
    corpus = eng.registry.get("st_flat").data
    assert corpus.rdd.getNumPartitions() == 4
    try:
        got, tasks = scan_tasks_of(
            spark, lambda: _rows(eng.search_flat("st_flat", K, q))
        )
        assert tasks == 1
        assert got == _rows(exact_knn_flat(corpus, q, K, "L2"))
    finally:
        eng.destroy("st_flat")


def test_ivf_appends_do_not_add_scan_tasks(spark, data):
    rng, x, q = data
    eng = FaissSparkEngine(spark)
    eng.create("st_ivf", DIM, "IDMap,IVF64", "L2")
    eng.add("st_ivf", _frame(spark, np.arange(len(x)), x, "label"))
    idx = eng.registry.get("st_ivf")
    try:
        tasks, got = [], {}
        for i in range(4):
            if i:
                lo = len(x) + 500 * i
                more = rng.random((500, DIM), dtype=np.float32)
                eng.add("st_ivf", _frame(spark, np.arange(lo, lo + 500), more, "label"))
            for bulk in (0, 1):
                params = {"nprobe": 4, "bulk_queries": bulk}
                got[bulk], n = scan_tasks_of(
                    spark,
                    lambda p=params: _rows(eng.search_flat("st_ivf", K, q, params=p)),
                )
                tasks.append(n)
        assert len(idx.slices) == 4
        assert idx.data.rdd.getNumPartitions() > 4
        assert tasks == [1] * 8
        ref = exact_knn_flat(
            idx.data, q, K, "L2", cluster_col="cluster_id",
            probe=lambda qv: eng._probe_ids(idx, qv, 4),
        )
        assert got[0] == got[1] == _rows(ref)
    finally:
        eng.destroy("st_ivf")
