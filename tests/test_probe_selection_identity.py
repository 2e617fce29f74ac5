"""Probe-selection identity across execution paths (r7).

The auto-router's contract is that driver-stream and bulk plans admit the
SAME clusters per query.  f32 BLAS centroid scores differ in the last ulp
with matrix shape, and a 1-ulp flip at the nprobe boundary admits a
different cluster on one path (caught live by the quiet 300k probe: 108
mismatched result rows).  engine._coarse_scores computes selection scores
in f64 rounded to f32, making the choice shape-independent; these tests
pin that the driver probe and the executor probe kernel agree under
adversarial chunkings and near-tie centroids."""

import numpy as np
import pytest

from duckdb_faiss_ext_spark import FaissSparkEngine


@pytest.fixture()
def eng(spark):
    e = FaissSparkEngine(spark)
    yield e
    for name in e.list_indexes():
        e.destroy(name)


def _mk_index(spark, eng, n=4000, dim=16, nlist=32, seed=5):
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)],
        "label bigint, vector array<float>",
    )
    eng.create("psel", dim, f"IDMap,IVF{nlist},Flat", metric_type="INNER_PRODUCT")
    eng.add("psel", df)
    return eng.registry.get("psel"), x


def test_driver_and_executor_probes_agree_under_chunking(spark, eng):
    """The driver probe (``_probe_ids``, behind the exact path's mask and
    the PQ/graph pre-filters) and the executor probe kernel (``_probe_rows``,
    the bulk path) pick the same clusters, in the same order."""
    idx, x = _mk_index(spark, eng)
    rng = np.random.default_rng(11)
    q = rng.standard_normal((256, 16)).astype(np.float32)
    nprobe = 4
    full_ids = eng._probe_ids(idx, q, nprobe)
    assert full_ids.shape == (len(q), nprobe)
    # chunked driver calls (different BLAS shapes) must agree with full
    for lo, hi in [(0, 1), (1, 7), (7, 256), (100, 101)]:
        np.testing.assert_array_equal(
            eng._probe_ids(idx, q[lo:hi], nprobe), full_ids[lo:hi]
        )
    # executor kernel through Spark, over several uneven partitions (each
    # Arrow batch is a different BLAS shape again)
    _assert_executor_probes_match(spark, eng, idx, q, nprobe, full_ids)


def _assert_executor_probes_match(spark, eng, idx, q, nprobe, want):
    qdf = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(q)],
        "qid bigint, vector array<float>",
    ).repartition(3)
    rows = eng._probe_rows(idx, qdf, nprobe).select("qid", "cluster_id").collect()
    got: dict = {}
    for r in rows:
        got.setdefault(int(r["qid"]), []).append(int(r["cluster_id"]))
    assert len(got) == len(q)
    for i in range(len(q)):
        assert got[i] == want[i].tolist()


def test_probe_choice_stable_on_near_tie_centroids(spark, eng):
    """Centroids engineered so many queries sit near the nprobe boundary:
    selection must still be chunking-independent."""
    idx, _ = _mk_index(spark, eng, seed=7)
    # queries ON the perpendicular bisector region of centroid pairs:
    # midpoints of all centroid pairs are maximal near-tie stress
    c = idx.centroids
    mids = ((c[:16] + c[16:32]) / 2.0).astype(np.float32)
    jitter = np.float32(1e-7) * np.arange(len(mids), dtype=np.float32)[:, None]
    q = mids + jitter
    full = eng._probe_ids(idx, q, 3)
    for lo, hi in [(0, 1), (3, 5), (5, 16)]:
        np.testing.assert_array_equal(eng._probe_ids(idx, q[lo:hi], 3), full[lo:hi])
    _assert_executor_probes_match(spark, eng, idx, q, 3, full)
