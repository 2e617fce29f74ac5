"""Train-time degenerate-assignment warning (VERDICT r6 task 4).

IP coarse assignment on UNNORMALIZED data silently collapses onto the
largest-norm centroids (1941/2048 empty clusters at the 1M probe,
SCALE.md r6) — the engine must warn at train time, under the INDEX metric
(MLlib clusterSizes are L2-based and blind to this)."""

import warnings

import numpy as np
import pytest

from duckdb_faiss_ext_spark import FaissSparkEngine


@pytest.fixture()
def eng(spark):
    e = FaissSparkEngine(spark)
    yield e
    for name in e.list_indexes():
        e.destroy(name)


def _vec_df(spark, x):
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "label bigint, vector array<float>",
    )


def _ip_collapse_blobs():
    """32 tight blobs whose centres' norms span 5..200: an L2 fit recovers
    them one per centroid (an even L2 histogram), while the IP assignment
    piles them onto the largest-norm centroids — only the index-metric
    histogram is degenerate."""
    rng = np.random.default_rng(3)
    dirs = rng.standard_normal((32, 8))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    centres = dirs * np.exp(rng.uniform(np.log(5.0), np.log(200.0), 32))[:, None]
    y = centres[np.repeat(np.arange(32), 64)] + 0.5 * rng.standard_normal((2048, 8))
    return y.astype(np.float32)


def test_warns_on_unnormalized_ip(spark, eng):
    """The SCALE.md r6 hazard in miniature: IP + high nlist + wildly varying
    norms -> most points assign to the few largest-norm centroids."""
    rng = np.random.default_rng(7)
    x = rng.standard_normal((2000, 8)).astype(np.float32)
    x *= rng.lognormal(0.0, 2.0, size=(2000, 1)).astype(np.float32)  # heavy norm spread
    eng.create("skew", 8, "IDMap,IVF32,Flat", metric_type="INNER_PRODUCT")
    with pytest.warns(UserWarning, match="degenerate coarse assignment"):
        eng.add("skew", _vec_df(spark, x))
    # the driver fit labels by L2; the warning must read the IP relabel
    eng.create("skew_blobs", 8, "IDMap,IVF32,Flat", metric_type="INNER_PRODUCT")
    with pytest.warns(UserWarning, match="degenerate coarse assignment"):
        eng.add("skew_blobs", _vec_df(spark, _ip_collapse_blobs()))


def test_silent_on_normalized_testdata(spark, eng):
    """The testdata embeddings are unit-norm: no warning."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng.create("ok", 64, "IDMap,IVF8,Flat", metric_type="INNER_PRODUCT")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        eng.add("ok", emb.select("vec_id", "embedding"))
    res = eng.search_flat(
        "ok", 1,
        emb.limit(3).selectExpr("vec_id as qid", "embedding as vector"),
        params={"nprobe": 8},
    ).collect()
    assert all(r["qid"] == r["label"] for r in res)


def test_silent_on_l2_small_nlist(spark, eng):
    """L2 with small nlist on well-spread data: the 5x-even-share guard
    keeps legitimately uneven small-nlist histograms quiet."""
    rng = np.random.default_rng(11)
    x = rng.standard_normal((500, 8)).astype(np.float32)
    eng.create("l2s", 8, "IDMap,IVF4,Flat", metric_type="L2")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        eng.add("l2s", _vec_df(spark, x))


def test_rebalance_splits_oversize_cluster(spark, eng):
    """VERDICT r7 task 4: a corpus with one dominant dense blob (132x the
    even share at the 4M/2048 probe) must not leave one giant cluster —
    training splits it into empty/tiny donor slots, keeping nlist constant
    and exact self-search intact."""
    rng = np.random.default_rng(5)
    # 85% of points in ONE tight blob, the rest spread out: KMeans gives the
    # blob one (or few) centroids, far over 4x the even share at nlist=16
    blob = 0.01 * rng.standard_normal((1700, 8)).astype(np.float32)
    spread = rng.standard_normal((300, 8)).astype(np.float32) + 5.0
    x = np.vstack([blob, spread])
    eng.create("reb", 8, "IDMap,IVF16,Flat", metric_type="L2")
    eng.add("reb", _vec_df(spark, x))
    idx = eng.registry.get("reb")
    assert idx.centroids.shape == (16, 8)  # nlist unchanged
    sizes = (
        idx.data.groupBy("cluster_id").count().toPandas()["count"].to_numpy()
    )
    # even share = 125; without rebalance the blob cluster held ~1700 rows
    assert sizes.max() <= 4 * (len(x) / 16) * 1.5  # slack: corpus vs sample
    # correctness: exact self-search at full probe depth still perfect
    q = _vec_df(spark, x[::97]).selectExpr("label as qid", "vector")
    res = eng.search_flat("reb", 1, q, params={"nprobe": 16}).collect()
    assert all(r["qid"] * 97 == r["label"] for r in res)


def test_rebalance_can_be_disabled(spark, eng):
    rng = np.random.default_rng(5)
    blob = 0.01 * rng.standard_normal((1700, 8)).astype(np.float32)
    spread = rng.standard_normal((300, 8)).astype(np.float32) + 5.0
    x = np.vstack([blob, spread])
    eng.create(
        "noreb", 8, "IDMap,IVF16,Flat", metric_type="L2",
        params={"rebalance_clusters": "0"},
    )
    eng.add("noreb", _vec_df(spark, x))
    sizes = (
        eng.registry.get("noreb").data.groupBy("cluster_id").count()
        .toPandas()["count"].to_numpy()
    )
    assert sizes.max() > 8 * (len(x) / 16)  # the blob stays one giant cluster


def test_rebalance_fold_never_pushes_target_over_cap(spark, eng):
    """ADVICE r8: folding a tiny donor into its nearest centroid could push
    a NEAR-CAP cluster over REBALANCE_CAP_SHARE, and since such a cluster's
    points were never collected the split loop could not fix it.  The fold
    must redirect donor points to the nearest UNDER-CAP centroid instead.

    Geometry (dim 2, nlist 16): a 900-row giant at the origin (over cap),
    a 35-row donor at (10,0) whose nearest neighbor is a 495-row near-cap
    cluster at (12,0), and 13 moderate clusters along y=20 that can absorb
    the redirected overflow."""
    rng = np.random.default_rng(11)
    cents = np.zeros((16, 2), dtype=np.float32)
    cents[1] = [10.0, 0.0]
    cents[2] = [12.0, 0.0]
    for k in range(13):
        cents[3 + k] = [7.0 * k, 20.0]
    giant = rng.standard_normal((900, 2)).astype(np.float32)
    donor = cents[1] + 0.05 * rng.standard_normal((35, 2)).astype(np.float32)
    near_cap = cents[2] + 0.05 * rng.standard_normal((495, 2)).astype(np.float32)
    mods = np.vstack([
        cents[3 + k] + 0.05 * rng.standard_normal((44, 2)).astype(np.float32)
        for k in range(13)
    ])
    x = np.vstack([giant, donor, near_cap, mods])
    counts = np.array([900, 35, 495] + [44] * 13, dtype=np.int64)
    n = int(counts.sum())
    eng.create("fold", 2, "IDMap,IVF16,Flat", metric_type="L2")
    idx = eng.registry.get("fold")
    idx.centroids = cents.copy()
    sample = _vec_df(spark, x).select("vector")
    cap = max(eng.REBALANCE_CAP_SHARE * n / 16, 32.0)
    out = eng._rebalance_oversize_clusters(idx, sample, counts.copy())
    assert int(out.sum()) == n  # fold + split conserve rows
    # pre-fix: the donor folded wholesale into cluster 2 (495+35=530 > cap)
    assert out.max() <= cap, f"cluster over cap after rebalance: {out}"
    assert out[0] <= cap  # the giant actually split


def test_degenerate_warning_hint_is_metric_conditional(spark, eng):
    """VERDICT r11 #3: the UNNORMALIZED-embeddings hint explains an
    IP-family failure mode; an L2 index must get the sample/nlist hint
    instead."""
    rng = np.random.default_rng(3)
    # 95% exact-duplicate rows + a spread tail: one cluster must hold
    # >= 95% of the sample under ANY metric -> degenerate warning
    x = np.vstack([
        np.ones((1900, 8), dtype=np.float32),
        rng.standard_normal((100, 8)).astype(np.float32),
    ])
    eng.create("l2skew", 8, "IDMap,IVF32,Flat", metric_type="L2")
    with pytest.warns(UserWarning, match="degenerate coarse assignment") as rec:
        eng.add("l2skew", _vec_df(spark, x))
    msgs = [str(w.message) for w in rec if "degenerate" in str(w.message)]
    assert msgs and all("UNNORMALIZED" not in m for m in msgs)
    assert any("training sample" in m for m in msgs)

    y = rng.standard_normal((2000, 8)).astype(np.float32)
    y *= rng.lognormal(0.0, 2.0, size=(2000, 1)).astype(np.float32)
    eng.create("ipskew", 8, "IDMap,IVF32,Flat", metric_type="INNER_PRODUCT")
    with pytest.warns(UserWarning, match="UNNORMALIZED"):
        eng.add("ipskew", _vec_df(spark, y))


def test_mllib_tier_rebalances_and_warns(spark, eng):
    """Samples above DRIVER_FIT_BYTES fit with MLlib KMeans; with the
    ceiling at 0 every fit takes that tier.  Its L2 histogram comes from
    MLlib's clusterSizes and its rebalance collect from ``_assign_only``:
    the blob corpus must still get its oversize cluster split.  Its non-L2
    histogram comes from ``_assign_only`` too: an IP corpus that is even
    under L2 but collapses under IP must still warn."""
    eng.DRIVER_FIT_BYTES = 0
    rng = np.random.default_rng(5)
    blob = 0.01 * rng.standard_normal((1700, 8)).astype(np.float32)
    spread = rng.standard_normal((300, 8)).astype(np.float32) + 5.0
    x = np.vstack([blob, spread])
    eng.create("mlreb", 8, "IDMap,IVF16,Flat", metric_type="L2")
    eng.add("mlreb", _vec_df(spark, x))
    idx = eng.registry.get("mlreb")
    assert idx.centroids.shape == (16, 8)
    sizes = idx.data.groupBy("cluster_id").count().toPandas()["count"].to_numpy()
    assert sizes.max() <= 4 * (len(x) / 16) * 1.5

    eng.create("mlip", 8, "IDMap,IVF32,Flat", metric_type="INNER_PRODUCT")
    with pytest.warns(UserWarning, match="degenerate coarse assignment"):
        eng.add("mlip", _vec_df(spark, _ip_collapse_blobs()))


def test_driver_fit_recovers_planted_centres(spark, eng):
    """nlist equal to the number of planted, well-separated centres: the
    driver fit puts one centroid on each, and every row lands in its own
    centre's cluster."""
    rng = np.random.default_rng(17)
    centres = 20.0 * rng.standard_normal((12, 8)).astype(np.float32)
    own = np.repeat(np.arange(12), 150)
    x = centres[own] + 0.1 * rng.standard_normal((len(own), 8)).astype(np.float32)
    eng.create("planted", 8, "IDMap,IVF12,Flat", metric_type="L2")
    eng.add("planted", _vec_df(spark, x))
    idx = eng.registry.get("planted")
    d = ((centres[:, None, :] - idx.centroids[None, :, :]) ** 2).sum(-1)
    nearest = d.argmin(1)
    assert sorted(nearest.tolist()) == list(range(12))  # one centroid each
    assert np.sqrt(d.min(1)).max() < 0.1
    got = idx.data.select("label", "cluster_id").toPandas()
    assert (got["cluster_id"].to_numpy() == nearest[own[got["label"].to_numpy()]]).all()
