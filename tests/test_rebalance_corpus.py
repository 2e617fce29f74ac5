"""Corpus-count-aware IVF skew control (VERDICT r9 task 1): the rebalance
cap must bind the FULL-CORPUS assignment histogram, not just the training
sample — sample-level rebalance drifts by the sample ratio when the
centroids meet all the data (measured 11x-even max clusters at 1M/2048,
SCALE.md r9)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from duckdb_faiss_ext_spark.engine import FaissSparkEngine
from duckdb_faiss_ext_spark.errors import FaissSparkError

NLIST = 8
N = 4000


def _skewed(n=N, dim=8, blob_frac=0.75, seed=7):
    """3/4 of rows in one tight blob + 1/4 spread — a corpus whose even
    share the blob cluster exceeds ~6x."""
    rng = np.random.default_rng(seed)
    nb = int(n * blob_frac)
    blob = rng.normal(0.0, 0.02, size=(nb, dim)) + 5.0
    rest = rng.uniform(-4.0, 4.0, size=(n - nb, dim))
    return np.vstack([blob, rest]).astype(np.float32)


def _df(spark, x, id_col="label"):
    return spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)],
        f"{id_col} bigint, vector array<float>",
    )


def _hist(idx):
    rows = idx.data.groupBy("cluster_id").count().collect()
    return {int(r["cluster_id"]): int(r["count"]) for r in rows}


def _build(spark, x, name, factory=f"IDMap,IVF{NLIST}", params=None, eng=None):
    eng = eng or FaissSparkEngine(spark)
    base = {"train_points_per_centroid": "32"}  # small sample => real drift
    eng.create(name, x.shape[1], factory, metric_type="L2",
               params={**base, **(params or {})})
    eng.add(name, _df(spark, x))
    return eng


def test_build_time_corpus_histogram_under_cap(spark):
    x = _skewed()
    eng = _build(spark, x, "cr_auto")
    idx = eng.registry.get("cr_auto")
    hist = _hist(idx)
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * N / NLIST, 32.0)
    assert max(hist.values()) <= cap, (max(hist.values()), cap)
    # bounded growth: never beyond 2x the factory nlist
    assert NLIST <= len(idx.centroids) <= 2 * NLIST
    # a second public call is a no-op measurement pass
    out = eng.rebalance("cr_auto")
    assert out["splits"] == 0 and out["passes"] == 0
    assert out["max_share"] <= FaissSparkEngine.REBALANCE_CAP_SHARE


def test_posthoc_rebalance_splits_and_search_stays_exact(spark):
    x = _skewed()
    # disable at build: the corpus histogram keeps the raw blob skew
    eng = _build(spark, x, "cr_off", params={"rebalance_clusters": "0"})
    idx = eng.registry.get("cr_off")
    before = _hist(idx)
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * N / NLIST, 32.0)
    assert max(before.values()) > cap  # the fixture really is adversarial
    q = _df(spark, x[::401], id_col="qid")
    full = {"nprobe": NLIST}  # >= factory nlist => exact scan, recall 1.0
    exact_before = sorted(
        map(tuple, eng.search_flat("cr_off", 5, q, params=full).collect())
    )
    idx.params["rebalance_clusters"] = "1"
    out = eng.rebalance("cr_off")
    assert out["splits"] > 0 and out["passes"] >= 1
    after = _hist(idx)
    assert max(after.values()) <= cap, (max(after.values()), cap)
    assert sum(after.values()) == N  # no row lost or duplicated
    assert len(idx.centroids) <= 2 * NLIST
    # full-probe search is UNCHANGED by the layout rewrite
    exact_after = sorted(
        map(tuple, eng.search_flat("cr_off", 5, q, params=full).collect())
    )
    assert exact_before == exact_after
    # pruned search still finds the same neighbors at modest nprobe:
    # measured 1.0 on this fixture (children of the blob sit adjacent);
    # 0.9 floor leaves seed headroom
    pruned = {
        (r["qid"], r["label"])
        for r in eng.search_flat(
            "cr_off", 5, q, params={"nprobe": 4}
        ).collect()
    }
    recall = len(pruned & set((a, c) for a, _, c, _ in exact_after)) / len(
        exact_after
    )
    assert recall >= 0.9, recall


def test_rebalance_sq8_keeps_codes(spark):
    x = _skewed(n=2000)
    eng = _build(spark, x, "cr_sq", factory=f"IDMap,IVF{NLIST},SQ8",
                 params={"rebalance_clusters": "0"})
    idx = eng.registry.get("cr_sq")
    idx.params["rebalance_clusters"] = "1"
    out = eng.rebalance("cr_sq")
    assert out["splits"] > 0
    assert dict(idx.data.dtypes)["codes"] == "array<tinyint>"
    assert "vector" not in idx.data.columns
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * 2000 / NLIST, 32.0)
    assert max(_hist(idx).values()) <= cap
    q = _df(spark, x[:4], id_col="qid")
    hits = eng.search_flat("cr_sq", 1, q, params={"nprobe": NLIST}).collect()
    assert all(r["qid"] == r["label"] for r in hits)  # SQ8 self-hit survives


def test_rebalance_rejects_ineligible_indexes(spark, tmp_path):
    eng = FaissSparkEngine(spark)
    x = _skewed(n=600)
    eng.create("cr_flat", 8, "IDMap,Flat")
    eng.add("cr_flat", _df(spark, x))
    with pytest.raises(FaissSparkError, match="IVF"):
        eng.rebalance("cr_flat")
    eng.create("cr_pq", 8, "IDMap,IVF4,PQ2", metric_type="L2")
    eng.add("cr_pq", _df(spark, x))
    with pytest.raises(FaissSparkError, match="centroid-dependent"):
        eng.rebalance("cr_pq")


def test_rebalance_disk_mode_rewrites_only_offender_dirs(spark, tmp_path):
    """Disk-backed IVF (the 100 TB shape): the corpus pass rewrites ONLY
    the offenders' partition directories via dynamic partition overwrite;
    untouched cluster directories keep their original files."""
    import os

    x = _skewed(n=2000)
    path = str(tmp_path / "cr_disk")
    eng = _build(
        spark, x, "cr_disk",
        params={"rebalance_clusters": "0", "storage_path": path},
    )
    idx = eng.registry.get("cr_disk")
    before = _hist(idx)
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * 2000 / NLIST, 32.0)
    assert max(before.values()) > cap
    data_dir = os.path.join(path, "data.parquet")
    untouched = [
        c for c, n_ in before.items() if n_ <= cap / 2
    ]
    mtime_before = {
        c: os.path.getmtime(os.path.join(data_dir, f"cluster_id={c}"))
        for c in untouched
    }
    q = _df(spark, x[::173], id_col="qid")
    exact_before = sorted(
        map(tuple, eng.search_flat("cr_disk", 5, q, params={"nprobe": NLIST}).collect())
    )
    idx.params["rebalance_clusters"] = "1"
    out = eng.rebalance("cr_disk")
    assert out["splits"] > 0
    after = _hist(idx)
    assert max(after.values()) <= cap, (max(after.values()), cap)
    assert sum(after.values()) == 2000
    # new child directories exist on disk; untouched dirs not rewritten
    grown = [c for c in after if c >= NLIST]
    assert grown and all(
        os.path.isdir(os.path.join(data_dir, f"cluster_id={c}")) for c in grown
    )
    for c in untouched:
        assert os.path.getmtime(
            os.path.join(data_dir, f"cluster_id={c}")
        ) == mtime_before[c], f"untouched cluster dir {c} was rewritten"
    exact_after = sorted(
        map(tuple, eng.search_flat("cr_disk", 5, q, params={"nprobe": NLIST}).collect())
    )
    assert exact_before == exact_after


def test_append_drift_warning_and_running_histogram(spark):
    """Trained appends maintain the corpus histogram for free (the slice
    materialization job) and — with auto-rebalance opted out — warn ONCE
    when drift crosses the cap; rebalance() splits and resets the latch."""
    import warnings as w

    rng = np.random.default_rng(3)
    spread = rng.uniform(-4.0, 4.0, size=(800, 8)).astype(np.float32)
    eng = _build(spark, spread, "cr_drift",
                 params={"rebalance_on_append": "0"})
    idx = eng.registry.get("cr_drift")
    assert idx.cluster_counts is not None
    assert int(idx.cluster_counts.sum()) == 800
    # append a tight blob: all rows land in ONE cluster and cross the cap
    blob = (rng.normal(0.0, 0.02, size=(1600, 8)) + 5.0).astype(np.float32)
    blob_df = spark.createDataFrame(
        [(800 + i, [float(v) for v in r]) for i, r in enumerate(blob)],
        "label bigint, vector array<float>",
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        eng.add("cr_drift", blob_df)
        drift = [c for c in caught if "drifted" in str(c.message)]
    assert len(drift) == 1, [str(c.message) for c in caught]
    assert int(idx.cluster_counts.sum()) == 2400
    # running counts match the true histogram exactly
    true_hist = _hist(idx)
    for c, n_ in true_hist.items():
        assert int(idx.cluster_counts[c]) == n_
    # second append: latch holds, no duplicate warning
    with w.catch_warnings(record=True) as caught2:
        w.simplefilter("always")
        eng.add("cr_drift", blob_df.withColumn("label", F.col("label") + 10000).limit(50))
        drift2 = [c for c in caught2 if "drifted" in str(c.message)]
    assert not drift2
    # rebalance splits the drifted cluster and resets the latch
    out = eng.rebalance("cr_drift")
    assert out["splits"] > 0
    assert not idx.skew_warned
    cap = max(
        FaissSparkEngine.REBALANCE_CAP_SHARE
        * int(idx.cluster_counts.sum())
        / NLIST,
        32.0,
    )
    assert max(_hist(idx).values()) <= cap


def _drift_fixture(spark, seed=3, n0=800, nblob=1600):
    """Even-ish trained corpus + a tight blob append that lands in ONE
    cluster and crosses the rebalance cap."""
    rng = np.random.default_rng(seed)
    spread = rng.uniform(-4.0, 4.0, size=(n0, 8)).astype(np.float32)
    blob = (rng.normal(0.0, 0.02, size=(nblob, 8)) + 5.0).astype(np.float32)
    blob_df = spark.createDataFrame(
        [(n0 + i, [float(v) for v in r]) for i, r in enumerate(blob)],
        "label bigint, vector array<float>",
    )
    return spread, blob_df


def test_append_drift_auto_rebalance_restores_cap(spark):
    """Default behavior (VERDICT r10 task 5): the add that drifts the
    histogram over the cap triggers the corpus rebalance itself, so the
    cap invariant holds after EVERY add — no warning, no manual call.
    Mirrors the reference's add path keeping index invariants on every
    add (faiss_extension.cpp:505-532)."""
    import warnings as w

    spread, blob_df = _drift_fixture(spark)
    eng = _build(spark, spread, "cr_adrift")  # defaults: auto ON
    idx = eng.registry.get("cr_adrift")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        eng.add("cr_adrift", blob_df)
        drift = [c for c in caught if "drifted" in str(c.message)]
    assert not drift, [str(c.message) for c in caught]
    n = 800 + 1600
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * n / NLIST, 32.0)
    hist = _hist(idx)
    assert max(hist.values()) <= cap, (max(hist.values()), cap)
    assert sum(hist.values()) == n  # no row lost or duplicated
    assert NLIST < len(idx.centroids) <= 2 * NLIST  # blob actually split
    # the refreshed running histogram matches ground truth
    for c, n_ in hist.items():
        assert int(idx.cluster_counts[c]) == n_
    # self-hit search survives the mid-stream layout rewrite
    q = blob_df.limit(4).select(
        F.col("label").alias("qid"), F.col("vector")
    )
    hits = eng.search_flat("cr_adrift", 1, q, params={"nprobe": NLIST}).collect()
    assert all(r["qid"] == r["label"] for r in hits)


def test_append_drift_auto_rebalance_disk_mode(spark, tmp_path):
    """Same invariant on the disk layout: the auto pass rewrites only the
    offender partition directories and the cap holds after the add."""
    spread, blob_df = _drift_fixture(spark)
    eng = _build(
        spark, spread, "cr_adrift_disk",
        params={"storage_path": str(tmp_path / "cr_adrift_disk")},
    )
    idx = eng.registry.get("cr_adrift_disk")
    eng.add("cr_adrift_disk", blob_df)
    n = 800 + 1600
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * n / NLIST, 32.0)
    hist = _hist(idx)
    assert max(hist.values()) <= cap, (max(hist.values()), cap)
    assert sum(hist.values()) == n
    q = blob_df.limit(4).select(F.col("label").alias("qid"), F.col("vector"))
    hits = eng.search_flat(
        "cr_adrift_disk", 1, q, params={"nprobe": NLIST}
    ).collect()
    assert all(r["qid"] == r["label"] for r in hits)


def test_append_auto_rebalance_retry_latch(spark):
    """A pass that CANNOT restore the cap (growth budget spent /
    non-separating data) must not re-fire on every micro-batch: the
    corpus size is latched and no retry happens until it grows 25%."""
    import warnings as w

    spread, blob_df = _drift_fixture(spark)
    eng = _build(spark, spread, "cr_latch")
    idx = eng.registry.get("cr_latch")
    calls = []
    real = eng._rebalance_corpus

    def failing(ix, **kw):
        calls.append(int(ix.cluster_counts.sum()))
        ix.skew_warned = False
        return {"passes": 1, "splits": 0, "max_share": 99.0}

    eng._rebalance_corpus = failing
    try:
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            eng.add("cr_latch", blob_df)  # crosses cap -> pass fires, fails
            drift = [c for c in caught if "drifted" in str(c.message)]
        assert len(calls) == 1 and len(drift) == 1
        # tiny follow-up appends: latched, no retry, no duplicate warning
        with w.catch_warnings(record=True) as caught2:
            w.simplefilter("always")
            eng.add(
                "cr_latch",
                blob_df.withColumn("label", F.col("label") + 10000).limit(40),
            )
        assert len(calls) == 1
        assert not [c for c in caught2 if "drifted" in str(c.message)]
        # grow the corpus >= 25% past the latch point: retry fires
        big = blob_df.withColumn("label", F.col("label") + 20000)
        eng.add("cr_latch", big)
        assert len(calls) == 2, calls
    finally:
        eng._rebalance_corpus = real


def test_rebalance_inner_product_spherical_children(spark):
    """Dot-selection metrics need unit-norm split children: L2-mean
    children have unequal norms and an IP argmax routes every row to the
    largest-norm child, burning the split (r10 review finding).  With
    spherical children the blob separates and the cap holds."""
    x = _skewed(n=2000)
    eng = FaissSparkEngine(spark)
    eng.create(
        "cr_ip", 8, f"IDMap,IVF{NLIST}", metric_type="INNER_PRODUCT",
        params={"train_points_per_centroid": "32", "rebalance_clusters": "0"},
    )
    eng.add("cr_ip", _df(spark, x))
    idx = eng.registry.get("cr_ip")
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * 2000 / NLIST, 32.0)
    before = max(_hist(idx).values())
    assert before > cap  # unnormalized IP concentrates the blob
    idx.params["rebalance_clusters"] = "1"
    out = eng.rebalance("cr_ip")
    after = max(_hist(idx).values())
    # the split must actually separate rows — strictly shrinking max, and
    # either under cap or stopped honestly by the no-progress guard
    assert after < before, (before, after)
    assert out["splits"] > 0
    assert sum(_hist(idx).values()) == 2000


def test_append_auto_rebalance_floor_regime_counts_as_success(spark):
    """Small-n regime (r11 review finding): when the operative cap is the
    32-row ABSOLUTE floor (4n/nlist < 32), a pass that splits the drifted
    cluster down to <= 32 rows has restored the invariant — the success
    test must apply the same max(share, floor) rule as the trigger, not
    the raw share ratio (which can read > 4.0x here and would falsely
    latch + warn)."""
    import warnings as w

    nlist = 64
    rng = np.random.default_rng(9)
    spread = rng.uniform(-4.0, 4.0, size=(400, 8)).astype(np.float32)
    eng = FaissSparkEngine(spark)
    eng.create(
        "cr_floor", 8, f"IDMap,IVF{nlist}", metric_type="L2",
        params={"train_points_per_centroid": "32"},
    )
    eng.add("cr_floor", _df(spark, spread))
    idx = eng.registry.get("cr_floor")
    blob = (rng.normal(0.0, 0.02, size=(100, 8)) + 5.0).astype(np.float32)
    blob_df = spark.createDataFrame(
        [(400 + i, [float(v) for v in r]) for i, r in enumerate(blob)],
        "label bigint, vector array<float>",
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        eng.add("cr_floor", blob_df)
        drift = [c for c in caught if "drifted" in str(c.message)]
    cap = max(FaissSparkEngine.REBALANCE_CAP_SHARE * 500 / nlist, 32.0)
    assert cap == 32.0  # the fixture really is in the floor regime
    hist = _hist(idx)
    assert max(hist.values()) <= cap, (max(hist.values()), cap)
    assert sum(hist.values()) == 500
    # restored-under-the-operative-cap = SUCCESS: no warning, no latch
    assert not drift, [str(c.message) for c in drift]
    assert idx.append_rebalance_floor is None


def test_rebalance_split_ignores_physical_row_order(spark):
    """Two copies of one skewed index whose stored rows differ only in
    physical order (one re-sorted by descending label) split into the same
    children: the offenders' sample is a label hash, truncated in label
    order, never the rows a partition happened to yield first."""
    x = _skewed()
    eng = _build(spark, x, "cr_order_a", params={"rebalance_clusters": "0"})
    _build(spark, x, "cr_order_b", params={"rebalance_clusters": "0"}, eng=eng)
    a, b = eng.registry.get("cr_order_a"), eng.registry.get("cr_order_b")
    assert np.array_equal(a.centroids, b.centroids)
    flipped = b.data.orderBy(F.col("label").desc()).persist()
    assert flipped.count() == N
    b.data, b.slices, b.slice_caches = flipped, [flipped], [flipped]
    out = {}
    for idx in (a, b):
        idx.params["rebalance_clusters"] = "1"
        out[idx.name] = eng.rebalance(idx.name)
    assert out["cr_order_a"]["splits"] > 0
    assert out["cr_order_a"] == out["cr_order_b"]
    assert np.array_equal(a.centroids, b.centroids)
    assert np.array_equal(a.cluster_counts, b.cluster_counts)
    assert _hist(a) == _hist(b)
