"""SQ8 storage tier wired into the index lifecycle (VERDICT r9 task 3):
factory suffix ``,SQ8`` (public FAISS index_factory grammar) stores
array<tinyint> codes, searches through the lazy bin-center decode, and
round-trips through save/load.  functions/quantize.py pins the codec
itself; this file pins the ENGINE integration."""

import numpy as np
import pyspark.sql.functions as F
import pytest
from conftest import gen_vectors

from duckdb_faiss_ext_spark.engine import FaissSparkEngine
from duckdb_faiss_ext_spark.errors import FaissSparkError
from duckdb_faiss_ext_spark.factory import parse_factory
from duckdb_faiss_ext_spark.functions.quantize import sq8_encode_np


def _emb_df(spark, x, id_col="label"):
    return spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)],
        f"{id_col} bigint, vector array<float>",
    )


def _top1_self_hit(eng, name, qdf):
    return eng.search_flat(name, 1, qdf).filter("rank = 0").collect()


def test_factory_parses_sq8_variants():
    for fac, kind, nlist in (
        ("Flat,SQ8", "flat", 0),
        ("SQ8", "flat", 0),
        ("IVF16,SQ8", "ivf", 16),
        ("IDMap,IVF16,SQ8", "ivf", 16),
    ):
        spec = parse_factory(fac)
        assert spec.sq == 8 and spec.needs_training, fac
        assert spec.kind == kind and spec.nlist == nlist, fac


def test_sq8_rejects_pq_and_hnsw_composites(spark):
    eng = FaissSparkEngine(spark)
    with pytest.raises(FaissSparkError, match="storage tiers"):
        eng.create("sq_pq", 8, "IVF16,PQ2,SQ8")
    with pytest.raises(FaissSparkError, match="graph"):
        eng.create("sq_hnsw", 8, "IVF16_HNSW4,SQ8")


def test_sq8_flat_stores_codes_and_searches(spark):
    x = gen_vectors(300, 16)
    eng = FaissSparkEngine(spark)
    eng.create("sqflat", 16, "IDMap,Flat,SQ8", metric_type="L2")
    eng.add("sqflat", _emb_df(spark, x))
    idx = eng.registry.get("sqflat")
    # storage really is the byte-code column — the 4x at-rest lever
    assert dict(idx.data.dtypes)["codes"] == "array<tinyint>"
    assert "vector" not in idx.data.columns
    assert idx.sq_vdiff is not None and len(idx.sq_vdiff) == 16
    # self-queries: decode error is half a bin, so every query's own code
    # row is its nearest neighbor under L2
    q = _emb_df(spark, x[:8], id_col="qid")
    hits = _top1_self_hit(eng, "sqflat", q)
    assert len(hits) == 8
    assert all(r["qid"] == r["label"] for r in hits), hits


def test_sq8_ivf_assignment_prunes_and_recall(spark):
    x = gen_vectors(600, 16)
    eng = FaissSparkEngine(spark)
    eng.create("sqivf", 16, "IDMap,IVF8,SQ8", metric_type="L2")
    eng.add("sqivf", _emb_df(spark, x))
    idx = eng.registry.get("sqivf")
    assert "cluster_id" in idx.data.columns  # IVF pruning layout survives
    assert dict(idx.data.dtypes)["codes"] == "array<tinyint>"
    # uncompressed twin on the same data
    eng.create("rawivf", 16, "IDMap,IVF8", metric_type="L2")
    eng.add("rawivf", _emb_df(spark, x))
    q = _emb_df(spark, x[100:140], id_col="qid")
    full = {"nprobe": 8}
    sq_hits = {
        (r["qid"], r["label"])
        for r in eng.search_flat("sqivf", 10, q, params=full).collect()
    }
    raw_hits = {
        (r["qid"], r["label"])
        for r in eng.search_flat("rawivf", 10, q, params=full).collect()
    }
    recall = len(sq_hits & raw_hits) / len(raw_hits)
    # floor measured at 0.9975 on this fixture (codes only perturb
    # distances by <= vdiff/510 per dim); 0.95 leaves layout headroom
    assert recall >= 0.95, recall


def test_sq8_save_load_roundtrip(spark, tmp_path):
    x = gen_vectors(200, 8)
    eng = FaissSparkEngine(spark)
    eng.create("sqsave", 8, "IDMap,IVF4,SQ8")
    eng.add("sqsave", _emb_df(spark, x))
    before = eng.search_flat(
        "sqsave", 5, _emb_df(spark, x[:6], id_col="qid"), params={"nprobe": 4}
    ).collect()
    path = str(tmp_path / "sq_idx")
    eng.save("sqsave", path)
    eng2 = FaissSparkEngine(spark)
    eng2.load("sq2", path)
    idx2 = eng2.registry.get("sq2")
    assert idx2.sq_vdiff is not None
    assert np.allclose(idx2.sq_vmin, eng.registry.get("sqsave").sq_vmin)
    assert not idx2.mutable  # loaded trained index is immutable
    after = eng2.search_flat(
        "sq2", 5, _emb_df(spark, x[:6], id_col="qid"), params={"nprobe": 4}
    ).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_sq8_filtered_search(spark):
    x = gen_vectors(300, 8)
    eng = FaissSparkEngine(spark)
    eng.create("sqfil", 8, "IDMap,Flat,SQ8")
    eng.add("sqfil", _emb_df(spark, x))
    q = _emb_df(spark, x[:5], id_col="qid")
    allowed = spark.range(0, 300, 2).select(F.col("id").alias("label"))
    res = eng.search_flat("sqfil", 5, q, allowed_df=allowed).collect()
    assert res and all(r["label"] % 2 == 0 for r in res)


def test_sq8_bulk_path_identical_to_driver_path(spark):
    """bulk_queries=1 routes SQ8 corpora through the executor-side block
    joins, decoding codes inside the pack kernel — results must be
    IDENTICAL to the driver-path kernel decode (both mirror the same f64
    decode expression)."""
    x = gen_vectors(500, 16)
    eng = FaissSparkEngine(spark)
    eng.create("sqbulk", 16, "IDMap,IVF8,SQ8", metric_type="L2")
    eng.add("sqbulk", _emb_df(spark, x))
    q = _emb_df(spark, x[50:90], id_col="qid")
    driver = sorted(
        map(
            tuple,
            eng.search_flat(
                "sqbulk", 5, q, params={"nprobe": 4, "bulk_queries": 0}
            ).collect(),
        )
    )
    bulk = sorted(
        map(
            tuple,
            eng.search_flat(
                "sqbulk", 5, q, params={"nprobe": 4, "bulk_queries": 1}
            ).collect(),
        )
    )
    assert driver == bulk
    # Flat,SQ8 through the ungrouped BNL too
    eng.create("sqbulk_f", 16, "IDMap,Flat,SQ8", metric_type="L2")
    eng.add("sqbulk_f", _emb_df(spark, x))
    d2 = sorted(
        map(tuple, eng.search_flat("sqbulk_f", 5, q, params={"bulk_queries": 0}).collect())
    )
    b2 = sorted(
        map(tuple, eng.search_flat("sqbulk_f", 5, q, params={"bulk_queries": 1}).collect())
    )
    assert d2 == b2


def test_sq8_margin_warning_on_tie_dense_corpus(spark):
    """Build-time quantization-bound-recall warning (VERDICT r10 task 3):
    unit-normalized tight clusters have inter-neighbor margins far below
    the half-bin decode error, the regime where SQ8 recall parks at ~0.39
    flat-in-nprobe (SCALE.md r10) — the engine must say so when the tier
    is picked, not leave it to a README note."""
    import warnings as w

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(8, 16))
    pts = (
        np.repeat(centers, 40, axis=0)
        + rng.normal(0.0, 1e-4, size=(320, 16))
    ).astype(np.float32)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    eng = FaissSparkEngine(spark)
    eng.create("sq_tie", 16, "IDMap,Flat,SQ8", metric_type="INNER_PRODUCT")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        eng.add("sq_tie", _emb_df(spark, pts))
    hits = [c for c in caught if "QUANTIZATION-bound" in str(c.message)]
    assert len(hits) == 1, [str(c.message) for c in caught]


def test_sq8_margin_warning_absent_on_spread_corpus(spark, sf_dir):
    """The same check stays SILENT on corpora whose neighbor gaps exceed
    the codec resolution — the driver testdata embeddings measure recall
    >= 0.9 through SQ8 (test_quantize), so a warning here would be noise."""
    import warnings as w

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("label"), F.col("embedding").alias("vector")
    )
    eng = FaissSparkEngine(spark)
    eng.create("sq_ok", 64, "IDMap,Flat,SQ8", metric_type="INNER_PRODUCT")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        eng.add("sq_ok", emb)
    hits = [c for c in caught if "QUANTIZATION-bound" in str(c.message)]
    assert not hits, [str(c.message) for c in hits]


def test_sq8_margin_warning_absent_when_decode_is_exact(spark):
    """r11 review: a duplicate-heavy corpus can drive BOTH the ordering
    margin and the quantization perturbation to exactly 0 (vdiff = 0 on
    every dim -> decode is bit-exact).  0 >= 0 must not warn — there is
    no quantization effect to be bound by."""
    import warnings as w

    # every vector identical per dim -> vmin == vmax -> vdiff = 0
    pts = np.tile(
        np.arange(8, dtype=np.float32)[None, :] / 8.0, (64, 1)
    )
    eng = FaissSparkEngine(spark)
    eng.create("sq_const", 8, "IDMap,Flat,SQ8", metric_type="L2")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        eng.add("sq_const", _emb_df(spark, pts))
    hits = [c for c in caught if "QUANTIZATION-bound" in str(c.message)]
    assert not hits, [str(c.message) for c in hits]


def _edge_corpus(n=2000, dim=8):
    """A corpus whose range is pinned to [-4, 6] per dim, 3/4 of it in one
    tight blob (so an IVF cap binds), with dim 2 constant, one row at
    vmax, and rows at and one ulp below three bin edges."""
    rng = np.random.default_rng(11)
    nb = 3 * n // 4
    x = np.vstack(
        [rng.normal(5.0, 0.02, (nb, dim)), rng.uniform(-4.0, 4.0, (n - nb, dim))]
    ).astype(np.float32)
    edge = (-4.0 + 10.0 * np.array([1, 100, 254]) / 255.0).astype(np.float32)
    x[:3] = edge[:, None]
    x[3:6] = np.nextafter(edge, np.float32(-np.inf))[:, None]
    x[6], x[7] = -4.0, 6.0
    x[:, 2] = 1.5
    return x


def _stored_codes(idx, x):
    """Stored codes in label order; each row must equal the numpy codec's
    encode of the vector added under that label, bit for bit."""
    t = idx.data.select("label", "codes").toArrow()
    order = np.argsort(t["label"].to_numpy())
    assert np.array_equal(t["label"].to_numpy()[order], np.arange(len(x)))
    codes = (
        t["codes"].combine_chunks().flatten().to_numpy().reshape(-1, x.shape[1])
    )[order]
    assert np.array_equal(codes, sq8_encode_np(x, idx.sq_vmin, idx.sq_vdiff))
    return codes


@pytest.mark.parametrize("factory", ["IDMap,Flat,SQ8", "IDMap,IVF8,SQ8"])
def test_sq8_stored_codes_bit_identical_to_numpy_codec(spark, factory):
    """The engine's encode stage and its decode view (the rebalance
    sample) run the one numpy codec: stored codes equal ``sq8_encode_np``
    after the first add, a clamping trained append and a corpus
    rebalance."""
    x = _edge_corpus()
    n, dim = x.shape
    ivf = "IVF" in factory
    name = "sqbits_ivf" if ivf else "sqbits_flat"
    eng = FaissSparkEngine(spark)
    # no build-time rebalance: the blob keeps the histogram over the cap
    eng.create(
        name, dim, factory, metric_type="L2",
        params={"rebalance_clusters": "0"} if ivf else None,
    )
    eng.add(name, _emb_df(spark, x))
    idx = eng.registry.get(name)
    assert idx.sq_vmin[0] == -4.0 and idx.sq_vdiff[0] == 10.0
    assert idx.sq_vdiff[2] == 0.0
    codes = _stored_codes(idx, x)
    assert (codes[7, [0, 1, 3]] == 127).all()  # exactly vmax
    # trained append outside [vmin, vmax]: clamped to stored -128 / 127
    y = np.tile(np.float32([[-9.0], [11.0]]), (1, dim))
    y[:, 2] = 3.0
    xy = np.vstack([x, y])
    eng.add(name, _emb_df(spark, xy).filter(F.col("label") >= n))
    codes = _stored_codes(idx, xy)
    assert (codes[n] == -128).all()
    assert (np.delete(codes[n + 1], 2) == 127).all() and codes[n + 1, 2] == -128
    if ivf:
        idx.params["rebalance_clusters"] = "1"
        assert eng.rebalance(name)["splits"] > 0
        _stored_codes(idx, xy)
