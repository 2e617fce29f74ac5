"""Slice compaction — graph re-segmentation (VERDICT r4 task 2).

The reference grows ONE faiss graph across incremental adds
(faiss_extension.cpp:505-532); this engine builds a graph per add-slice,
so a long stream of micro-adds accumulates micro-segments and beam cost
is paid per (query, segment).  Compaction (automatic at MAX_SLICES, or
explicit via ``compact()``) must rebuild full-size segments over the
merged corpus.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest
from conftest import gen_vectors

from duckdb_faiss_ext_spark import FaissSparkEngine
from duckdb_faiss_ext_spark.errors import FaissSparkError


@pytest.fixture()
def eng(spark):
    e = FaissSparkEngine(spark)
    yield e
    for name in e.list_indexes():
        e.destroy(name)


def _vec_df(spark, x, lo):
    return spark.createDataFrame(
        [(lo + i, [float(v) for v in row]) for i, row in enumerate(x)],
        "label bigint, vector array<float>",
    )


def _segments(idx):
    return idx.data.select("graph_seg").distinct().count()


def test_merge_policy_without_spark():
    """``_pick_merge_set``: a geometric run merges, a lone slice never
    merges, and ``force`` (MAX_SLICES reached) merges the two smallest even
    when every slice is more than double the sum of those below it."""
    pick = FaissSparkEngine._pick_merge_set
    assert pick([10, 12, 20, 100, 1000], [0, 1, 2, 3, 4]) == [0, 1, 2]
    assert pick([100, 20, 12, 10], [0, 1, 2, 3]) == [3, 2, 1]
    for force in (False, True):
        assert pick([5], [0], force=force) == []
        assert pick([5, 6, 7], [1], force=force) == []
    spread = [64, 1, 16, 4]  # each more than double everything smaller
    assert pick(spread, [0, 1, 2, 3]) == []
    assert pick(spread, [0, 1, 2, 3], force=True) == [1, 3]
    assert pick(spread, [0, 2], force=True) == [2, 0]


def test_max_slices_compaction_rebuilds_graphs(spark, eng):
    """After the MAX_SLICES-th add, micro-segment graphs are rebuilt into
    ceil(n / graph_partition_rows) full segments."""
    eng.MAX_SLICES = 4
    eng.create(
        "cmp_hnsw", 8, "IDMap,HNSW8", metric_type="L2",
        params={"graph_partition_rows": "64"},
    )
    x = gen_vectors(160, 8)
    for i in range(4):
        eng.add("cmp_hnsw", _vec_df(spark, x[i * 40 : (i + 1) * 40], i * 40))
    idx = eng.registry.get("cmp_hnsw")
    assert len(idx.slices) == 1  # compacted on the 4th add
    # 160 rows at 64 rows/segment -> 3 segments (pre-compaction: 4 micro)
    assert _segments(idx) == 3
    assert idx.count == 160
    # recall: every vector still finds itself through the rebuilt graphs
    q = _vec_df(spark, x[::8], 0).select(
        F.col("label").alias("qid"), "vector"
    ).withColumn("qid", F.monotonically_increasing_id())
    res = eng.search_flat("cmp_hnsw", 1, q, params={"efSearch": 64}).collect()
    assert all(r["distance"] < 1e-5 for r in res)


def test_micro_segments_accumulate_between_compactions(spark, eng):
    eng.MAX_SLICES = 8
    eng.create(
        "cmp_acc", 8, "IDMap,HNSW8", metric_type="L2",
        params={"graph_partition_rows": "64"},
    )
    x = gen_vectors(120, 8)
    for i in range(3):
        eng.add("cmp_acc", _vec_df(spark, x[i * 40 : (i + 1) * 40], i * 40))
    idx = eng.registry.get("cmp_acc")
    assert _segments(idx) == 3  # one micro-graph per add, no compaction yet
    eng.compact("cmp_acc")
    assert len(idx.slices) == 1
    assert _segments(idx) == 2  # 120 rows / 64 -> 2 segments
    res = eng.search_flat(
        "cmp_acc", 1,
        _vec_df(spark, x[:5], 0).select(F.col("label").alias("qid"), "vector"),
        params={"efSearch": 64},
    ).collect()
    assert all(r["qid"] == r["label"] and r["distance"] < 1e-5 for r in res)


def test_compact_flat_index_identical_results(spark, eng):
    eng.create("cmp_flat", 8, "IDMap,Flat", metric_type="INNER_PRODUCT")
    x = gen_vectors(90, 8)
    for i in range(3):
        eng.add("cmp_flat", _vec_df(spark, x[i * 30 : (i + 1) * 30], i * 30))
    q = _vec_df(spark, gen_vectors(6, 8, 999), 0).select(
        F.col("label").alias("qid"), "vector"
    )
    before = sorted(
        (r["qid"], r["rank"], r["label"]) for r in eng.search_flat("cmp_flat", 5, q).collect()
    )
    eng.compact("cmp_flat")
    idx = eng.registry.get("cmp_flat")
    assert len(idx.slices) == 1 and idx.count == 90
    after = sorted(
        (r["qid"], r["rank"], r["label"]) for r in eng.search_flat("cmp_flat", 5, q).collect()
    )
    assert before == after


def test_compact_ivf_hnsw_merges_cluster_pieces(spark, eng):
    """Grouped (IVF_HNSW) compaction re-co-locates each cluster before the
    rebuild, so a cluster split across slice partitions merges into
    bounded per-cluster graphs."""
    eng.create(
        "cmp_ivfg", 8, "IDMap,IVF2_HNSW8", metric_type="L2",
        params={"graph_partition_rows": "256", "min_graph_rows": "0"},
    )
    x = gen_vectors(240, 8)
    for i in range(4):
        eng.add("cmp_ivfg", _vec_df(spark, x[i * 60 : (i + 1) * 60], i * 60))
    idx = eng.registry.get("cmp_ivfg")
    segs_before = _segments(idx)
    eng.compact("cmp_ivfg")
    segs_after = _segments(idx)
    # 4 slices x >=1 graph per (slice, cluster) before; <= nlist segments
    # after (each cluster fits one 256-row piece)
    assert segs_after <= 2 < segs_before
    res = eng.search_flat(
        "cmp_ivfg", 1,
        _vec_df(spark, x[:5], 0).select(F.col("label").alias("qid"), "vector"),
        params={"nprobe": 2, "efSearch": 64},
    ).collect()
    assert all(r["qid"] == r["label"] and r["distance"] < 1e-5 for r in res)


def test_compact_disk_mode_raises(spark, eng, tmp_path):
    eng.create(
        "cmp_disk", 8, "IDMap,Flat", metric_type="L2",
        params={"storage_path": str(tmp_path / "cmp_disk")},
    )
    eng.add("cmp_disk", _vec_df(spark, gen_vectors(10, 8), 0))
    with pytest.raises(FaissSparkError, match="disk-mode"):
        eng.compact("cmp_disk")


def test_full_slice_survives_tiered_compaction(spark, eng):
    """VERDICT r5 task 2: a slice already holding full-size segments
    (>= graph_partition_rows rows) must NOT be rebuilt by a tiered
    compaction — only micro slices merge."""
    eng.create(
        "cmp_tier", 8, "IDMap,HNSW8", metric_type="L2",
        params={"graph_partition_rows": "64"},
    )
    x = gen_vectors(130, 8)
    eng.add("cmp_tier", _vec_df(spark, x[:100], 0))  # full slice (100 >= 64)
    idx = eng.registry.get("cmp_tier")
    full_slice = idx.slices[0]
    full_segs = {r["graph_seg"] for r in full_slice.select("graph_seg").distinct().collect()}
    for i in range(3):  # three micro adds of 10
        eng.add("cmp_tier", _vec_df(spark, x[100 + i * 10 : 110 + i * 10], 100 + i * 10))
    eng.compact("cmp_tier")
    # the full slice is the SAME object, untouched; micros merged into one
    assert idx.slices[1] is full_slice
    assert len(idx.slices) == 2
    assert idx.slice_rows == [30, 100]
    after = {r["graph_seg"] for r in idx.slices[1].select("graph_seg").distinct().collect()}
    assert after == full_segs
    # merged micro slice carries ONE rebuilt graph over all 30 rows
    assert idx.slices[0].select("graph_seg").distinct().count() == 1
    # search still finds everything across both tiers
    q = _vec_df(spark, x[95:105], 0).select(F.col("label").alias("qid"), "vector")
    res = eng.search_flat("cmp_tier", 1, q, params={"efSearch": 64}).collect()
    assert all(r["distance"] < 1e-5 for r in res)


def test_tiered_stream_rebuild_work_is_subquadratic(spark, eng, monkeypatch):
    """Over a long micro-batch stream, total rebuilt rows must stay well
    below the whole-corpus-per-compaction policy's total (the O(n²)
    behavior VERDICT r5 flagged)."""
    eng.MAX_SLICES = 4
    eng.create(
        "cmp_work", 8, "IDMap,HNSW8", metric_type="L2",
        params={"graph_partition_rows": "64"},
    )
    rebuilt = []
    orig = eng._rebuild_graph_over

    def counting(idx, df, n_rows):
        rebuilt.append(n_rows)
        return orig(idx, df, n_rows)

    monkeypatch.setattr(eng, "_rebuild_graph_over", counting)
    n, b = 160, 10
    x = gen_vectors(n, 8)
    for i in range(n // b):
        eng.add("cmp_work", _vec_df(spark, x[i * b : (i + 1) * b], i * b))
    idx = eng.registry.get("cmp_work")
    assert idx.count == n
    # whole-corpus policy would rebuild ~40+80+120+160 = 400 rows; tiered
    # must do strictly less, and every slice stays bounded bookkeeping-wise
    assert sum(rebuilt) < 400, rebuilt
    assert sum(idx.slice_rows) == n
    # correctness: all rows reachable
    q = _vec_df(spark, x[::16], 0).select(F.col("label").alias("qid"), "vector")
    res = eng.search_flat("cmp_work", 1, q, params={"efSearch": 64}).collect()
    assert all(r["distance"] < 1e-5 for r in res)


def test_compact_full_true_single_slice(spark, eng):
    """compact(name, full=True) keeps the old whole-corpus contract: one
    cached slice, segments rebuilt over the entire corpus."""
    eng.create(
        "cmp_force", 8, "IDMap,HNSW8", metric_type="L2",
        params={"graph_partition_rows": "64"},
    )
    x = gen_vectors(130, 8)
    eng.add("cmp_force", _vec_df(spark, x[:100], 0))
    eng.add("cmp_force", _vec_df(spark, x[100:], 100))
    eng.compact("cmp_force", full=True)
    idx = eng.registry.get("cmp_force")
    assert len(idx.slices) == 1 and idx.slice_rows == [130]
    assert _segments(idx) == 3  # ceil(130/64) partitions -> 3 graphs


def test_full_slices_concat_merge_without_rebuild(spark, eng, monkeypatch):
    """Once more than FULL_SLICE_FANOUT full slices accumulate, compaction
    concat-merges them (one persist) WITHOUT any graph rebuild — graph rows
    are self-contained, graph_seg survives re-layout."""
    eng.create(
        "cmp_cat", 8, "IDMap,HNSW8", metric_type="L2",
        params={"graph_partition_rows": "32"},
    )
    n_adds, batch = 10, 40  # every slice >= 32 rows -> full on arrival
    x = gen_vectors(n_adds * batch, 8)
    for i in range(n_adds):
        eng.add("cmp_cat", _vec_df(spark, x[i * batch : (i + 1) * batch], i * batch))
    idx = eng.registry.get("cmp_cat")
    segs_before = {
        r["graph_seg"] for r in idx.data.select("graph_seg").distinct().collect()
    }
    calls = []
    monkeypatch.setattr(
        eng, "_rebuild_graph_over",
        lambda *a, **k: calls.append(1) or (_ for _ in ()).throw(AssertionError("rebuild ran")),
    )
    eng.compact("cmp_cat")
    assert not calls  # concat only, no graph build
    assert len(idx.slices) < n_adds
    assert sum(idx.slice_rows) == n_adds * batch
    segs_after = {
        r["graph_seg"] for r in idx.data.select("graph_seg").distinct().collect()
    }
    assert segs_after == segs_before  # identical graphs, new physical layout
    q = _vec_df(spark, x[::40], 0).select(F.col("label").alias("qid"), "vector")
    res = eng.search_flat("cmp_cat", 1, q, params={"efSearch": 64}).collect()
    assert all(r["distance"] < 1e-5 for r in res)


def test_compact_loaded_index_falls_back_to_full(spark, eng, tmp_path):
    """A loaded index has no slice bookkeeping; explicit compact() takes the
    safe whole-index path instead of silently doing nothing."""
    eng.create("cmp_src", 8, "IDMap,Flat", metric_type="L2")
    eng.add("cmp_src", _vec_df(spark, gen_vectors(50, 8), 0))
    eng.save("cmp_src", str(tmp_path / "cmp_src"))
    eng.load("cmp_ld", str(tmp_path / "cmp_src"))
    eng.compact("cmp_ld")
    idx = eng.registry.get("cmp_ld")
    assert len(idx.slices) == 1 and idx.slice_rows == [50]


def _unlabeled_df(spark, x):
    return spark.createDataFrame(
        [([float(v) for v in row],) for row in x], "vector array<float>"
    )


def test_unlabeled_adds_survive_auto_compaction(spark, eng):
    """ADVICE r6 high: the unlabeled fast path stored the RAW label-less
    parent cache as the slice; the MAX_SLICES-th add's compaction unioned
    vector-only stores, dropping every auto-assigned label (and the next
    add raised NUM_COLUMNS_MISMATCH).  The slice list must hold the labeled
    projection — auto-ids survive compaction and further adds work."""
    eng.MAX_SLICES = 3
    eng.create("cmp_auto", 4, "IDMap,Flat", metric_type="INNER_PRODUCT")
    x = np.eye(4, dtype=np.float32)
    for i in range(4):  # 3rd add triggers compaction; 4th must still work
        eng.add("cmp_auto", _unlabeled_df(spark, x[i : i + 1]))
    idx = eng.registry.get("cmp_auto")
    assert idx.count == 4
    assert "label" in idx.data.columns
    assert sorted(r["label"] for r in idx.data.select("label").collect()) == [0, 1, 2, 3]
    res = eng.search_flat("cmp_auto", 1, _vec_df(spark, x, 0).select(
        F.col("label").alias("qid"), "vector"
    )).collect()
    assert {r["qid"]: r["label"] for r in res} == {0: 0, 1: 1, 2: 2, 3: 3}


def test_unlabeled_graph_adds_survive_auto_compaction(spark, eng):
    """Same ADVICE r6 scenario through the graph (HNSW) build path: the
    graph slice is a transformed frame (no fast path), but mixed streams
    of labeled and graph adds share the compaction machinery — pin that
    auto-id bookkeeping stays consistent there too."""
    eng.MAX_SLICES = 3
    eng.create(
        "cmp_auto_g", 8, "HNSW8", metric_type="L2",
        params={"graph_partition_rows": "64"},
    )
    x = gen_vectors(120, 8)
    for i in range(4):
        eng.add("cmp_auto_g", _unlabeled_df(spark, x[i * 30 : (i + 1) * 30]))
    idx = eng.registry.get("cmp_auto_g")
    assert idx.count == 120
    labels = sorted(r["label"] for r in idx.data.select("label").collect())
    assert labels == list(range(120))
    res = eng.search_flat(
        "cmp_auto_g", 1,
        _vec_df(spark, x[::10], 0).select(F.col("label").alias("qid"), "vector"),
        params={"efSearch": 64},
    ).collect()
    assert all(r["distance"] < 1e-5 for r in res)
