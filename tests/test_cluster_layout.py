"""IVF slice layout from a per-cluster histogram (``_cluster_layout``).

Every IVF layout site computes each row's partition from a histogram the
engine already holds and repartitions by that id: no range partitioning
(which samples its whole input in an extra job), one exchange."""

import ast
import pathlib

import numpy as np
import pyspark.sql.functions as F
import pytest
from conftest import gen_vectors

import duckdb_faiss_ext_spark
from duckdb_faiss_ext_spark.engine import FaissSparkEngine


def _df(spark, x, id_col="label", offset=0):
    return spark.createDataFrame(
        [(offset + i, [float(v) for v in r]) for i, r in enumerate(x)],
        f"{id_col} bigint, vector array<float>",
    )


def _plan(frame) -> str:
    return frame._jdf.queryExecution().executedPlan().toString().lower()


def _assert_histogram_layout(frame):
    plan = _plan(frame)
    assert "rangepartitioning" not in plan, plan
    assert "shufflepartitionidpassthrough" in plan, plan


def _skewed(n=4000, dim=8, seed=7):
    """3/4 of the rows in one tight blob: its cluster is several times the
    even share."""
    rng = np.random.default_rng(seed)
    nb = int(n * 0.75)
    blob = rng.normal(0.0, 0.02, size=(nb, dim)) + 5.0
    rest = rng.uniform(-4.0, 4.0, size=(n - nb, dim))
    return np.vstack([blob, rest]).astype(np.float32)


def test_ivf_add_slices_use_histogram_layout(spark):
    eng = FaissSparkEngine(spark)
    x = _skewed()
    eng.create("hl_add", 8, "IDMap,IVF8", metric_type="L2")
    eng.add("hl_add", _df(spark, x[:3000]))
    idx = eng.registry.get("hl_add")
    assert idx.train_counts is not None
    _assert_histogram_layout(idx.slices[-1])
    eng.add("hl_add", _df(spark, x[3000:], offset=3000))  # trained append
    _assert_histogram_layout(idx.slices[-1])
    assert idx.count == len(x)


def test_rebalance_rewrite_uses_histogram_layout(spark):
    eng = FaissSparkEngine(spark)
    eng.create(
        "hl_reb", 8, "IDMap,IVF8", metric_type="L2",
        params={"train_points_per_centroid": "32", "rebalance_clusters": "0"},
    )
    eng.add("hl_reb", _df(spark, _skewed()))
    idx = eng.registry.get("hl_reb")
    idx.params["rebalance_clusters"] = "1"
    out = eng.rebalance("hl_reb")
    assert out["splits"] > 0
    _assert_histogram_layout(idx.data)
    assert idx.data.count() == 4000


def test_ivf_hnsw_full_compaction_uses_histogram_layout(spark):
    eng = FaissSparkEngine(spark)
    eng.create(
        "hl_cmp", 8, "IDMap,IVF2_HNSW8", metric_type="L2",
        params={"graph_partition_rows": "128", "min_graph_rows": "0"},
    )
    x = gen_vectors(240, 8)
    for i in range(2):
        eng.add("hl_cmp", _df(spark, x[i * 120 : (i + 1) * 120], offset=i * 120))
    eng.compact("hl_cmp", full=True)
    idx = eng.registry.get("hl_cmp")
    assert idx.slice_rows == [240]
    _assert_histogram_layout(idx.data)
    assert idx.data.count() == 240


def test_partition_by_id_only_in_cluster_layout():
    """The layout rule lives in one place: every repartitionById /
    repartitionByRange in the package sits inside ``_cluster_layout``."""
    root = pathlib.Path(duckdb_faiss_ext_spark.__file__).parent
    names = ("repartitionById", "repartitionByRange")

    def sites(node):
        return sum(
            isinstance(n, ast.Attribute) and n.attr in names for n in ast.walk(node)
        )

    total = inside = 0
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        total += sites(tree)
        inside += sum(
            sites(fn)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and fn.name == "_cluster_layout"
            and path.name == "engine.py"
        )
    assert total == inside >= 1, (total, inside)


def _mixture_frame(spark, sizes, seed=3):
    rng = np.random.default_rng(seed)
    cids = np.repeat(np.arange(len(sizes)), sizes)
    labels = rng.permutation(len(cids)) * 7 + 11
    rows = [(int(l), int(c)) for l, c in zip(labels, cids)]
    return spark.createDataFrame(rows, "label bigint, cluster_id int").repartition(3)


def test_layout_balances_a_skewed_mixture(spark):
    # Zipf-like sizes, one cluster holding ~30 % of the rows, one empty
    sizes = np.maximum((6000 / np.arange(1, 33) ** 1.1).astype(int), 20)
    sizes[0] = int(0.3 * sizes.sum() / 0.7)
    sizes[17] = 0
    frame = _mixture_frame(spark, sizes)
    counts = sizes.copy()
    # a stale histogram: cluster 9 holds rows but its count reads 0
    counts[9] = 0
    n_parts = 8
    out = FaissSparkEngine._cluster_layout(frame, counts, n_parts)
    rows = (
        out.select("cluster_id", F.spark_partition_id().alias("p"))
        .groupBy("p", "cluster_id")
        .count()
        .collect()
    )
    assert out.rdd.getNumPartitions() == n_parts
    total = int(sizes.sum())
    assert sum(r["count"] for r in rows) == total
    per_part = np.zeros(n_parts, dtype=np.int64)
    ids: dict = {}
    for r in rows:
        assert 0 <= r["p"] < n_parts
        per_part[r["p"]] += r["count"]
        ids.setdefault(r["p"], set()).add(r["cluster_id"])
    even = total / n_parts
    assert per_part.max() <= 1.5 * even and per_part.min() >= even / 1.5, per_part
    # each partition holds a contiguous run of cluster ids: the runs of
    # consecutive partitions never interleave
    spans = [(min(ids[p]), max(ids[p])) for p in sorted(ids)]
    for (_lo0, hi0), (lo1, _hi1) in zip(spans, spans[1:]):
        assert hi0 <= lo1, spans
    # the big cluster spreads over several partitions
    assert sum(0 in ids[p] for p in ids) >= 2
    # the zero-count cluster's rows land in one valid partition
    assert sum(9 in ids[p] for p in ids) == 1


@pytest.mark.parametrize(
    "ivf, flat", [("IDMap,IVF16", "IDMap,Flat"), ("IDMap,IVF16,SQ8", "IDMap,Flat,SQ8")]
)
def test_skewed_ivf_search_equals_exact(spark, ivf, flat):
    """A build and a trained append over a skewed mixture, searched at
    nprobe = nlist, give the exact search's (qid, rank, label) — on the SQ8
    tier too, whose layout shuffle moves codes (both indexes train their
    codec on the same first batch, so the codes are identical)."""
    eng = FaissSparkEngine(spark)
    rng = np.random.default_rng(5)
    cents = rng.normal(size=(16, 8)) * 4
    pick = rng.choice(16, 3000, p=np.r_[[0.4], np.full(15, 0.6 / 15)])
    x = (cents[pick] + rng.normal(size=(3000, 8))).astype(np.float32)
    for name, factory in (("hl_ivf", ivf), ("hl_flat", flat)):
        eng.create(name, 8, factory, metric_type="L2")
        eng.add(name, _df(spark, x[:2400]))
        eng.add(name, _df(spark, x[2400:], offset=2400))
    idx = eng.registry.get("hl_ivf")
    assert idx.count == 3000
    q = _df(spark, x[::150], id_col="qid")
    got = eng.search_flat(
        "hl_ivf", 5, q, params={"nprobe": len(idx.centroids)}
    ).collect()
    want = eng.search_flat("hl_flat", 5, q).collect()

    def key(rows):
        return sorted((r["qid"], r["rank"], r["label"]) for r in rows)

    assert len(got) == 5 * 20
    assert key(got) == key(want)
