"""Plan-shape regression tests: the physical properties that make these
queries survive a 100x scale-up.  Loose substring checks on the formatted
plan (resilient to cosmetic plan-format changes)."""

import pyspark.sql.functions as F

from duckdb_faiss_ext_spark.plans import explain_str as _plan
from duckdb_faiss_ext_spark.plans import scan_summary


def test_scan_pushdown_and_pruning(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.q01_scan_filter(spark, sf_dir))
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,45.0)" in plan
    # column pruning: only the 3 selected columns reach the scan
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>" in plan


def test_knn_partial_topk_below_exchange(spark, sf_dir):
    """Top-k must be applied map-side (WindowGroupLimit) BEFORE the shuffle —
    the property that bounds shuffle volume to nq*k rows per partition."""
    import __spark_entry__ as e

    plan = _plan(e.knn_ip(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    pre, _, post = plan.partition("Exchange")
    assert "WindowGroupLimit" in pre or plan.count("WindowGroupLimit") >= 2


def test_small_dim_broadcast(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.q04_join_groupby(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation(spark, sf_dir):
    """groupBy must map-side combine (two HashAggregates around the shuffle)."""
    import __spark_entry__ as e

    plan = _plan(e.q05_agg_multi(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_topk_limit_is_take_ordered(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.q08_topk_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no full sort for ORDER BY+LIMIT


def test_filtered_search_is_semi_join(spark, sf_dir):
    """Engine filtered search: the allowed-set restriction must appear as a
    semi-join before top-k, not a post-filter."""
    from duckdb_faiss_ext_spark import FaissSparkEngine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("plan_emb")
    eng = FaissSparkEngine(spark)
    eng.create("plan_idx", 64, "IDMap,Flat")
    eng.add("plan_idx", emb.select("vec_id", "embedding"))
    q = emb.limit(2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    flat = eng.search_flat(
        "plan_idx", 3, q,
        allowed_df=spark.sql("SELECT vec_id FROM plan_emb WHERE vec_id % 2 = 0"),
    )
    plan = _plan(flat)
    assert "LeftSemi" in plan
    eng.destroy("plan_idx")


def test_lsh_ann_bucket_join_not_cartesian(spark, sf_dir):
    """LSH candidate discovery must be an equi-join on (table, bucket) with
    the tiny query side broadcast — never a cartesian product."""
    from duckdb_faiss_ext_spark.operators.lsh import lsh_ann_cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("label"), F.col("embedding").alias("vector"))
    q = emb.limit(4).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("vector"))
    plan = _plan(lsh_ann_cosine(corpus, q, 5, 64))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sessionize_partial_aggregation(spark, sf_dir):
    """Session aggregation must map-side combine: the post-window shuffle
    carries one partial row per (user, session), not one per event."""
    from duckdb_faiss_ext_spark.streaming.ingest import events_ts_ms
    from duckdb_faiss_ext_spark.streaming.sessionize import sessionize_batch

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select("user_id", events_ts_ms(raw).alias("ts_ms"), "value")
    plan = _plan(sessionize_batch(ev, gap_seconds=1800))
    assert plan.count("HashAggregate") >= 2


def test_scan_summary_structure(spark, sf_dir):
    """plans.scan_summary surfaces pushdown info per parquet scan."""
    import __spark_entry__ as e

    scans = scan_summary(e.q01_scan_filter(spark, sf_dir))
    assert len(scans) == 1
    assert "lineitem" in scans[0]["location"]
    assert "l_quantity" in (scans[0]["pushed_filters"] or "")


def test_dedup_lsh_self_join_is_hash_equi_join(spark, sf_dir):
    """MinHash LSH candidate generation must never plan a cartesian or a
    nested-loop join of the exploded band table — the n² failure mode the
    banding exists to prevent.  Pairs now come from each bucket's member
    list, with no join at all."""
    from duckdb_faiss_ext_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text", 4, 2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouped_simjoin_is_equi_join_not_cartesian(spark, sf_dir):
    """The grouped block join (the bulk-IVF shape) must join blocks on the
    group key — a cartesian/BNL of the block tables would defeat cluster
    pruning at scale."""
    from duckdb_faiss_ext_spark.operators.simjoin import block_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.limit(20).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector"),
        (F.col("vec_id") % 4).alias("cluster_id"),
    )
    right = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector"),
        (F.col("vec_id") % 4).alias("cluster_id"),
    )
    plan = _plan(block_join(left, right, 3, group_col="cluster_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_ivf_disk_scan_prunes_partitions(spark, tmp_path):
    """An IVF,SQ8 index saved to its cluster-partitioned layout must keep
    directory-level pruning when searched after load: the scan's partition
    filters carry the probed cluster_ids, so a 100 TB index reads only the
    probed directories — codes must not break the pruning the raw layout
    has."""
    import numpy as np

    from conftest import gen_vectors
    from duckdb_faiss_ext_spark.engine import FaissSparkEngine

    x = gen_vectors(400, 8)
    eng = FaissSparkEngine(spark)
    # disk mode: the parquet-backed frame is NOT cached, so pruning is
    # visible in the scan (a load()ed index persists; its cached batches
    # are all read, and the pre-filter drops the unprobed rows from them)
    eng.create(
        "pl_sq", 8, "IDMap,IVF4,SQ8", metric_type="L2",
        params={"storage_path": str(tmp_path / "pl_sq")},
    )
    eng.add(
        "pl_sq",
        spark.createDataFrame(
            [(i, [float(v) for v in r]) for i, r in enumerate(x)],
            "label bigint, vector array<float>",
        ),
    )
    q = spark.createDataFrame(
        [(0, [float(v) for v in x[0]])], "qid bigint, vector array<float>"
    )
    res = eng.search_flat("pl_sq", 3, q, params={"nprobe": 1})
    plan = _plan(res, "formatted")
    # the probe pre-filter on cluster_id must reach the parquet scan as a
    # partition filter (directory pruning), not a post-scan Filter only
    assert "PartitionFilters" in plan and "cluster_id" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan
    assert res.count() == 3


def test_vocab_stats_single_scan_partial_agg(spark, sf_dir):
    """vocab_stats: ONE scan of the source (the r11 review fix — the
    first cut scanned twice), partial aggregation before the shuffle, and
    the Expand-based distinct-aggregate rewrite (tf + doc_freq in one
    groupBy)."""
    import re

    from duckdb_faiss_ext_spark.functions.text import vocab_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(vocab_stats(docs))
    # exactly ONE scan node (the formatted plan repeats the node header in
    # its detail section, so count node ids, not the substring)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:500]
    # distinct-aggregate rewrite: tf + doc_freq in one pipeline — either
    # Expand-based or the two-level (token,doc)->token rewrite (>= 4
    # HashAggregates), both with map-side partials
    n_agg = plan.count("HashAggregate") + plan.count("ObjectHashAggregate")
    assert "Expand" in plan or n_agg >= 4, n_agg


def test_text_ops_are_pure_codegen(spark, sf_dir):
    """scrub_pii / pii_count / chunk_text: zero Python in the plan — the
    whole point of expressing them as column expressions."""
    from duckdb_faiss_ext_spark.functions.text import (
        chunk_text,
        pii_count,
        scrub_pii,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        docs.select(scrub_pii("text"), pii_count("text")),
        chunk_text(docs),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "mapInPandas" not in plan.lower()
