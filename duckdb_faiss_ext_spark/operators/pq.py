"""Product quantization (PQ) — compressed vectors + asymmetric-distance search.

The reference accepts PQ factory strings via faiss::index_factory
(src/faiss_extension.cpp:96-121; ',PQn' parsed by factory.py); this is the
Spark-first realization of the same idea: each vector splits into ``m``
subspaces, each subvector is replaced by the id (uint8) of its nearest
subspace centroid — 64×float32 = 256 B becomes m bytes (32× at m=8).  At
100 TB this is THE lever that turns a bandwidth-bound scan into one that
fits in a fraction of the I/O.

Pipeline:

1. ``pq_train``: ``metrics.kmeans`` per subspace on a driver-side sample
   (k-means++ seeds, 12 Lloyd passes — FAISS trains each sub-quantizer
   through the same ``Clustering`` as the coarse one; 256 codes/subspace
   ⇒ uint8);
2. ``pq_encode``: mapInArrow over the corpus — one matmul per subspace per
   batch, output (label, code ARRAY<SMALLINT>);  narrow map, no shuffle;
3. ``pq_search``: per query build the (m, 256) lookup table of
   query-subvector-to-centroid distances, then score every code row with
   ``sum_j LUT[j, code_j]`` — table lookups instead of d multiplies.
   Exact same candidate/``merge_topk`` shape as the exact kernel (≤ nq×k
   rows shuffle), distances approximate (ADC), tie-break (score, label).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from duckdb_faiss_ext_spark.metrics import (
    kmeans,
    merge_running_topk,
    nearest_centroid,
    topk_indices,
)
from duckdb_faiss_ext_spark.operators.topk import merge_topk, vector_matrix

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_search",
    "pq_search_arrays",
    "pq_search_grouped",
]

# one query block's ADC lookup tables (ln * m * nk * 4 B) must stay under
# this; pq_search_grouped shrinks its query-side block size to fit
LUT_BLOCK_BUDGET_BYTES = 64 << 20


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 8,
    nbits: int = 8,
    vec_col: str = "vector",
    sample: int = 8192,
    seed: int = 42,
    centroids: "np.ndarray | None" = None,
    metric: str = "L2",
    metric_arg: float = 0.0,
) -> np.ndarray:
    """(m, 2^nbits, dim/m) float32 codebooks from a driver-side sample.

    With ``centroids`` (IVF composite) the codebooks are trained on
    RESIDUALS ``x − centroid[assign(x)]`` — faiss IndexIVFPQ semantics:
    residual magnitudes are a fraction of vector magnitudes, so the same
    256 codes per subspace quantize much finer (the r2 deviation, removed)."""
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    if not 1 <= nbits <= 8:
        # codes are stored as one sub-byte id per subspace; >8 bits would
        # silently overflow the SMALLINT code column (and defeats the point
        # of PQ — FAISS's own default is 8)
        raise ValueError(f"nbits must be in [1, 8], got {nbits}")
    k = 1 << nbits
    sub = dim // m
    n = df.count()
    frac = min(1.0, sample * 1.2 / max(n, 1))
    tbl = df.select(vec_col).sample(fraction=frac, seed=seed).limit(sample).toArrow()
    x = vector_matrix(tbl.column(vec_col).combine_chunks(), dim, "PQ training sample")
    if centroids is not None:
        x = x - centroids[nearest_centroid(x, centroids, metric, metric_arg)]
    x = x.reshape(-1, m, sub)
    return np.stack(
        [kmeans(x[:, j, :], k, np.random.default_rng(seed + j), 12) for j in range(m)]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    label_col: str = "label",
    vec_col: str = "vector",
    keep_cols: tuple = (),
    centroids: "np.ndarray | None" = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """(label BIGINT, code ARRAY<SMALLINT>[, keep_cols...]) — m uint8 code ids
    per row.  ``keep_cols`` (e.g. ``cluster_id`` for IVF+PQ) pass through the
    Arrow batch untouched so partitioning survives encoding.

    With ``centroids``, codes quantize the RESIDUAL ``x − centroid[cluster]``
    (faiss IndexIVFPQ); ``cluster_col`` must then be in ``keep_cols`` — the
    already-assigned coarse cell, so encode stays a narrow map (no second
    assignment pass)."""
    import pyarrow as pa

    m, k, sub = codebooks.shape
    dim = m * sub
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    cluster_i = None
    if centroids is not None:
        if cluster_col not in keep_cols:
            raise ValueError(
                f"residual pq_encode needs {cluster_col!r} in keep_cols"
            )
        cluster_i = 2 + keep_cols.index(cluster_col)
    bcents = spark.sparkContext.broadcast(centroids)

    def encode(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        cb = bc.value
        cents = bcents.value
        cb_norms = [(cb[j] ** 2).sum(1) for j in range(m)]
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            labels = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            values = rb.column(1).flatten().to_numpy(zero_copy_only=False)
            if len(values) != n * dim:
                bad = next(
                    (len(v) for v in rb.column(1).to_pylist() if len(v) != dim), "?"
                )
                raise ValueError(
                    f"pq_encode: expected {dim}-dim vectors, found a {bad}-dim row"
                )
            x = np.ascontiguousarray(values.reshape(n, dim), dtype=np.float32)
            if cluster_i is not None:
                cl = (
                    rb.column(cluster_i)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                x = x - cents[cl]
            x = x.reshape(n, m, sub)
            codes = np.empty((n, m), dtype=np.int16)
            for j in range(m):
                # argmin_c ||x - c||^2 == argmin_c (||c||^2 - 2 x.c)
                codes[:, j] = (cb_norms[j][None, :] - 2.0 * (x[:, j, :] @ cb[j].T)).argmin(1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(labels, pa.int64()),
                    pa.array(list(codes), pa.list_(pa.int16())),
                ]
                + [rb.column(2 + i) for i in range(len(keep_cols))],
                names=["label", "code"] + list(keep_cols),
            )

    narrow = df.select(F.col(label_col).cast("bigint"), vec_col, *keep_cols)
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    return narrow.mapInArrow(
        encode, schema="label bigint, code array<smallint>" + keep_schema
    )


def pq_search(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int,
    metric: str = "L2",
    qid_col: str = "qid",
    q_vec_col: str = "vector",
) -> DataFrame:
    """ADC top-k over PQ codes: (qid, rank, label, distance[approx]).

    DataFrame wrapper over :func:`pq_search_arrays` for a known-small query
    side; the engine's factory path streams bounded query blocks instead."""
    tbl = queries.select(qid_col, q_vec_col).toArrow()
    qids = tbl.column(qid_col).to_numpy().astype(np.int64)
    dim = codebooks.shape[0] * codebooks.shape[2]
    q = vector_matrix(tbl.column(q_vec_col).combine_chunks(), dim, "query side")
    return merge_topk(
        pq_search_arrays(codes_df, qids, q, codebooks, k, metric=metric), k, metric
    )


def pq_search_arrays(
    codes_df: DataFrame,
    qids: np.ndarray,
    q: np.ndarray,
    codebooks: np.ndarray,
    k: int,
    metric: str = "L2",
    centroids: "np.ndarray | None" = None,
    probe_ids: "np.ndarray | None" = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """ADC top-k candidates for a driver-resident query block (qids int64,
    q float32 (nq, dim)): unranked (qid, label, distance[approx]), ≤ k per
    query per Arrow batch — the PQ kernel of ``search_query_blocks``, whose
    ``merge_topk`` ranks them.

    metric 'L2' (squared, ascending) or 'INNER_PRODUCT' (descending) —
    matching FAISS IndexPQ's METRIC handling.

    With ``centroids`` the codes are residuals (faiss IndexIVFPQ): the LUT
    becomes per-(query, probed cluster) — L2 shifts the query by the cluster
    centroid, IP folds the q·centroid subvector terms into each table.
    ``probe_ids`` (nq, nprobe) int64 gives EACH query its own probed cluster
    ids, so the broadcast is exactly nq·nprobe·m·nk floats — a dense
    (nq, union-of-probed) layout scaled as nq·nlist once chunk unions grew
    (17 GB at 8192 queries x nlist 256, ADVICE r3), where the ragged one is
    nq·nprobe regardless of nlist."""
    import pyarrow as pa

    m, nk, sub = codebooks.shape
    desc = metric == "INNER_PRODUCT"
    spark = codes_df.sparkSession
    nq = len(qids)
    residual = centroids is not None
    q3 = np.asarray(q, dtype=np.float32).reshape(nq, m, sub)
    if residual:
        if probe_ids is None:
            probe_ids = np.tile(np.arange(len(centroids), dtype=np.int64), (nq, 1))
        probe_ids = np.asarray(probe_ids, dtype=np.int64)
        npb = probe_ids.shape[1]
        cents4 = centroids[probe_ids].reshape(nq, npb, m, sub)
        luts = np.empty((nq, npb, m, nk), dtype=np.float32)
        for j in range(m):
            cb = codebooks[j]
            qj = q3[:, j, :]  # (nq, sub)
            cj = cents4[:, :, j, :]  # (nq, npb, sub)
            if desc:
                luts[:, :, j, :] = (qj @ cb.T)[:, None, :] + np.einsum(
                    "qs,qps->qp", qj, cj
                )[:, :, None]
            else:
                qp = qj[:, None, :] - cj  # (nq, npb, sub)
                luts[:, :, j, :] = (
                    (qp**2).sum(-1)[:, :, None]
                    - 2.0 * np.einsum("qps,ks->qpk", qp, cb)
                    + (cb**2).sum(1)[None, None, :]
                )
        bl = spark.sparkContext.broadcast((qids, luts, probe_ids))
    else:
        luts = np.empty((nq, m, nk), dtype=np.float32)
        for j in range(m):
            cb = codebooks[j]
            if desc:
                luts[:, j, :] = q3[:, j, :] @ cb.T
            else:
                luts[:, j, :] = (
                    (q3[:, j, :] ** 2).sum(1)[:, None]
                    - 2.0 * (q3[:, j, :] @ cb.T)
                    + (cb**2).sum(1)[None, :]
                )
        bl = spark.sparkContext.broadcast((qids, luts, None))
    out_schema = pa.schema(
        [("qid", pa.int64()), ("label", pa.int64()), ("distance", pa.float32())]
    )

    def score(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        qids_, luts_, probes_ = bl.value
        nq_ = len(qids_)
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            labels = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            codes = (
                rb.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, m)
                .astype(np.int64)
            )
            if probes_ is None:
                # scores[i, r] = sum_j luts[i, j, codes[r, j]]
                scores = np.zeros((nq_, n), dtype=np.float32)
                for j in range(m):
                    scores += luts_[:, j, codes[:, j]]
            else:
                cl = rb.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
                worst = -np.inf if desc else np.inf
                scores = np.full((nq_, n), worst, dtype=np.float32)
                for cid in np.unique(cl):
                    # each query's own probe list: slot of cid, if probed
                    match = probes_ == cid  # (nq, nprobe)
                    qsel = match.any(axis=1)
                    if not qsel.any():
                        continue  # no query probed this cluster
                    slots = match.argmax(axis=1)[qsel]
                    rows = np.where(cl == cid)[0]
                    lsub = luts_[qsel, slots]  # (nqs, m, nk)
                    part = np.zeros((int(qsel.sum()), len(rows)), dtype=np.float32)
                    for j in range(m):
                        part += lsub[:, j, codes[rows, j]]
                    scores[np.ix_(qsel, rows)] = part
            idx, sc = topk_indices(scores, k, desc, labels)
            kk = idx.shape[1]
            keep = np.isfinite(sc.ravel())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids_, kk)[keep], pa.int64()),
                    pa.array(labels[idx.ravel()][keep], pa.int64()),
                    pa.array(sc.ravel()[keep], pa.float32()),
                ],
                schema=out_schema,
            )

    sel = ["label", "code"] + ([cluster_col] if residual else [])
    return codes_df.select(*sel).mapInArrow(
        score, schema="qid bigint, label bigint, distance float"
    )


def pq_search_grouped(
    codes_df: DataFrame,
    queries_df: DataFrame,
    codebooks: np.ndarray,
    k: int,
    metric: str = "L2",
    centroids: "np.ndarray | None" = None,
    qid_col: str = "qid",
    vec_col: str = "vector",
    cluster_col: "str | None" = "cluster_id",
    block_rows: int = 16384,
) -> DataFrame:
    """Executor-side ADC search for a CORPUS-SCALE query side — the PQ twin
    of the engine's bulk IVF path (no driver query streaming).

    ``queries_df`` carries one row per (query, probed cluster) when
    ``cluster_col`` is set (the IVF composite; residual LUTs per cluster),
    else plain (qid, vector) rows and one global group.  Both sides pack
    into per-cluster blocks; blocks EQUI-join on the cluster id; the kernel
    builds each left block's (ln, m, nk) lookup tables against its single
    cluster IN THE TASK from the broadcast codebooks (no driver LUT
    materialization at all), streams code blocks through a running top-k,
    and ``merge_topk`` merges across clusters.

    LUT memory is bounded two ways (r4 review): the query-side block size
    caps so one block's LUT stays under LUT_BLOCK_BUDGET_BYTES, and the
    pair rows are SORTED by (blk, grp) within each task so states finish
    contiguously — at most ONE live LUT per task, evicted on key change."""
    import pyarrow as pa

    m, nk, sub = codebooks.shape
    dim = m * sub
    desc = metric == "INNER_PRODUCT"
    spark = codes_df.sparkSession
    residual = centroids is not None
    bc = spark.sparkContext.broadcast((codebooks, centroids))

    from duckdb_faiss_ext_spark.operators.simjoin import _pack_blocks

    block_rows = max(1, min(block_rows, LUT_BLOCK_BUDGET_BYTES // (m * nk * 4)))
    if cluster_col is not None:
        # colocate each cluster's query rows before packing (guide §2.3,
        # same rationale as similarity_join_grouped): scattered left rows
        # pack into per-partition mini-blocks and the grp equi-join then
        # replicates each code block once per mini-block; hashing by the
        # cluster id first keeps the join's right-side replication ~1x.
        # The shuffle is bounded by the exploded query side.
        n_lp = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
        )
        queries_df = queries_df.repartition(n_lp, cluster_col)
    lb = _pack_blocks(
        queries_df, qid_col, vec_col, block_rows, np.float32,
        group_col=cluster_col,
    )
    # codes pack through the SAME block kernel as vectors (int16 payload) —
    # one packing machinery to maintain (r4 review)
    rb = _pack_blocks(
        codes_df,
        "label",
        "code",
        block_rows,
        np.int16,
        group_col=cluster_col,
    )
    if cluster_col is None:
        # plain-PQ bulk (no clusters): an equi-join on a constant group key
        # would funnel every block pair through ONE shuffle partition —
        # use the cross-grid shape similarity_join uses instead (r4 review)
        from duckdb_faiss_ext_spark.operators.simjoin import bnl_grid

        g = bnl_grid(lb)
        pairs = (
            lb.repartition(g)
            .crossJoin(
                rb.repartition(g).select(
                    F.col("n").alias("rn"),
                    F.col("ids").alias("rids"),
                    F.col("vecs").alias("rcodes"),
                )
            )
            .select(
                "blk", F.lit(0).alias("grp"), "n", "ids", "vecs",
                "rn", "rids", "rcodes",
            )
        )
    else:
        pairs = lb.join(
            rb.select(
                "grp",
                F.col("n").alias("rn"),
                F.col("ids").alias("rids"),
                F.col("vecs").alias("rcodes"),
            ),
            "grp",
        ).select("blk", "grp", "n", "ids", "vecs", "rn", "rids", "rcodes")
    n_out = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)

    def score(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        cb, cents = bc.value
        cb_norms = [(cb[j] ** 2).sum(1) for j in range(m)]
        # rows arrive SORTED by (blk, grp) within the task, so exactly one
        # key is live at a time: finish-and-evict on key change keeps one
        # LUT resident instead of one per (block, cluster) key (r4 review)
        cur_key = None
        cur = None

        def emit(st):
            qids, _, _, top_ids, top_sc = st
            if top_ids is None:
                return None
            ln_, kk = top_ids.shape
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, kk), pa.int64()),
                    pa.array(top_ids.ravel(), pa.int64()),
                    pa.array(top_sc.ravel().astype(np.float32), pa.float32()),
                ],
                names=["qid", "label", "distance"],
            )

        for rb_ in batches:
            for r in range(rb_.num_rows):
                skey = (rb_.column(0)[r].as_py(), rb_.column(1)[r].as_py())
                if skey != cur_key:
                    if cur is not None:
                        out = emit(cur)
                        if out is not None:
                            yield out
                    cur_key, cur = skey, None
                st = cur
                row_qids = (
                    rb_.column(3)[r]
                    .values.to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                if st is not None and not np.array_equal(st[0], row_qids):
                    # blk = min(ids) requires distinct query ids: two
                    # different blocks colliding on one key would merge
                    # LUT state silently — fail loud (r4 review)
                    raise ValueError(
                        "pq_search_grouped: duplicate query ids detected "
                        f"(two distinct blocks share key {skey})"
                    )
                if st is None:
                    ln = int(rb_.column(2)[r].as_py())
                    qids = row_qids
                    qx = np.ascontiguousarray(
                        rb_.column(4)[r]
                        .values.to_numpy(zero_copy_only=False)
                        .reshape(ln, dim),
                        dtype=np.float32,
                    )
                    g = int(skey[1])
                    const = np.zeros(ln, dtype=np.float32)
                    if residual:
                        if desc:
                            # IP: q.(c + r) = q.c (constant) + q.r (tables)
                            const = qx @ cents[g].astype(np.float32)
                            qp = qx
                        else:
                            qp = qx - cents[g][None, :].astype(np.float32)
                    else:
                        qp = qx
                    q3 = qp.reshape(ln, m, sub)
                    lut = np.empty((ln, m, nk), dtype=np.float32)
                    for j in range(m):
                        if desc:
                            lut[:, j, :] = q3[:, j, :] @ cb[j].T
                        else:
                            lut[:, j, :] = (
                                (q3[:, j, :] ** 2).sum(1)[:, None]
                                - 2.0 * (q3[:, j, :] @ cb[j].T)
                                + cb_norms[j][None, :]
                            )
                    st = cur = [qids, lut, const, None, None]
                qids, lut, const = st[0], st[1], st[2]
                ln = len(qids)
                rn = int(rb_.column(5)[r].as_py())
                rids = (
                    rb_.column(6)[r]
                    .values.to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                codes = (
                    rb_.column(7)[r]
                    .values.to_numpy(zero_copy_only=False)
                    .reshape(rn, m)
                    .astype(np.int64)
                )
                scores = np.zeros((ln, rn), dtype=np.float32)
                for j in range(m):
                    scores += lut[:, j, codes[:, j]]
                scores += const[:, None]
                idx, sc = topk_indices(scores, k, desc, rids)
                st[3], st[4] = merge_running_topk(
                    st[3], st[4], rids[idx], sc.astype(np.float64), k, desc
                )
        if cur is not None:
            out = emit(cur)
            if out is not None:
                yield out

    partial = (
        pairs.repartition(n_out, "blk", "grp")
        .sortWithinPartitions("blk", "grp")
        .mapInArrow(score, schema="qid bigint, label bigint, distance float")
    )
    return merge_topk(partial, k, metric)
