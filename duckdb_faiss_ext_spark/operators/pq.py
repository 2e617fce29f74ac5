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
   Corpus-scale query sides run the executor-side block join instead
   (``simjoin.block_join``), with ``adc_scores`` as its scorer.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from duckdb_faiss_ext_spark.metrics import kmeans, nearest_centroid, topk_indices
from duckdb_faiss_ext_spark.operators.topk import merge_topk, vector_matrix

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_search",
    "pq_search_arrays",
    "adc_scores",
]


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


def adc_scores(
    q: np.ndarray,
    codes: np.ndarray,
    codebooks: np.ndarray,
    centroid: "np.ndarray | None",
    desc: bool,
) -> np.ndarray:
    """(nq, n) float32 ADC scores of float queries ``q`` (nq, dim) against
    PQ code rows ``codes`` (n, m) — the PQ scorer of the executor-side
    block join (operators/simjoin.py ``block_join``), which calls it on
    each pair row's left block.  ``desc``: inner-product tables, else
    squared L2.

    With ``centroid`` the codes are residuals of that one cluster (faiss
    IndexIVFPQ): L2 shifts the queries by it, inner product adds the
    constant q·centroid (q·(c + r) = q·c + q·r).  Each subspace's (nq, nk)
    lookup table is built, gathered and dropped in turn, so no (nq, m, nk)
    table is ever resident."""
    m, nk, sub = codebooks.shape
    const = 0.0
    if centroid is not None:
        c = centroid.astype(np.float32)
        if desc:
            const = (q @ c)[:, None]
        else:
            q = q - c[None, :]
    q3 = q.reshape(len(q), m, sub)
    scores = np.zeros((len(q), len(codes)), dtype=np.float32)
    for j in range(m):
        qj, cb = q3[:, j, :], codebooks[j]
        table = qj @ cb.T
        if not desc:
            table = (qj**2).sum(1)[:, None] - 2.0 * table + (cb**2).sum(1)[None, :]
        scores += table.astype(np.float32, copy=False)[:, codes[:, j]]
    return scores + const
