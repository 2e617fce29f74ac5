"""Random-hyperplane LSH approximate nearest neighbor — the bucketed scale
path for cosine similarity (the IVF alternative from SURVEY.md §7 M6).

Reference parity note: the reference's ANN surface is FAISS factory strings
(HNSW/IVF, src/faiss_extension.cpp:96-121 via faiss::index_factory); this
operator is the *beyond-reference* LSH variant a 100 TB training-data
pipeline wants when KMeans training itself is too expensive: signatures are
data-independent (no training pass), so index build is a single narrow map.

Physical plan (no cross join, no full shuffle of the corpus):

1. ``n_tables`` independent signatures, each from ``n_planes`` random
   hyperplanes (seeded, so signatures are deterministic and re-computable on
   read — the "index" can be persisted as plain parquet or rebuilt for free);
2. corpus rows and query rows hash to (table, bucket) keys; candidates =
   equi-join on the key — Catalyst plans a shuffle-hash/broadcast join on a
   key whose cardinality we control via n_planes (expected bucket size =
   n / 2^n_planes);
3. exact cosine re-rank: the corpus is restricted to the union of candidate
   labels via a broadcast semi-join (corpus never shuffles), then the exact
   top-k kernel runs over the survivors — identical tie-break (score desc,
   label asc), so results are comparable 1:1 with exact_knn_flat output.

Recall/latency knobs: more tables -> higher recall (union of candidates),
more planes -> smaller buckets -> faster but lower recall.  The analogue of
the reference's nprobe/efSearch search-time knobs (faiss_extension.cpp:
668-727) is (n_tables, n_planes) chosen at signature time.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from duckdb_faiss_ext_spark.operators.topk import exact_knn_flat

__all__ = ["lsh_signatures", "sign_buckets", "lsh_ann_cosine"]


def _planes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """(n_tables, n_planes, dim) float32 hyperplane normals, deterministic."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim)).astype(np.float32)


def corpus_mean(df: DataFrame, dim: int, vec_col: str = "vector") -> np.ndarray:
    """Per-dimension mean in one codegen pass (no explode)."""
    row = df.agg(
        *[F.avg(F.col(vec_col)[i]).alias(f"m{i}") for i in range(dim)]
    ).first()
    return np.array([row[i] or 0.0 for i in range(dim)], dtype=np.float32)


def lsh_signatures(
    df: DataFrame,
    dim: int,
    id_col: str = "id",
    vec_col: str = "vector",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    center: Optional[np.ndarray] = None,
) -> DataFrame:
    """(id, table INT, bucket BIGINT) — one row per (input row, table).

    Sign-bit signature: bucket = sum_j ((v - center) . plane_j > 0) << j.

    ``center``: hyperplanes pass through this point instead of the origin.
    For a corpus confined to one orthant (e.g. all-positive features), origin
    hyperplanes barely separate anything — at the 16M probe the candidate set
    was 83% of the corpus, i.e. the bucketing had collapsed.  Centering on
    the corpus mean (``corpus_mean``) restores balanced buckets; re-ranking
    still uses the TRUE cosine, so centering only shapes the candidate set."""
    return sign_buckets(
        df, id_col, vec_col, _planes(dim, n_planes, n_tables, seed), center
    )


def sign_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    center: Optional[np.ndarray] = None,
) -> DataFrame:
    """(id, table INT, bucket BIGINT) from ``planes`` (tables, planes, dim):
    bucket t = sum_j ((v - center) . planes[t, j] > 0) << j.

    One narrow ``mapInArrow``: Arrow-batched numpy, the (tables*planes, dim)
    matrix rides a broadcast variable, one matmul per batch covers all
    tables at once."""
    import pyarrow as pa

    spark = df.sparkSession
    bp = spark.sparkContext.broadcast(
        (
            np.asarray(planes, dtype=np.float32),
            None if center is None else np.asarray(center, dtype=np.float32),
        )
    )
    weights = (1 << np.arange(planes.shape[1], dtype=np.int64))
    out_schema = pa.schema(
        [("id", pa.int64()), ("table", pa.int32()), ("bucket", pa.int64())]
    )

    def sign(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        pl, ctr = bp.value  # (T, P, d), optional (d,)
        T, P, d = pl.shape
        flat_planes = pl.reshape(T * P, d)
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            values = rb.column(1).flatten().to_numpy(zero_copy_only=False)
            if len(values) == n * d:
                x = np.ascontiguousarray(values.reshape(n, d), dtype=np.float32)
            else:
                x = np.asarray(
                    [np.asarray(v, dtype=np.float32) for v in rb.column(1).to_pylist()]
                )
            if ctr is not None:
                x = x - ctr[None, :]
            bits = (x @ flat_planes.T) > 0  # (n, T*P)
            bits = bits.reshape(n, T, P)
            buckets = (bits * weights).sum(axis=2)  # (n, T) int64
            out_id = np.repeat(ids, T)
            out_t = np.tile(np.arange(T, dtype=np.int32), n)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_t, pa.int32()),
                    pa.array(buckets.ravel(), pa.int64()),
                ],
                schema=out_schema,
            )

    narrow = df.select(F.col(id_col).cast("bigint"), vec_col)
    return narrow.mapInArrow(sign, schema="id bigint, table int, bucket bigint")


def lsh_ann_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    label_col: str = "label",
    vec_col: str = "vector",
    qid_col: str = "qid",
    q_vec_col: str = "vector",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    corpus_sig: DataFrame | None = None,
    center: "bool | np.ndarray | None" = True,
) -> DataFrame:
    """Approximate cosine top-k: (qid, rank, label, distance).

    Candidates = bucket-collision in ANY table (distinct), re-ranked with the
    exact double-precision cosine — so every returned distance is exact; only
    the candidate set is approximate (standard LSH contract).

    ``corpus_sig``: pass `lsh_signatures(corpus, ...)` (cached/persisted) to
    amortize the signature build across searches — the signature table IS the
    LSH index; rebuilding it per query batch is the dominant cost at the 4M
    probe.  Must have been built with the same (n_planes, n_tables, seed,
    center).

    ``center``: True (default) buckets around the corpus mean (one codegen
    aggregation); an ndarray uses that point (pass the SAME one the cached
    corpus_sig was built with); None/False buckets around the origin."""
    ctr: Optional[np.ndarray]
    if center is True:
        ctr = corpus_mean(corpus, dim, vec_col)
    elif center is None or center is False:
        ctr = None
    else:
        ctr = np.asarray(center, dtype=np.float32)
    if corpus_sig is not None:
        c_sig = corpus_sig.withColumnRenamed("id", "label")
    else:
        c_sig = lsh_signatures(
            corpus, dim, label_col, vec_col, n_planes, n_tables, seed, center=ctr
        ).withColumnRenamed("id", "label")
    q_sig = lsh_signatures(
        queries, dim, qid_col, q_vec_col, n_planes, n_tables, seed, center=ctr
    ).withColumnRenamed("id", "qid")

    # the query side is tiny: broadcast its signatures so candidate discovery
    # never shuffles the corpus signature table
    cand_labels = (
        c_sig.join(F.broadcast(q_sig), ["table", "bucket"])
        .select("label")
        .distinct()
    )

    # re-rank = exact top-k kernel over the corpus RESTRICTED to the union of
    # all queries' candidates, via a left-semi join.  Using the union (instead
    # of per-(qid,label) pair masking) only ADDS candidates a bucket collision
    # found for a different query: distances stay exact, recall can only
    # improve, and the plan loses a 500 MB/1M-row vector shuffle that
    # dominated the first version of this operator at the scale probe.
    # NO broadcast hint on the candidate set: with many queries (or a
    # collapsed bucketing) the union can approach corpus size, and a forced
    # broadcast OOMs (VERDICT r1 #2).  AQE broadcasts at runtime when the
    # candidate set is genuinely small; otherwise the corpus-side shuffle is
    # the correct plan.
    filtered = corpus.select(
        F.col(label_col).cast("bigint").alias("label"),
        F.col(vec_col).alias("vector"),
    ).join(cand_labels, "label", "left_semi")
    q = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"),
        F.col(q_vec_col).alias("vector"),
    )
    return exact_knn_flat(filtered, q, k, metric="COSINE", dtype=np.float64)
