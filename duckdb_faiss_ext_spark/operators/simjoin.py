"""similarity_join — top-k join between two vector DataFrames, and the one
executor-side block join every bulk route runs.

SURVEY.md §7 M6: beyond the reference's named-index API, pipelines want a
direct "for each left row, the k nearest right rows" join.  The engine's
bulk-query plans (Flat, IVF, SQ8 and PQ with ``bulk_queries``) are the same
join with the index as the right side, so they all call :func:`block_join`:

1. **Pack.**  Each side packs into block rows of ≤ ``block_rows`` vectors
   (a block row = ids + one flattened payload: floats, SQ8 int8 codes or
   PQ int16 codes) via one narrow ``mapInArrow`` pass — no shuffle, and
   nothing on the driver.
2. **Pair step.**  With no group column a ``crossJoin`` of the two small
   block tables over a ``bnl_grid`` x ``bnl_grid`` grid forms every
   (left block, right block) pair (the block-nested-loop, BNL).  With a
   group column (IVF: one left row per (query, probed cluster)) blocks
   equi-join on ``grp`` instead — nothing is cartesian and the probe
   pruning survives.
3. **Kernel.**  Pair rows repartition by the left block key ``(blk, grp)``
   and one streaming ``mapInArrow`` folds each pair's scores into a running
   per-left-row top-k.  A key's only state is its left ids (and a CRC of
   its left payload, for the duplicate-id check) and that running top-k:
   every pair row carries its left block, so the kernel reads the left
   payload from the row and keeps no left matrix, lookup table or sort
   order.  Scoring is the one per-payload choice: float
   ``pairwise``, decode-free ``sq8_l2_pairwise`` for SQ8 L2, or PQ ADC
   (``pq.adc_scores``, lookup tables built from the row's left block
   against cluster ``grp``).

The BNL meets all of a left block's pairs in one task, so its output is the
final |L| x k ranking with no merge shuffle; grouped output is per
(query, cluster) and goes through the one ``merge_topk``.  Wall-clock and
shuffle volume of the BNL scale as |L|·|R|·d/bl — the inherent cost of an
exact all-pairs join; at corpus scale prefer :func:`similarity_join_lsh`,
which only scores bucket-colliding pairs.
"""

from __future__ import annotations

import zlib
from typing import Iterator, Optional

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from duckdb_faiss_ext_spark.functions.quantize import (
    sq8_l2_pairwise,
    sq8_rownorm,
)
from duckdb_faiss_ext_spark.metrics import (
    is_descending,
    merge_running_topk,
    pairwise,
    resolve_metric,
    topk_indices,
)
from duckdb_faiss_ext_spark.operators.topk import merge_topk, reject_null_elements

__all__ = ["similarity_join", "block_join", "similarity_join_lsh"]

# rows per packed block: bounds executor memory (a block is bl*d floats) and
# sets the BNL replication factor |R|*|L|/bl — bigger blocks shuffle less but
# leave fewer groups for parallelism
BLOCK_ROWS = 16384

# byte budget per packed block.  ROW-sized blocks alone are a dim-dependent
# memory hazard: at the reference's real dimensionality (1536, Makefile
# training data) a 16384-row float32 block is ~100 MB and a BNL task
# co-resides 2-3 of them (VERDICT r4 wrong #2).  The effective block size is
# min(block_rows, block_bytes // row_bytes), so dim<=1024 workloads keep the
# measured 16384-row blocks and wide-vector workloads shrink rows to hold
# bytes constant.  Probe: tools/simjoin_probe.py --dim 1536 (SCALE.md r6).
BLOCK_BYTES = 64 << 20

# left rows scored per kernel call inside a task (bounds the (chunk, rn)
# score matrix at ~chunk*block_rows*8 bytes)
SCORE_CHUNK = 2048


def rows_for_budget(block_rows: int, block_bytes: int, dim: int, itemsize: int) -> int:
    """Effective rows per block under a byte budget: never more than
    ``block_rows``, never more bytes than ``block_bytes``, always >= 1."""
    if block_bytes <= 0 or dim <= 0:
        return max(1, block_rows)
    return max(1, min(block_rows, block_bytes // (dim * itemsize)))


def bnl_grid(df: DataFrame) -> int:
    """Side count g for the BNL cartesian grid: the packed block rows of
    each side are repartitioned into g partitions so the cartesian stage is
    g x g tasks.  Derived from the session's parallelism (guide §2:
    scale-adaptive, not a local-core-count constant) as
    ceil(sqrt(2 * defaultParallelism)) — two cartesian waves' worth of
    tasks: 32 cores -> 8 (the grid every simjoin receipt through r13 was
    measured on), 8 cores -> 4, 1000 cores -> 45.  Result sets are
    grid-independent: the grid only sets cartesian task granularity; the
    scoring kernel regroups pairs by blk downstream."""
    import math

    dp = max(1, df.sparkSession.sparkContext.defaultParallelism)
    return max(2, math.ceil(math.sqrt(2.0 * dp)))


def _pack_blocks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_rows: int,
    dtype,
    group_col: Optional[str] = None,
    block_bytes: int = BLOCK_BYTES,
    sq8: Optional[tuple] = None,
) -> DataFrame:
    """(blk BIGINT, grp BIGINT, n INT, ids ARRAY<BIGINT>, vecs ARRAY<...>)
    — ≤ ``block_rows`` vectors per row, vecs flattened row-major.  Narrow
    map.  ``grp`` is the ``group_col`` value, 0 for every block without one.

    ``blk`` = min(ids) of the block: content-derived, so it is STABLE across
    re-executions (a cartesian join re-runs each side once per opposite
    partition, and TaskContext.partitionId() there is the cartesian task's
    id — a blk derived from it changed between recomputations and every
    (left, right) block pair masqueraded as its own left block).  Blocks
    never span groups and partition each group's distinct ids, so min(ids)
    is unique per (grp, blk) — the key the kernel keeps state by.

    ``sq8``: optional (vmin, vdiff) — the input column is then SQ8
    ``array<tinyint>`` codes, decoded HERE per Arrow batch with
    ``sq8_decode_np`` (the one SQ8 decode) into float blocks."""
    import pyarrow as pa

    # payload dtype: float32/float64 vectors, int16 PQ code rows, or SQ8
    # codes packed RAW for the decode-free L2 scan (4x smaller than floats)
    pa_t, np_t, sql_t = {
        np.float64: (pa.float64(), np.float64, "array<double>"),
        np.float32: (pa.float32(), np.float32, "array<float>"),
        np.int16: (pa.int16(), np.int16, "array<smallint>"),
        np.int8: (pa.int8(), np.int8, "array<tinyint>"),
    }[dtype]

    def pack(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        # group value -> [ids_buf, vec_buf, held]; ungrouped uses key 0
        bufs: dict = {}

        def flush(g):
            st = bufs[g]
            ids = np.concatenate(st[0])
            vecs = np.concatenate(st[1])
            # reset IN PLACE — callers hold a reference to this list
            st[0], st[1], st[2] = [], [], 0
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([int(ids.min())], pa.int64()),
                    pa.array([int(g)], pa.int64()),
                    pa.array([len(ids)], pa.int32()),
                    pa.array([ids], pa.list_(pa.int64())),
                    pa.array([vecs], pa.list_(pa_t)),
                ],
                names=["blk", "grp", "n", "ids", "vecs"],
            )

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            vals = rb.column(1).flatten()
            reject_null_elements(vals, f"column {vec_col!r}")
            raw = vals.to_numpy(zero_copy_only=False)
            dim = len(raw) // n
            eff_rows = rows_for_budget(block_rows, block_bytes, dim, np_t().itemsize)
            if sq8 is not None:
                from duckdb_faiss_ext_spark.functions.quantize import (
                    sq8_decode_np,
                )

                x = sq8_decode_np(raw.reshape(n, dim), sq8[0], sq8[1], np_t)
            else:
                x = raw.astype(np_t).reshape(n, dim)
            if group_col is not None:
                grp = rb.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
            else:
                grp = np.zeros(n, dtype=np.int64)
            for g in np.unique(grp):
                sel = np.where(grp == g)[0]
                st = bufs.setdefault(int(g), [[], [], 0])
                lo = 0
                while lo < len(sel):
                    take = min(len(sel) - lo, eff_rows - st[2])
                    st[0].append(ids[sel[lo : lo + take]])
                    st[1].append(x[sel[lo : lo + take]].reshape(-1))
                    st[2] += take
                    lo += take
                    if st[2] >= eff_rows:
                        yield flush(int(g))
        for g, st in list(bufs.items()):
            if st[2]:
                yield flush(g)

    in_sql_t = "array<tinyint>" if sq8 is not None else sql_t
    cols = [
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).cast(in_sql_t).alias("vector"),
    ]
    if group_col is not None:
        cols.append(F.col(group_col).cast("bigint").alias("grp"))
    return df.select(*cols).mapInArrow(
        pack, schema=f"blk bigint, grp bigint, n int, ids array<bigint>, vecs {sql_t}"
    )


def _right_name(left_id: str, right_id: str) -> str:
    return right_id if right_id != left_id else f"{right_id}_right"


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    metric: str = "INNER_PRODUCT",
    left_id: str = "id",
    left_vec: str = "vector",
    right_id: str = "id",
    right_vec: str = "vector",
    dtype=None,
    block_rows: int = BLOCK_ROWS,
    metric_arg: float = 0.0,
    bulk: bool = False,
    block_bytes: int = BLOCK_BYTES,
    right_sq8: "Optional[tuple]" = None,
) -> DataFrame:
    """(left_id, rank, right_id, distance) — k nearest right rows per left
    row, exact, with the kernel tie-break (score, then label ascending).

    ``dtype`` numpy float type for the distance kernel (default float32,
    FAISS parity; float64 for the double-precision oracle-checked path).

    Two physical plans:
    - default (``bulk=False``): the query-broadcast kernel — the left side
      streams through BOUNDED driver blocks (same contract as the engine's
      query path; driver memory capped at MAX_QUERY_BLOCK rows).  Lowest
      latency for query-batch-sized lefts; the driver is a serialization
      point for corpus-scale lefts.
    - ``bulk=True``: the block-nested-loop of :func:`block_join` — ENTIRELY
      executor-side.  The corpus x corpus shape; ~1 s of fixed stage
      overhead that dominates tiny joins."""
    dtype = dtype if dtype is not None else np.float32
    if bulk:
        return block_join(
            left, right, k, metric,
            left_id=left_id, left_vec=left_vec,
            right_id=right_id, right_vec=right_vec,
            dtype=dtype, block_rows=block_rows, metric_arg=metric_arg,
            block_bytes=block_bytes, right_sq8=right_sq8,
        )
    from duckdb_faiss_ext_spark.operators.topk import exact_knn_flat

    flat = exact_knn_flat(
        right.select(
            F.col(right_id).cast("bigint").alias("label"),
            F.col(right_vec).alias("vector"),
        ),
        left.select(
            F.col(left_id).cast("bigint").alias("qid"),
            F.col(left_vec).alias("vector"),
        ),
        k,
        metric=metric,
        metric_arg=metric_arg,
        dtype=dtype,
        sq8=right_sq8,
    )
    return flat.select(
        F.col("qid").alias(left_id),
        "rank",
        F.col("label").alias(_right_name(left_id, right_id)),
        "distance",
    )


def block_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    metric: str = "INNER_PRODUCT",
    left_id: str = "id",
    left_vec: str = "vector",
    right_id: str = "id",
    right_vec: str = "vector",
    group_col: Optional[str] = None,
    dtype=None,
    block_rows: int = BLOCK_ROWS,
    metric_arg: float = 0.0,
    block_bytes: int = BLOCK_BYTES,
    right_sq8: "Optional[tuple]" = None,
    codebooks: "Optional[np.ndarray]" = None,
    centroids: "Optional[np.ndarray]" = None,
) -> DataFrame:
    """(left_id, rank, right_id, distance): the k nearest right rows of
    every left row, executor-side (module docstring: pack, pair step,
    kernel).  The left side holds float vectors; the right side's payload
    picks the scorer:

    - float vectors: ``pairwise`` under ``metric`` in ``dtype``;
    - ``right_sq8`` = (vmin, vdiff): the right column holds SQ8 codes.
      L2 scores them decode-free (``sq8_l2_pairwise``); other metrics
      decode them in the pack and score floats;
    - ``codebooks`` (m, nk, sub): the right column holds PQ codes, scored
      by ADC in float32.  With ``centroids`` the codes are IVF residuals
      and ``group_col`` is their cluster id (faiss IndexIVFPQ).

    ``group_col`` restricts pairs to rows sharing it — the bulk-IVF shape:
    the left side carries one row per (query, probed cluster), the right
    side is the cluster-assigned corpus.  A query probing p clusters lands
    in p left blocks, so the kernel's top-k is per (query, cluster) and
    ``merge_topk`` per left id gives the global top-k (the same bounded
    nq*k shuffle as the exact kernel).  Without it the BNL's output is
    final.

    Left ids must be unique: blocks are keyed by their smallest id, and
    two different left blocks meeting on one key raise ``ValueError``."""
    import pyarrow as pa

    np_t = dtype if dtype is not None and codebooks is None else np.float32
    desc = is_descending(metric)
    spark = left.sparkSession
    n_out = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    if codebooks is not None:
        from duckdb_faiss_ext_spark.operators.pq import adc_scores

        bc = spark.sparkContext.broadcast((codebooks, centroids))
        right_t, pack_sq8 = np.int16, None

        def prep(flat, rn):
            return flat.reshape(rn, -1).astype(np.int64)

        def score(lx, codes, grp):
            cb, cents = bc.value
            cent = None if cents is None else cents[grp]
            return adc_scores(lx, codes, cb, cent, desc)

    elif right_sq8 is not None and resolve_metric(metric) == "L2":
        vmin, vdiff = right_sq8
        right_t, pack_sq8 = np.int8, None

        def prep(flat, rn):
            codes = np.ascontiguousarray(flat.reshape(rn, -1))
            return codes, sq8_rownorm(codes, vmin, vdiff)

        def score(lx, rx, grp):
            return sq8_l2_pairwise(lx, rx[0], vmin, vdiff, rownorm=rx[1], dtype=np_t)

    else:
        right_t, pack_sq8 = np_t, right_sq8

        def prep(flat, rn):
            return np.ascontiguousarray(flat.reshape(rn, -1), dtype=np_t)

        def score(lx, rx, grp):
            return pairwise(lx, rx, metric, metric_arg, dtype=np_t)

    if group_col is not None:
        # colocate each group's left rows BEFORE packing (guide §2.3 —
        # shuffle fewer bytes): the left side is queries x nprobe, scattered
        # across partitions, so without this every partition emits a
        # mini-block per probed cluster (32 partitions x 2048 clusters ≈ 62k
        # blocks of ~5 rows at the vec1m bench shape) and the grp equi-join
        # then replicates each corpus block once PER mini-block — ~30x the
        # packed corpus (~8 GB) through the kernel exchange, measured 9.6 s
        # steady-state.  Hashing the left by grp first packs ~one block per
        # (grp, partition), so the join replicates each corpus block ~once;
        # the left shuffle itself is bounded by the exploded query side.
        left = left.repartition(n_out, group_col)
    lb = _pack_blocks(
        left, left_id, left_vec, block_rows, np_t, group_col, block_bytes
    ).select("blk", "grp", "ids", "vecs")
    rb = _pack_blocks(
        right, right_id, right_vec, block_rows, right_t, group_col,
        block_bytes, sq8=pack_sq8,
    ).select("grp", F.col("ids").alias("rids"), F.col("vecs").alias("rvecs"))
    if group_col is None:
        # REPARTITION (not coalesce) the packed block rows into a small
        # grid: the cartesian stage becomes g x g tasks instead of a
        # partitions² grid.  A narrow coalesce here would fuse INTO the
        # pack stage and run the packing itself grid-wide — a bottleneck
        # once the inputs are big; the repartition keeps pack at input
        # parallelism and its one shuffle of compacted blocks is negligible
        # next to the BNL's own |L|·|R|/bl pair replication.
        g = bnl_grid(left)
        pairs = lb.repartition(g).crossJoin(rb.repartition(g).drop("grp"))
    else:
        pairs = lb.join(rb, "grp").select(
            "blk", "grp", "ids", "vecs", "rids", "rvecs"
        )
    dist_t = "double" if np_t is np.float64 else "float"
    out = pairs.repartition(n_out, "blk", "grp").mapInArrow(
        _block_topk_kernel(k, desc, np_t, prep, score),
        schema=f"qid bigint, rank int, label bigint, distance {dist_t}",
    )
    if group_col is not None:
        out = merge_topk(out, k, metric)
    return out.select(
        F.col("qid").alias(left_id),
        "rank",
        F.col("label").alias(_right_name(left_id, right_id)),
        "distance",
    )


def _block_topk_kernel(k, desc, np_t, prep, score):
    """mapInArrow generator over pair rows (blk, grp, ids, vecs, rids,
    rvecs): folds each pair's scores into a running per-left-row top-k
    keyed by (blk, grp) — O(ln * k) state per left block; neither side's
    blocks accumulate.  ``prep(flat, rn)`` turns a right payload into the
    scorer's operand once per pair row, and ``score(lx, operand, grp)``
    returns a (chunk, rn) score matrix for SCORE_CHUNK left rows.

    blk = min(ids) assumes distinct left ids: two different blocks meeting
    on one key would silently merge their top-k, so a key remembers its
    left ids and a CRC of its left payload, and a row that disagrees
    raises.  Only an exact repeat of a block (same ids, same vectors) goes
    through: the kernel cannot tell it from a right block repeated."""
    import pyarrow as pa

    pa_t = pa.from_numpy_dtype(np_t)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        state: dict = {}
        for rb in batches:
            blk, grp, ids, vecs, rids_c, rvecs = rb.columns
            for r in range(rb.num_rows):
                key = (blk[r].as_py(), grp[r].as_py())
                lids = ids[r].values.to_numpy(zero_copy_only=False).astype(np.int64)
                lflat = vecs[r].values.to_numpy(zero_copy_only=False)
                crc = zlib.crc32(lflat)
                st = state.setdefault(key, [lids, crc, None, None])
                if st[1] != crc or not np.array_equal(st[0], lids):
                    raise ValueError(
                        "block join: duplicate left ids detected (two "
                        f"distinct blocks share key {key}); the left id "
                        "column must be unique"
                    )
                ln = len(lids)
                lx = lflat.reshape(ln, -1)
                rids = rids_c[r].values.to_numpy(zero_copy_only=False).astype(np.int64)
                rx = prep(rvecs[r].values.to_numpy(zero_copy_only=False), len(rids))
                kk = min(k, len(rids))
                blk_ids = np.empty((ln, kk), dtype=np.int64)
                blk_sc = np.empty((ln, kk), dtype=np.float64)
                for lo in range(0, ln, SCORE_CHUNK):
                    hi = min(lo + SCORE_CHUNK, ln)
                    idx, sc = topk_indices(score(lx[lo:hi], rx, key[1]), kk, desc, rids)
                    blk_ids[lo:hi] = rids[idx]
                    blk_sc[lo:hi] = sc
                # composite tie-break: score first, right-label ascending
                st[2], st[3] = merge_running_topk(
                    st[2], st[3], blk_ids, blk_sc, k, desc
                )
        for lids, _, top_ids, top_sc in state.values():
            ln, kk = top_ids.shape
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(lids, kk), pa.int64()),
                    pa.array(np.tile(np.arange(kk, dtype=np.int32), ln), pa.int32()),
                    pa.array(top_ids.ravel(), pa.int64()),
                    pa.array(top_sc.ravel().astype(np_t), pa_t),
                ],
                names=["qid", "rank", "label", "distance"],
            )

    return run


def similarity_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int,
    dim: int,
    left_id: str = "id",
    left_vec: str = "vector",
    right_id: str = "id",
    right_vec: str = "vector",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    center: "bool | np.ndarray | None" = True,
    max_bucket: int = 0,
) -> DataFrame:
    """Approximate cosine top-k join — the corpus x corpus SCALE path.

    Candidates = bucket collision in any LSH table; each candidate pair is
    re-ranked with the exact float64 cosine in an Arrow-batched pandas_udf
    (one numpy pass per batch — 1.8x the per-element zip_with/aggregate
    expression on verify joins; no driver involvement either way);
    per-left-row top-k via ``merge_topk``.  Only colliding pairs are ever
    scored, so cost tracks the collision count, not |L|·|R|.  All shuffles
    are hash-partitioned equi-joins — nothing is replicated or
    driver-resident.

    ``max_bucket`` > 0 caps rows taken per (table, bucket) on each side
    (hot-bucket skew guard, same rationale as dedup's shared bucket cap)."""
    from duckdb_faiss_ext_spark.operators.lsh import corpus_mean, lsh_signatures

    ctr: Optional[np.ndarray]
    if center is True:
        ctr = corpus_mean(right, dim, right_vec)
    elif center is None or center is False:
        ctr = None
    else:
        ctr = np.asarray(center, dtype=np.float32)
    l_sig = lsh_signatures(
        left, dim, left_id, left_vec, n_planes, n_tables, seed, center=ctr
    ).withColumnRenamed("id", "_lid")
    r_sig = lsh_signatures(
        right, dim, right_id, right_vec, n_planes, n_tables, seed, center=ctr
    ).withColumnRenamed("id", "_rid")
    if max_bucket > 0:
        w = Window.partitionBy("table", "bucket").orderBy("_lid")
        l_sig = (
            l_sig.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_bucket)
            .drop("_r")
        )
        w2 = Window.partitionBy("table", "bucket").orderBy("_rid")
        r_sig = (
            r_sig.withColumn("_r", F.row_number().over(w2))
            .filter(F.col("_r") <= max_bucket)
            .drop("_r")
        )
    pairs = l_sig.join(r_sig, ["table", "bucket"]).select("_lid", "_rid").distinct()
    lv = left.select(
        F.col(left_id).cast("bigint").alias("_lid"),
        F.col(left_vec).cast("array<double>").alias("_lv"),
    )
    rv = right.select(
        F.col(right_id).cast("bigint").alias("_rid"),
        F.col(right_vec).cast("array<double>").alias("_rv"),
    )
    from duckdb_faiss_ext_spark.functions.vector import cosine_batch_udf

    scored = (
        pairs.join(lv, "_lid")
        .join(rv, "_rid")
        .select(
            F.col("_lid").alias("qid"),
            F.col("_rid").alias("label"),
            cosine_batch_udf()(F.col("_lv"), F.col("_rv")).alias("distance"),
        )
    )
    return merge_topk(scored, k, "COSINE").select(
        F.col("qid").alias(left_id),
        "rank",
        F.col("label").alias(_right_name(left_id, right_id)),
        F.col("distance").cast("float").alias("distance"),
    )
