"""similarity_join — top-k join between two vector DataFrames.

SURVEY.md §7 M6: beyond the reference's named-index API, pipelines want a
direct "for each left row, the k nearest right rows" join.

Physical plan (block-nested-loop, ENTIRELY executor-side — r3's version
pulled the left side through a per-row ``toLocalIterator`` loop on the
driver, making the driver the throughput ceiling for corpus x corpus
joins, VERDICT r3 wrong #2):

1. each side packs into block rows of ≤ ``block_rows`` vectors via one
   narrow ``mapInArrow`` pass (no shuffle; a block row = ids + one
   flattened float matrix);
2. ``crossJoin`` of the two small block tables forms every
   (left block, right block) pair — |L|/bl x |R|/bl rows;
3. repartition by left block + ``mapInArrow``: each task streams the right
   blocks of its left blocks one at a time, merging into a running
   per-left-row top-k (O(ln * k) state, right blocks never accumulate) —
   the output is exactly |L| x k rows and needs NO further merge shuffle.

Wall-clock and shuffle volume scale as |L|·|R|·d/bl — the inherent cost
of an exact all-pairs join; at corpus scale prefer
:func:`similarity_join_lsh`, which only scores bucket-colliding pairs.
"""

from __future__ import annotations

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

__all__ = ["similarity_join", "similarity_join_grouped", "similarity_join_lsh"]

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

# left rows scored per matmul inside a task (bounds the (chunk, rn) score
# matrix at ~chunk*block_rows*8 bytes)
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
    """(blk BIGINT, [grp BIGINT,] n INT, ids ARRAY<BIGINT>, vecs
    ARRAY<FLOAT/DOUBLE>) — ≤ ``block_rows`` vectors per row, vecs flattened
    row-major.  Narrow map.

    ``blk`` = min(ids) of the block: content-derived, so it is STABLE across
    re-executions (a cartesian join re-runs each side once per opposite
    partition, and TaskContext.partitionId() there is the cartesian task's
    id — a blk derived from it changed between recomputations and every
    (left, right) block pair masqueraded as its own left block).  Blocks
    partition the side's distinct ids, so min(ids) is unique per block —
    with ``group_col``, unique per (grp, blk): blocks never span groups
    and partition each group's id set (the grouped/IVF join keys block
    state by both).

    ``sq8``: optional (vmin, vdiff) — the input column is then SQ8
    ``array<tinyint>`` codes, decoded HERE per Arrow batch with
    ``sq8_decode_np`` (the one SQ8 decode); packed blocks always hold
    decoded floats, so every downstream score kernel is unchanged."""
    import pyarrow as pa

    # payload dtype: float32/float64 vectors, or int16 PQ code rows (the
    # grouped ADC path packs codes through the same kernel — one block
    # machinery to maintain, r4 review)
    pa_t, np_t, sql_t = {
        np.float64: (pa.float64(), np.float64, "array<double>"),
        np.float32: (pa.float32(), np.float32, "array<float>"),
        np.int16: (pa.int16(), np.int16, "array<smallint>"),
        # SQ8 codes packed RAW for the decode-free L2 scan (r12): blocks
        # hold int8 codes, 4x smaller than decoded floats
        np.int8: (pa.int8(), np.int8, "array<tinyint>"),
    }[dtype]
    grouped = group_col is not None

    def pack(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        # group value -> [ids_buf, vec_buf, held]; ungrouped uses key 0
        bufs: dict = {}
        eff_rows = block_rows  # byte-budgeted once the dim is known

        def flush(g):
            st = bufs[g]
            ids = np.concatenate(st[0])
            vecs = np.concatenate(st[1])
            cols = [pa.array([int(ids.min())], pa.int64())]
            names = ["blk"]
            if grouped:
                cols.append(pa.array([int(g)], pa.int64()))
                names.append("grp")
            cols += [
                pa.array([len(ids)], pa.int32()),
                pa.array([ids], pa.list_(pa.int64())),
                pa.array([vecs], pa.list_(pa_t)),
            ]
            names += ["n", "ids", "vecs"]
            # reset IN PLACE — callers hold a reference to this list
            st[0], st[1], st[2] = [], [], 0
            return pa.RecordBatch.from_arrays(cols, names=names)

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
            if grouped:
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
    schema = f"blk bigint, n int, ids array<bigint>, vecs {sql_t}"
    if grouped:
        cols.append(F.col(group_col).cast("bigint").alias("grp"))
        schema = f"blk bigint, grp bigint, n int, ids array<bigint>, vecs {sql_t}"
    return df.select(*cols).mapInArrow(pack, schema=schema)


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
    - ``bulk=True``: the block-nested-loop — ENTIRELY executor-side (pack,
      crossJoin, streaming per-left-row top-k).  The corpus x corpus
      shape; ~1 s of fixed stage overhead that dominates tiny joins."""
    import pyarrow as pa

    dtype = dtype if dtype is not None else np.float32
    f64 = dtype is np.float64
    desc = is_descending(metric)
    marg = metric_arg

    if not bulk:
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
            metric_arg=marg,
            dtype=dtype,
            sq8=right_sq8,
        )
        rname = right_id if right_id != left_id else f"{right_id}_right"
        return flat.select(
            F.col("qid").alias(left_id),
            "rank",
            F.col("label").alias(rname),
            "distance",
        )

    # REPARTITION (not coalesce) the packed block rows into a small grid:
    # the cartesian stage becomes |lparts| x |rparts| tasks instead of a
    # partitions² grid.  A narrow coalesce here would fuse INTO the pack
    # stage and run the packing itself grid-wide — a bottleneck once the
    # inputs are big; the repartition keeps pack at input parallelism and
    # its one shuffle of compacted blocks is negligible next to the BNL's
    # own |L|·|R|/bl pair replication.
    g = bnl_grid(left)
    lb = _pack_blocks(
        left, left_id, left_vec, block_rows, dtype, block_bytes=block_bytes
    ).repartition(g)
    decode_free = right_sq8 is not None and resolve_metric(metric) == "L2"
    rb_df = _pack_blocks(
        right, right_id, right_vec, block_rows,
        np.int8 if decode_free else dtype, block_bytes=block_bytes,
        sq8=None if decode_free else right_sq8,
    ).repartition(g)
    pairs = lb.crossJoin(
        rb_df.select(
            F.col("n").alias("rn"),
            F.col("ids").alias("rids"),
            F.col("vecs").alias("rvecs"),
        )
    ).select("blk", "n", "ids", "vecs", "rn", "rids", "rvecs")
    n_out = max(
        int(left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )

    np_t = np.float64 if f64 else np.float32
    pa_t = pa.float64() if f64 else pa.float32()
    score = _stream_topk_kernel(
        k, metric, marg, desc, np_t, pa_t, has_grp=False,
        sq8=right_sq8 if decode_free else None,
    )

    dist_t = "double" if f64 else "float"
    out = pairs.repartition(n_out, "blk").mapInArrow(
        score,
        schema=f"left_id bigint, rank int, right_id bigint, distance {dist_t}",
    )
    rname = right_id if right_id != left_id else f"{right_id}_right"
    return out.select(
        F.col("left_id").alias(left_id),
        "rank",
        F.col("right_id").alias(rname),
        "distance",
    )


def _stream_topk_kernel(
    k, metric, marg, desc, np_t, pa_t, has_grp: bool, sq8=None
):
    """mapInArrow generator over block-pair rows: streams right blocks into
    a running per-left-row top-k keyed by (blk[, grp]) — O(ln * k) state per
    left block, right blocks never accumulate.

    ``sq8``: (vmin, vdiff) — the RIGHT blocks then hold raw int8 codes and
    L2 scores come from the decode-free expansion (functions/quantize.
    sq8_l2_pairwise — the same single kernel the driver path uses, so both
    plans stay result-identical; 4.6-10.3x the decode path, SCALE.md r12).
    The per-block rownorm is recomputed per (left, right) block pair — a
    (rn x d) pass next to the (ln x rn x d) gemm, <1% once ln >= ~100.

    Expected column layout: blk, [grp,] n, ids, vecs, rn, rids, rvecs."""
    import pyarrow as pa

    o = 1 if has_grp else 0

    def score(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        state: dict = {}

        for rb in batches:
            for r in range(rb.num_rows):
                skey = rb.column(0)[r].as_py()
                if has_grp:
                    skey = (skey, rb.column(1)[r].as_py())
                st = state.get(skey)
                row_ids = (
                    rb.column(2 + o)[r]
                    .values.to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                if st is None:
                    ln = len(row_ids)
                    lflat = rb.column(3 + o)[r].values.to_numpy(zero_copy_only=False)
                    dim = len(lflat) // max(ln, 1)
                    lx = np.ascontiguousarray(lflat.reshape(ln, dim), dtype=np_t)
                    st = state[skey] = [row_ids, lx, None, None]
                elif not np.array_equal(st[0], row_ids):
                    # blk = min(ids) assumes the left side's ids are
                    # DISTINCT; two different blocks colliding on one key
                    # would silently merge states (r4 review) — fail loud
                    raise ValueError(
                        "similarity_join: duplicate left ids detected (two "
                        f"distinct blocks share key {skey}); the left id "
                        "column must be unique"
                    )
                lids, lx = st[0], st[1]
                ln = len(lids)
                dim = lx.shape[1]
                rn = int(rb.column(4 + o)[r].as_py())
                rids = (
                    rb.column(5 + o)[r]
                    .values.to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                rx = rb.column(6 + o)[r].values.to_numpy(
                    zero_copy_only=False
                ).reshape(rn, dim)
                if sq8 is None:
                    rx = np.ascontiguousarray(rx, dtype=np_t)
                    rnorm = None
                else:
                    rx = np.ascontiguousarray(rx)  # int8 codes
                    rnorm = sq8_rownorm(rx, sq8[0], sq8[1])
                kk = min(k, rn)
                blk_ids = np.empty((ln, kk), dtype=np.int64)
                blk_sc = np.empty((ln, kk), dtype=np.float64)
                for lo in range(0, ln, SCORE_CHUNK):
                    hi = min(lo + SCORE_CHUNK, ln)
                    if sq8 is not None:
                        s = sq8_l2_pairwise(
                            lx[lo:hi], rx, sq8[0], sq8[1],
                            rownorm=rnorm, dtype=np_t,
                        )
                    else:
                        s = pairwise(lx[lo:hi], rx, metric, marg, dtype=np_t)
                    idx, sc = topk_indices(s, kk, desc, rids)
                    blk_ids[lo:hi] = rids[idx]
                    blk_sc[lo:hi] = sc
                # composite tie-break: score first, right-label ascending
                st[2], st[3] = merge_running_topk(
                    st[2], st[3], blk_ids, blk_sc, k, desc
                )
        for lids, _, top_ids, top_sc in state.values():
            if top_ids is None:
                continue
            ln, kk = top_ids.shape
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(lids, kk), pa.int64()),
                    pa.array(np.tile(np.arange(kk, dtype=np.int32), ln), pa.int32()),
                    pa.array(top_ids.ravel(), pa.int64()),
                    pa.array(top_sc.ravel().astype(np_t), pa_t),
                ],
                names=["left_id", "rank", "right_id", "distance"],
            )

    return score


def similarity_join_grouped(
    left: DataFrame,
    right: DataFrame,
    k: int,
    metric: str = "INNER_PRODUCT",
    left_id: str = "id",
    left_vec: str = "vector",
    right_id: str = "id",
    right_vec: str = "vector",
    group_col: str = "cluster_id",
    dtype=None,
    block_rows: int = BLOCK_ROWS,
    metric_arg: float = 0.0,
    block_bytes: int = BLOCK_BYTES,
    right_sq8: "Optional[tuple]" = None,
) -> DataFrame:
    """Top-k join restricted to rows sharing ``group_col`` — the bulk-IVF
    search shape: the left side carries one row per (query, probed cluster),
    the right side is the cluster-assigned corpus, and blocks join on the
    cluster id (hash equi-join of small block tables, NO cartesian).  A
    query probing p clusters appears in p left blocks, so the kernel's
    per-(blk, grp) top-k is per-(query, cluster); ``merge_topk`` per left
    id produces the global top-k — the same bounded nq*k shuffle as the
    exact kernel."""
    import pyarrow as pa

    dtype = dtype if dtype is not None else np.float32
    f64 = dtype is np.float64
    desc = is_descending(metric)

    n_out = max(
        int(left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    # colocate each group's left rows BEFORE packing (guide §2.3 — shuffle
    # fewer bytes): the left side is queries x nprobe, scattered across
    # partitions, so without this every partition emits a mini-block per
    # probed cluster (32 partitions x 2048 clusters ≈ 62k blocks of ~5 rows
    # at the vec1m bench shape) and the grp equi-join then replicates each
    # corpus block once PER mini-block — ~30x the packed corpus (~8 GB)
    # through the kernel exchange, measured 9.6 s steady-state.  Hashing the
    # left by grp first packs ~one block per (grp, partition), so the join
    # replicates each corpus block ~once; the left shuffle itself is
    # bounded by the exploded query side (~90 MB at the bench shape).
    # Results are identical: blocks still partition each group's id set,
    # the kernel's per-(blk, grp) top-k is merged globally per left id by
    # merge_topk below, and blk stays content-derived (min of ids).
    lb = _pack_blocks(
        left.repartition(n_out, group_col),
        left_id, left_vec, block_rows, dtype, group_col, block_bytes=block_bytes
    )
    decode_free = right_sq8 is not None and resolve_metric(metric) == "L2"
    rb_df = _pack_blocks(
        right, right_id, right_vec, block_rows,
        np.int8 if decode_free else dtype, group_col,
        block_bytes=block_bytes, sq8=None if decode_free else right_sq8,
    )
    pairs = lb.join(
        rb_df.select(
            "grp",
            F.col("n").alias("rn"),
            F.col("ids").alias("rids"),
            F.col("vecs").alias("rvecs"),
        ),
        "grp",
    ).select("blk", "grp", "n", "ids", "vecs", "rn", "rids", "rvecs")
    np_t = np.float64 if f64 else np.float32
    pa_t = pa.float64() if f64 else pa.float32()
    score = _stream_topk_kernel(
        k, metric, metric_arg, desc, np_t, pa_t, has_grp=True,
        sq8=right_sq8 if decode_free else None,
    )
    dist_t = "double" if f64 else "float"
    partial = pairs.repartition(n_out, "blk", "grp").mapInArrow(
        score,
        schema=f"left_id bigint, rank int, right_id bigint, distance {dist_t}",
    )
    cand = partial.select(
        F.col("left_id").alias("qid"), F.col("right_id").alias("label"), "distance"
    )
    rname = right_id if right_id != left_id else f"{right_id}_right"
    return merge_topk(cand, k, metric).select(
        F.col("qid").alias(left_id), "rank", F.col("label").alias(rname), "distance"
    )


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
    rname = right_id if right_id != left_id else f"{right_id}_right"
    return merge_topk(scored, k, "COSINE").select(
        F.col("qid").alias(left_id),
        "rank",
        F.col("label").alias(rname),
        F.col("distance").cast("float").alias("distance"),
    )
