"""Scalar quantization (SQ8) for embedding columns — the storage lever a
100 TB corpus pulls before anything else: float32 embeddings at dim 1536
are 6 KB/row; SQ8 codes are 1.5 KB with ~0.2% reconstruction error, and
parquet/cache both store them byte-packed.

FAISS parity (Codec8bit, ScalarQuantizer QT_8bit — public FAISS source):
train learns per-dim [vmin, vmax] over a corpus/sample; encode clamps
x_norm = (x_j - vmin_j)/vdiff_j to [0, 1] then TRUNCATES
code_j = floor(255 * x_norm); decode reconstructs at the BIN CENTER
x̂_j = vmin_j + (code_j + 0.5)/255 * vdiff_j.  These are FAISS's exact
encode/decode formulas, so codes are interchangeable with FAISS-encoded
data; max per-dim error is half a bin, vdiff/510 (ADVICE r9: the previous
round-encode/edge-decode pair was self-consistent with the same bound but
not bit-compatible).  Each formula exists once, as a numpy kernel
(``sq8_encode_np`` / ``sq8_decode_np``): the DataFrame forms run it per
Arrow batch in one narrow mapInArrow, and the search kernels call it
directly, so every path stores and reads the same bits; train is one
narrow mapInArrow scan.

This is storage-layer tooling (beyond the reference, which has no SQ
factories in its test surface): compress an embeddings table at rest,
decode lazily in front of any search operator — brute-force, simjoin, or
an engine index fed by the decoded column.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, ByteType, FloatType, StructField, StructType

__all__ = [
    "sq8_train",
    "sq8_encode",
    "sq8_decode",
    "sq8_encode_np",
    "sq8_decode_np",
    "sq8_reconstruction_error",
    "sq8_affine",
    "sq8_rownorm",
    "sq8_l2_pairwise",
]


def sq8_encode_np(x: np.ndarray, vmin: np.ndarray, vdiff: np.ndarray) -> np.ndarray:
    """The one SQ8 encode: clamp x_norm to [0,1] in f64, truncating
    code = floor(255 * x_norm), STORED as int8 (code - 128); degenerate
    (vdiff <= 0) dims store -128 (decode = vmin, exact).  ``sq8_encode``
    runs it per Arrow batch (the decode twin is ``sq8_decode_np``)."""
    vmin = vmin.astype(np.float64)
    vdiff = vdiff.astype(np.float64)
    codes = np.clip(
        np.floor(
            (x.astype(np.float64) - vmin)
            / np.where(vdiff > 0, vdiff, 1.0)
            * 255.0
        ),
        0,
        255,
    )
    codes = np.where(vdiff > 0, codes, 0.0)
    return (codes - 128).astype(np.int8)


def sq8_decode_np(
    raw: np.ndarray, vmin: np.ndarray, vdiff: np.ndarray, dtype=np.float32
) -> np.ndarray:
    """The one SQ8 decode of STORED codes (int8, offset -128), shared by
    ``sq8_decode`` and every Arrow kernel (operators/topk.py,
    operators/simjoin.py): f64 math, then ONE round to ``dtype``.
    ``raw`` is (n, dim), any integer or float dtype holding the stored
    code values."""
    return (
        (raw.astype(np.float64) + 128.5) / 255.0 * vdiff.astype(np.float64)
        + vmin.astype(np.float64)
    ).astype(dtype)


def sq8_train(df: DataFrame, vec_col: str = "embedding") -> tuple:
    """Per-dimension (vmin, vdiff) float32 arrays learned from ``df`` —
    one narrow mapInArrow scan emitting O(dim) partial min/max rows per
    Arrow batch, combined driver-side (bounded by batches x dim rows).
    Null ROWS contribute nothing, null COMPONENTS count into n_all but not
    n, ragged rows surface as per-dim count gaps, NaN flags per dim; each
    defect raises its own ValueError (pinned by tests/test_quantize.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = ["j", "lo", "hi", "n", "n_all", "has_nan"]

    def partials(batches):
        for rb in batches:
            vcol = rb.column(0)
            lens = pc.fill_null(vcol.value_lengths(), 0).to_numpy()
            d = int(lens.max(initial=0))
            if d == 0:
                continue
            flat = vcol.flatten()
            x = flat.to_numpy(zero_copy_only=False)
            valid = ~vcol.is_null().to_numpy(zero_copy_only=False)
            if not flat.null_count and (lens[valid] == d).all():
                x = x.reshape(-1, d)
                lo, hi = x.min(0).astype(np.float64), x.max(0).astype(np.float64)
                n = n_all = np.full(d, len(x))
                has_nan = np.isnan(x).any(0)
            else:
                # ragged rows or null components: per-element dim positions
                pos = np.arange(len(x)) - np.repeat(np.cumsum(lens) - lens, lens)
                null = flat.is_null().to_numpy(zero_copy_only=False)
                ok = ~np.isnan(x)
                n_all = np.bincount(pos, minlength=d)
                n = np.bincount(pos[~null], minlength=d)
                has_nan = np.bincount(pos[~ok & ~null], minlength=d) > 0
                lo, hi = np.full(d, np.inf), np.full(d, -np.inf)
                np.minimum.at(lo, pos[ok], x[ok])
                np.maximum.at(hi, pos[ok], x[ok])
            cols = [np.arange(d), lo, hi, n, n_all, has_nan]
            yield pa.RecordBatch.from_arrays([pa.array(c) for c in cols], names=names)

    t = (
        df.select(F.col(vec_col).cast("array<float>").alias(vec_col))
        .mapInArrow(
            partials,
            schema="j bigint, lo double, hi double, n bigint, n_all bigint, "
            "has_nan boolean",
        )
        .toArrow()
    )
    if not t.num_rows:
        # explicit instead of max()-of-empty (ADVICE r9): empty frame,
        # all-null column, or a non-array column all land here
        raise ValueError(
            f"sq8_train: no vector values found in column {vec_col!r} "
            "(empty DataFrame or all-null column)"
        )
    j = t["j"].to_numpy()
    dim = int(j.max()) + 1
    lo, hi = np.full(dim, np.inf), np.full(dim, -np.inf)
    np.fmin.at(lo, j, t["lo"].to_numpy())
    np.fmax.at(hi, j, t["hi"].to_numpy())
    n, n_all, has_nan = (
        np.bincount(j, t[c].to_numpy().astype(np.int64), dim).astype(np.int64)
        for c in ("n", "n_all", "has_nan")
    )
    # NaN poisons the range silently otherwise (ADVICE r10): one NaN
    # component would corrupt that dim's vdiff and every later encode/decode
    nan_dims = np.flatnonzero(has_nan).tolist()
    if nan_dims:
        raise ValueError(
            f"sq8_train: NaN vector components in column {vec_col!r} at "
            f"dims {nan_dims[:8]}{'...' if len(nan_dims) > 8 else ''}; "
            "filter or impute them before training"
        )
    # null elements inside fixed-length vectors are a DIFFERENT defect
    # than ragged lengths (ADVICE r10): a gap between n and n_all names it
    null_dims = np.flatnonzero(n != n_all).tolist()
    if null_dims:
        raise ValueError(
            f"sq8_train: null vector components in column {vec_col!r} at "
            f"dims {null_dims[:8]}{'...' if len(null_dims) > 8 else ''}; "
            "SQ8 needs fully-populated vectors"
        )
    if n_all.min() != n_all.max():
        raise ValueError(
            f"sq8_train: ragged vectors in column {vec_col!r} — per-dim "
            f"value counts differ ({n_all.min()}..{n_all.max()} across "
            f"{dim} dims); SQ8 needs a fixed dimension"
        )
    # degenerate (constant) dims keep vdiff 0 -> every code 0, exact
    return lo.astype(np.float32), (hi - lo).astype(np.float32)


def _sq8_map(
    df: DataFrame, in_col: str, out_col: str, out_type, kernel, dim: int, what: str
) -> DataFrame:
    """``df`` with ``in_col`` replaced by ``out_col`` = ``kernel`` of each
    Arrow batch's (n, dim) matrix, in 4096-row blocks: one narrow
    mapInArrow.  The other columns ride through untouched (as
    ``pq_encode``'s ``keep_cols``) and a NULL row maps to NULL; a ragged
    row, a NULL element or a NaN raises ValueError."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keep = [f for f in df.schema.fields if f.name not in (in_col, out_col)]
    names = [f.name for f in keep] + [out_col]
    out_np = np.int8 if isinstance(out_type, ByteType) else np.float32

    def run(batches):
        for rb in batches:
            col = rb.column(len(keep))
            lens = pc.fill_null(col.value_lengths(), dim).to_numpy()
            if (lens != dim).any():
                raise ValueError(
                    f"{what}: ragged vectors in column {in_col!r} — expected "
                    f"{dim} values per row, found {int(lens[lens != dim][0])}; "
                    "SQ8 needs a fixed dimension"
                )
            vals = col.flatten()
            if vals.null_count:
                raise ValueError(
                    f"{what}: null vector components in column {in_col!r}; "
                    "SQ8 needs fully-populated vectors"
                )
            x = vals.to_numpy(zero_copy_only=False).reshape(-1, dim)
            nan_dims = np.flatnonzero(np.isnan(x).any(0)).tolist()
            if nan_dims:
                raise ValueError(
                    f"{what}: NaN vector components in column {in_col!r} at "
                    f"dims {nan_dims[:8]}{'...' if len(nan_dims) > 8 else ''}; "
                    "filter or impute them first"
                )
            out = np.empty(x.shape, out_np)
            for i in range(0, len(x), 4096):
                out[i : i + 4096] = kernel(x[i : i + 4096])
            valid = ~col.is_null().to_numpy(zero_copy_only=False)
            offsets = np.concatenate([[0], np.cumsum(valid * dim)])
            codec = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32)),
                pa.array(out.ravel()),
                mask=pa.array(~valid) if col.null_count else None,
            )
            yield pa.RecordBatch.from_arrays(
                rb.columns[: len(keep)] + [codec], names=names
            )

    return df.select(*[f.name for f in keep], in_col).mapInArrow(
        run, StructType(keep + [StructField(out_col, ArrayType(out_type))])
    )


def sq8_encode(
    df: DataFrame,
    vmin: np.ndarray,
    vdiff: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """float32 vector -> array<tinyint> codes (stored code - 128 so the
    unsigned 0..255 range fits Spark's signed byte), ``sq8_encode_np`` per
    Arrow batch."""
    return _sq8_map(
        df, vec_col, out_col, ByteType(),
        lambda x: sq8_encode_np(x, vmin, vdiff), len(vmin), "sq8_encode",
    )


def sq8_decode(
    df: DataFrame,
    vmin: np.ndarray,
    vdiff: np.ndarray,
    codes_col: str = "codes",
    out_col: str = "embedding",
) -> DataFrame:
    """array<tinyint> codes -> float32 vector at the bin center,
    ``sq8_decode_np`` per Arrow batch."""
    return _sq8_map(
        df, codes_col, out_col, FloatType(),
        lambda c: sq8_decode_np(c, vmin, vdiff), len(vmin), "sq8_decode",
    )


def sq8_reconstruction_error(vmin: np.ndarray, vdiff: np.ndarray) -> float:
    """Worst-case per-dimension absolute error: half a quantization step."""
    return float((vdiff / 255.0 / 2.0).max())


def sq8_affine(vmin: np.ndarray, vdiff: np.ndarray) -> tuple:
    """(a, b) float64 such that the decoded value x̂ = a + b * code for
    STORED codes (int8, offset -128): b = vdiff/255, a = vmin + 128.5*b —
    exactly ``sq8_decode_np``'s f64 expression regrouped."""
    b = vdiff.astype(np.float64) / 255.0
    a = vmin.astype(np.float64) + 128.5 * b
    return a, b


def sq8_rownorm(codes: np.ndarray, vmin: np.ndarray, vdiff: np.ndarray) -> np.ndarray:
    """||x̂||² per code row in exact float64 (no decode materialization):
    (b²)·c² + 2(ab)·c + a·a.  One squaring pass + two matvecs — the
    query-independent half of the decode-free L2 expansion; precompute it
    once per batch/block and reuse across every query."""
    a, b = sq8_affine(vmin, vdiff)
    cf = np.ascontiguousarray(codes, dtype=np.float64)
    return (cf * cf) @ (b * b) + cf @ (2.0 * a * b) + float(np.dot(a, a))


def sq8_l2_pairwise(
    q: np.ndarray,
    codes: np.ndarray,
    vmin: np.ndarray,
    vdiff: np.ndarray,
    rownorm: "np.ndarray | None" = None,
    dtype: type = np.float32,
) -> np.ndarray:
    """Decode-free squared L2 between float queries (nq, d) and SQ8 codes
    (n, d stored int8 values): with x̂ = a + b∘c,

        L2²(q, x̂) = ||q||² − 2 q·a + ||x̂||² − 2 (q∘b)·c

    — one f64 gemm over the cast codes plus broadcast adds; no (n, d)
    float decode materialization, no per-batch norm pass when ``rownorm``
    (``sq8_rownorm``) is supplied.  Measured 10.3x the decode path in the
    sparse-probing regime and 4.6x dense at 1M x 1536 (SCALE.md r12,
    tools/sq8_decodefree_probe.py).

    Numeric contract: distances are the exact-f64 expansion of the EXACT
    decoded values, NOT of their float32 rounding — they differ from the
    decode path in low-order bits (more accurate; the probe measured
    512/512 k=10 rank agreement on a near-tie mog corpus).  ALL SQ8 L2
    scan paths must route through this one function so driver and bulk
    plans stay result-identical."""
    a, b = sq8_affine(vmin, vdiff)
    qd = np.ascontiguousarray(q, dtype=np.float64)
    cf = np.ascontiguousarray(codes, dtype=np.float64)
    if rownorm is None:
        rownorm = sq8_rownorm(cf, vmin, vdiff)
    qq = np.einsum("ij,ij->i", qd, qd)
    qa = qd @ a
    cross = (qd * b) @ cf.T
    d = (qq - 2.0 * qa)[:, None] + rownorm[None, :] - 2.0 * cross
    return np.maximum(d, 0.0).astype(dtype, copy=False)
