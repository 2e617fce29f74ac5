"""The reference's 9 distance metrics as vectorized numpy kernels.

Metric table mirrors /root/reference/src/faiss_extension.cpp:58-68 and the
FAISS conventions the engine must reproduce (SURVEY.md §1.3):

- ``L2`` is SQUARED Euclidean (no sqrt).
- ``INNER_PRODUCT`` and ``Jaccard`` are similarities: results sorted
  DESCENDING; every other metric sorts ascending.
- all math in float32 on the fast path (ListVectorToFaiss casts to float,
  faiss_extension.cpp:292-293).

Kernels take ``Q`` (nq, d) and ``X`` (n, d) float32 arrays and return an
(nq, n) score matrix.  Pairwise metrics that cannot be expressed as a matmul
are computed with broadcasting; chunk the corpus axis upstream if n*d is big
(the search kernels' ``mapInArrow`` batches feed Arrow-batch-sized ``X``).

Top-k has one selector per level: ``topk_indices`` picks each batch's
top-k and ``merge_running_topk`` folds a block's top-k into a running one;
both break score ties by the smaller label.
"""

from __future__ import annotations

import numpy as np

from duckdb_faiss_ext_spark.errors import InvalidMetric

DEFAULT_METRIC = "INNER_PRODUCT"  # faiss_extension.cpp:105


def _ip(q: np.ndarray, x: np.ndarray, arg: float) -> np.ndarray:
    return q @ x.T


def _l2(q: np.ndarray, x: np.ndarray, arg: float) -> np.ndarray:
    # squared L2 via the expansion, accumulated in float64: the float32
    # expansion cancels catastrophically (||q||^2+||x||^2-2qx loses ~eps*|v|^2
    # absolute accuracy — a self-distance came out 4e-3 at |v|~75), while
    # float64 keeps error ~1e-11 at the same BLAS cost; result cast back
    qd = q.astype(np.float64)
    xd = x.astype(np.float64)
    qq = np.einsum("ij,ij->i", qd, qd)[:, None]
    xx = np.einsum("ij,ij->i", xd, xd)[None, :]
    d = qq + xx - 2.0 * (qd @ xd.T)
    return np.maximum(d, 0.0)


def _diff(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    return q[:, None, :] - x[None, :, :]


def _l1(q, x, arg):
    return np.abs(_diff(q, x)).sum(axis=2)


def _linf(q, x, arg):
    return np.abs(_diff(q, x)).max(axis=2)


def _lp(q, x, arg):
    # FAISS METRIC_Lp accumulates |x-y|^p without the 1/p root
    p = arg if arg and arg > 0 else 2.0
    return (np.abs(_diff(q, x)) ** p).sum(axis=2)


def _canberra(q, x, arg):
    num = np.abs(_diff(q, x))
    den = np.abs(q)[:, None, :] + np.abs(x)[None, :, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(den > 0, num / den, 0.0)
    return t.sum(axis=2)


def _braycurtis(q, x, arg):
    num = np.abs(_diff(q, x)).sum(axis=2)
    den = np.abs(q[:, None, :] + x[None, :, :]).sum(axis=2)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, num / den, 0.0)


def _jensenshannon(q, x, arg):
    # FAISS fvec_jensen_shannon: 0.5 * sum(kl(x|m) + kl(y|m)), m = (x+y)/2
    qb = q[:, None, :]
    xb = x[None, :, :]
    m = 0.5 * (qb + xb)
    with np.errstate(divide="ignore", invalid="ignore"):
        t1 = np.where(qb > 0, qb * np.log(qb / m), 0.0)
        t2 = np.where(xb > 0, xb * np.log(xb / m), 0.0)
    return 0.5 * (t1 + t2).sum(axis=2)


def _cosine(q, x, arg):
    # beyond-reference metric (FAISS expects normalize-then-IP; training-data
    # pipelines want cosine directly).  Norms in float64 for stability.
    qd = q.astype(np.float64)
    xd = x.astype(np.float64)
    qn = np.linalg.norm(qd, axis=1)[:, None]
    xn = np.linalg.norm(xd, axis=1)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(qn * xn > 0, (qd @ xd.T) / (qn * xn), 0.0)


def _jaccard(q, x, arg):
    num = np.minimum(q[:, None, :], x[None, :, :]).sum(axis=2)
    den = np.maximum(q[:, None, :], x[None, :, :]).sum(axis=2)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, num / den, 0.0)


# name -> (kernel, descending?)  — faiss_extension.cpp:58-68; descending set is
# FAISS is_similarity_metric (INNER_PRODUCT, Jaccard).
METRICS: dict[str, tuple] = {
    "INNER_PRODUCT": (_ip, True),
    "L2": (_l2, False),
    "L1": (_l1, False),
    "Linf": (_linf, False),
    "Lp": (_lp, False),
    "Canberra": (_canberra, False),
    "BrayCurtis": (_braycurtis, False),
    "JensenShannon": (_jensenshannon, False),
    "Jaccard": (_jaccard, True),
    # beyond the reference's table (faiss_extension.cpp:58-68): direct cosine,
    # used by the LSH ANN path and cosine near-dup ops
    "COSINE": (_cosine, True),
}


def resolve_metric(name: str | None) -> str:
    if name is None:
        return DEFAULT_METRIC
    if name not in METRICS:
        raise InvalidMetric(name)
    return name


def is_descending(metric: str) -> bool:
    return METRICS[resolve_metric(metric)][1]


def pairwise(
    q: np.ndarray,
    x: np.ndarray,
    metric: str,
    metric_arg: float = 0.0,
    dtype: type = np.float32,
) -> np.ndarray:
    """(nq, n) score matrix, FAISS conventions.  float32 (FAISS parity) by
    default; float64 for double-precision oracle-parity paths."""
    kernel, _ = METRICS[resolve_metric(metric)]
    q = np.ascontiguousarray(q, dtype=dtype)
    x = np.ascontiguousarray(x, dtype=dtype)
    return kernel(q, x, metric_arg).astype(dtype, copy=False)


def _sortable_u32(v32: np.ndarray) -> np.ndarray:
    """IEEE float32 -> uint32 preserving total order (ascending)."""
    u = v32.view(np.uint32)
    return np.where(u >> 31 == 1, ~u, u | np.uint32(0x80000000))


def topk_indices(
    scores: np.ndarray, k: int, descending: bool, labels: np.ndarray = None
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k (indices, scores), ties broken by the smaller label of
    the score column — FAISS's id tie-break (SURVEY.md §7 known-hard #5),
    the order ``merge_topk`` ranks in, whatever order the physical layout
    put the rows in.  ``labels=None`` means the column index is the id
    (e.g. a centroid id), so ties keep the smaller index.

    float32 fast path: pack (sortable-score, tie rank) into one uint64 key,
    then argpartition + small sort — O(n + k log k) per row with the EXACT
    same tie-break as a stable sort (keys are unique, so the boundary-tie
    ambiguity that rules out a plain argpartition cannot occur).  A full
    stable argsort here was the dominant per-batch cost at the 4M probe
    (285 ms of 300 ms).  -0.0 is normalized to +0.0 first so signed zeros
    stay ties (as float comparison treats them) instead of ordering by sign
    bit.  Other dtypes (the float64 oracle-parity path) keep the stable sort.
    """
    n = scores.shape[1]
    kk = min(k, n)
    rows = np.arange(scores.shape[0])[:, None]
    # label order only when the labels are unsorted: sorted labels tie-break
    # exactly like the column index, without the argsort
    order = None
    if labels is not None and (labels[1:] < labels[:-1]).any():
        order = np.argsort(labels, kind="stable")
    # NaN scores sort WORST in both paths (the bit-inverted fast-path key
    # would otherwise rank NaN first for descending metrics while the stable
    # argsort ranks it last — one NaN corpus row could then evict a real
    # candidate).  Compare on a NaN-normalized copy; return original scores.
    worst = -np.inf if descending else np.inf
    cmp = scores
    if np.isnan(scores).any():
        cmp = np.where(np.isnan(scores), np.asarray(worst, dtype=scores.dtype), scores)
    if scores.dtype == np.float32 and n > 4 * kk and n < (1 << 32):
        s = np.ascontiguousarray(cmp + np.float32(0.0))  # -0.0 -> +0.0
        key32 = _sortable_u32(s)
        if descending:
            key32 = ~key32
        tie = np.arange(n, dtype=np.uint64)
        if order is not None:
            tie[order] = tie.copy()
        key = (key32.astype(np.uint64) << np.uint64(32)) | tie[None, :]
        part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        idx = part[rows, np.argsort(key[rows, part], axis=1)]
        return idx, scores[rows, idx]
    keys = -cmp if descending else cmp
    if order is None:
        idx = np.argsort(keys, axis=1, kind="stable")[:, :kk]
    else:
        idx = order[np.argsort(keys[:, order], axis=1, kind="stable")[:, :kk]]
    return idx, scores[rows, idx]


def merge_running_topk(
    ids: np.ndarray,
    scores: np.ndarray,
    new_ids: np.ndarray,
    new_scores: np.ndarray,
    k: int,
    descending: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Fold one block's per-row top-k (``new_ids``, ``new_scores``) into a
    running per-row top-k (``ids``/``scores``, None before the first
    block): the streaming join kernels keep O(rows * k) state while right
    blocks stream past, and the graph kernel cuts each beam to k with
    ``ids=None``.  The ids differ per row, so the tie-break (score, then id
    ascending) is one row-wise lexsort."""
    if ids is not None:
        new_ids = np.concatenate([ids, new_ids], axis=1)
        new_scores = np.concatenate([scores, new_scores], axis=1)
    key = -new_scores if descending else new_scores
    order = np.lexsort((new_ids, key), axis=1)[:, :k]
    rows = np.arange(new_ids.shape[0])[:, None]
    return new_ids[rows, order], new_scores[rows, order]


def kmeans(
    x: np.ndarray,
    k: int,
    rng: np.random.Generator,
    iters: int,
    weights: np.ndarray = None,
    spherical: bool = False,
) -> np.ndarray:
    """(min(k, n), d) float32 centres of a small driver-side k-means: the
    one fitter for the IVF fit's seed set, both rebalance splits and the
    PQ codebooks (FAISS trains them all through one ``Clustering``).

    Weighted D² (k-means++) seeding by cumsum inversion, then ``iters``
    weighted Lloyd passes in float64 under squared L2 (sort + ``reduceat``
    means).  A centre whose cluster is empty stays where it is.
    ``weights`` defaults to 1 per row.  ``spherical`` unit-normalizes the
    centres after every mean update, as FAISS's spherical option does:
    centres that will take rows by an INNER_PRODUCT/COSINE argmax must
    have equal norms, or the largest-norm one takes (nearly) every row."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    k = min(k, n)
    w = np.ones(n) if weights is None else np.asarray(weights, dtype=np.float64)
    cents = np.empty((k, x.shape[1]), dtype=np.float64)
    xn = (x**2).sum(1)

    def d2_to(c):
        # ||x||^2 - 2 x.c + ||c||^2: one matvec per seed, not an (n, d)
        # temporary; clamped, since cancellation can dip just below 0
        return np.maximum(xn - 2.0 * (x @ c) + c @ c, 0.0)

    cw = np.cumsum(w)
    i0 = int(np.searchsorted(cw, rng.random() * cw[-1]))
    cents[0] = x[min(i0, n - 1)]
    cd2 = d2_to(cents[0])
    for j in range(1, k):
        probs = np.cumsum(cd2 * w)
        p = (
            int(np.searchsorted(probs, rng.random() * probs[-1]))
            if probs[-1] > 0
            else int(rng.integers(n))
        )
        cents[j] = x[min(p, n - 1)]
        cd2 = np.minimum(cd2, d2_to(cents[j]))
    xn = xn[:, None]
    for _ in range(iters):
        d2 = xn - 2.0 * (x @ cents.T) + (cents**2).sum(1)[None, :]
        lab = d2.argmin(1)
        order = np.argsort(lab, kind="stable")
        sl = lab[order]
        starts = np.concatenate(([0], np.flatnonzero(np.diff(sl)) + 1))
        sums = np.add.reduceat(x[order] * w[order, None], starts, axis=0)
        cnts = np.add.reduceat(w[order], starts)
        ids = sl[starts]
        ok = cnts > 0
        cents[ids[ok]] = sums[ok] / cnts[ok][:, None]
        if spherical:
            nrm = np.sqrt((cents**2).sum(1, keepdims=True))
            np.divide(cents, nrm, out=cents, where=nrm > 0)
    return cents.astype(np.float32)


def nearest_centroid(
    x: np.ndarray, cents: np.ndarray, metric: str, metric_arg: float = 0.0
) -> np.ndarray:
    """(n,) int32 id of each row's best centroid under ``metric`` — FAISS
    coarse quantization, with ``topk_indices``' lowest-id tie-break.  Rows
    are scored in chunks so the (rows, nlist) score temp stays ~<=64 MB: a
    64k-row Arrow batch at nlist=4096 is a >1 GB matrix per worker, which
    tripped the host's OOM at the 16M/4096 probe (SCALE.md r9).  Only the
    per-row best is kept, so chunking changes nothing numerically."""
    desc = is_descending(metric)
    step = max(256, int(64e6 // (max(len(cents), 1) * 4)))
    out = np.empty(len(x), dtype=np.int32)
    for s in range(0, len(x), step):
        scores = pairwise(x[s : s + step], cents, metric, metric_arg)
        ids, _ = topk_indices(scores, 1, desc)
        out[s : s + step] = ids[:, 0]
    return out
