"""Seeded inputs and driver-side ground truth.

Every input is drawn from ``numpy.random.default_rng`` streams derived from
the run's seed, so the same seed gives the same frames. The program only
ever sees the Spark frames built here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def mixture(rng, centers: np.ndarray, n: int, sigma: float) -> np.ndarray:
    """``n`` float32 points, each a random center plus Gaussian noise."""
    pick = rng.integers(0, len(centers), n)
    noise = rng.standard_normal((n, centers.shape[1]), dtype=np.float32)
    return (centers[pick] + sigma * noise).astype(np.float32)


def vec_frame(spark, ids, vecs: np.ndarray, id_col: str, vec_col: str):
    pdf = pd.DataFrame({id_col: np.asarray(ids, dtype=np.int64), vec_col: list(vecs)})
    return spark.createDataFrame(pdf, f"{id_col} bigint, {vec_col} array<float>")


def sq_l2(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(nq, n) squared L2 distances in float64."""
    qd, xd = q.astype(np.float64), x.astype(np.float64)
    d = (qd * qd).sum(1)[:, None] + (xd * xd).sum(1)[None, :] - 2.0 * (qd @ xd.T)
    return np.maximum(d, 0.0)


def rows_by_qid(rows, qid_col: str = "qid", label_col: str = "label"):
    """{qid: (labels, distances)} in rank order from flat result rows."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[qid_col], r["rank"])):
        out.setdefault(r[qid_col], []).append((r[label_col], r["distance"]))
    return {
        q: (np.array([l for l, _ in v], dtype=np.int64), np.array([d for _, d in v]))
        for q, v in out.items()
    }


def topk_matches(labels, dists, d_all: np.ndarray, k: int) -> bool:
    """True when (labels, dists) is the exact top-k of ``d_all`` (distances
    indexed by label; ``inf`` marks rows outside the allowed set), ordered by
    (distance, label) up to float32 rounding: rows within the tolerance of
    the k-th distance are ties and may be swapped."""
    finite = np.flatnonzero(np.isfinite(d_all))
    kk = min(k, len(finite))
    if len(labels) != kk or len(set(labels.tolist())) != kk:
        return False
    if kk == 0:
        return True
    order = finite[np.lexsort((finite, d_all[finite]))][:kk]
    kth = d_all[order[-1]]
    tol = 1e-4 * max(1.0, kth)
    if labels.min() < 0 or labels.max() >= len(d_all):
        return False
    true_d = d_all[labels]
    if not np.all(np.isfinite(true_d)) or np.any(np.abs(true_d - dists) > tol):
        return False
    if np.any(true_d > kth + tol) or np.any(np.diff(dists) < -tol):
        return False
    must = order[d_all[order] < kth - tol]
    return set(must.tolist()) <= set(labels.tolist())


def recall(labels, d_all: np.ndarray, k: int) -> float:
    finite = np.flatnonzero(np.isfinite(d_all))
    kk = min(k, len(finite))
    truth = finite[np.lexsort((finite, d_all[finite]))][:kk]
    return len(set(truth.tolist()) & set(labels.tolist())) / max(kk, 1)


def same_topk(a, b) -> bool:
    """Two (labels, distances) results agree up to ties at the k-th place."""
    (la, da), (lb, db) = a, b
    if np.array_equal(la, lb):
        return True
    if len(la) != len(lb) or len(la) == 0:
        return False
    tol = 1e-4 * max(1.0, float(max(da[-1], db[-1])))
    if np.any(np.abs(np.asarray(da) - np.asarray(db)) > tol):
        return False
    below = da < min(da[-1], db[-1]) - tol
    return set(la[below].tolist()) == set(lb[db < min(da[-1], db[-1]) - tol].tolist())
