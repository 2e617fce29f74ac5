import ast
from pathlib import Path

import numpy as np
import pytest

import duckdb_faiss_ext_spark
from duckdb_faiss_ext_spark.errors import InvalidMetric
from duckdb_faiss_ext_spark.metrics import (
    METRICS,
    is_descending,
    kmeans,
    merge_running_topk,
    pairwise,
    resolve_metric,
    topk_indices,
)


def test_metric_table_matches_reference():
    # faiss_extension.cpp:58-68 — the 9 supported metric names must all be
    # present; COSINE is a documented beyond-reference addition
    assert set(METRICS) == {
        "INNER_PRODUCT",
        "L2",
        "L1",
        "Linf",
        "Lp",
        "Canberra",
        "BrayCurtis",
        "JensenShannon",
        "Jaccard",
        "COSINE",
    }
    assert resolve_metric(None) == "INNER_PRODUCT"  # default, :105
    assert is_descending("INNER_PRODUCT") and is_descending("Jaccard")
    assert is_descending("COSINE")
    assert not is_descending("L2")


def test_cosine_kernel():
    q = np.array([[1.0, 0.0], [1.0, 1.0]], dtype=np.float32)
    x = np.array([[2.0, 0.0], [0.0, 3.0], [0.0, 0.0]], dtype=np.float32)
    s = pairwise(q, x, "COSINE", dtype=np.float64)
    assert abs(s[0, 0] - 1.0) < 1e-12  # parallel
    assert abs(s[0, 1]) < 1e-12  # orthogonal
    assert s[0, 2] == 0.0  # zero vector -> defined as 0
    assert abs(s[1, 1] - np.sqrt(0.5)) < 1e-12


def test_unknown_metric_raises():
    with pytest.raises(InvalidMetric):
        resolve_metric("NOT_A_METRIC")  # faiss6.test:7-10


def test_l2_is_squared():
    q = np.array([[0.0, 0.0]], dtype=np.float32)
    x = np.array([[3.0, 4.0]], dtype=np.float32)
    assert pairwise(q, x, "L2")[0, 0] == pytest.approx(25.0)  # not 5.0


def test_inner_product():
    q = np.array([[1.0, 2.0]], dtype=np.float32)
    x = np.array([[3.0, 4.0], [1.0, 0.0]], dtype=np.float32)
    s = pairwise(q, x, "INNER_PRODUCT")
    assert s[0, 0] == pytest.approx(11.0) and s[0, 1] == pytest.approx(1.0)


def test_l1_linf_lp():
    q = np.array([[0.0, 0.0]], dtype=np.float32)
    x = np.array([[1.0, -2.0]], dtype=np.float32)
    assert pairwise(q, x, "L1")[0, 0] == pytest.approx(3.0)
    assert pairwise(q, x, "Linf")[0, 0] == pytest.approx(2.0)
    assert pairwise(q, x, "Lp", 3.0)[0, 0] == pytest.approx(1 + 8.0)


def test_jaccard_canberra_braycurtis():
    q = np.array([[1.0, 2.0]], dtype=np.float32)
    x = np.array([[2.0, 1.0]], dtype=np.float32)
    assert pairwise(q, x, "Jaccard")[0, 0] == pytest.approx(2.0 / 4.0)
    assert pairwise(q, x, "Canberra")[0, 0] == pytest.approx(1 / 3 + 1 / 3)
    assert pairwise(q, x, "BrayCurtis")[0, 0] == pytest.approx(2.0 / 6.0)


def test_jensenshannon_zero_for_identical():
    q = np.array([[0.5, 0.5]], dtype=np.float32)
    assert pairwise(q, q, "JensenShannon")[0, 0] == pytest.approx(0.0, abs=1e-6)


def test_topk_ties_break_by_index():
    scores = np.array([[1.0, 2.0, 2.0, 0.5]], dtype=np.float32)
    idx, sc = topk_indices(scores, 2, descending=True)
    assert idx.tolist() == [[1, 2]]  # tie on 2.0 -> smaller index first
    idx, _ = topk_indices(scores, 2, descending=False)
    assert idx.tolist() == [[3, 0]]


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_topk_ties_break_by_label(dtype):
    """``labels=``: a tie keeps the smaller label, wherever its column sits
    — on the float32 composite-key path (n > 4k) and the stable-sort path."""
    scores = np.zeros((2, 12), dtype=dtype)
    scores[1, :] = np.arange(12)
    labels = np.array([40, 30, 20, 10] + list(range(101, 109)))
    for desc in (True, False):
        idx, _ = topk_indices(scores, 2, desc, labels=labels)
        assert labels[idx[0]].tolist() == [10, 20]
        assert idx[1].tolist() == ([11, 10] if desc else [0, 1])
    # sorted labels tie-break exactly like the column index
    idx, _ = topk_indices(scores, 2, True, labels=np.arange(12) * 3)
    assert idx[0].tolist() == [0, 1]
    # the short path (n <= 4k) keeps the same label order
    idx, _ = topk_indices(scores[:, :4], 3, False, labels=labels[:4])
    assert labels[idx[0]].tolist() == [10, 20, 30]


def test_merge_running_topk_keeps_smaller_ids():
    ids, sc = merge_running_topk(
        None, None, np.array([[40, 7]]), np.array([[0.0, 1.0]]), 2, False
    )
    assert ids.tolist() == [[40, 7]]
    ids, sc = merge_running_topk(
        ids, sc, np.array([[10, 3]]), np.array([[0.0, 5.0]]), 2, False
    )
    assert ids.tolist() == [[10, 40]] and sc.tolist() == [[0.0, 0.0]]
    ids, _ = merge_running_topk(ids, sc, np.array([[2]]), np.array([[9.0]]), 2, True)
    assert ids.tolist() == [[2, 10]]


def test_topk_k_larger_than_n():
    scores = np.array([[3.0, 1.0]], dtype=np.float32)
    idx, sc = topk_indices(scores, 5, descending=True)
    assert idx.shape == (1, 2) and idx.tolist() == [[0, 1]]


def test_topk_nan_scores_never_win():
    """ADVICE r1: NaN scores must sort WORST in both the uint64 fast path
    (which bit-inverted NaN to the largest descending key) and the stable
    argsort fallback, so a NaN corpus row can never evict a real candidate."""
    rng = np.random.default_rng(7)
    for desc in (True, False):
        # fast path: float32, n >> 4k
        s = rng.standard_normal((3, 100)).astype(np.float32)
        s[:, 10] = np.nan
        idx, _ = topk_indices(s, 5, desc)
        assert not (idx == 10).any()
        # fallback path: float64
        s64 = s.astype(np.float64)
        idx64, _ = topk_indices(s64, 5, desc)
        assert not (idx64 == 10).any()
        assert np.array_equal(idx, idx64)


def test_topk_all_nan_row():
    s = np.full((1, 50), np.nan, dtype=np.float32)
    idx, sc = topk_indices(s, 3, True)
    # k slots are still returned (all NaN); downstream isfinite-drop removes them
    assert idx.shape == (1, 3)
    assert np.isnan(sc).all()


# ---------------------------------------------------------------- kmeans


def test_kmeans_same_seed_same_centres():
    x = np.random.default_rng(0).standard_normal((300, 6))
    a = kmeans(x, 8, np.random.default_rng(5), 10)
    b = kmeans(x, 8, np.random.default_rng(5), 10)
    assert a.dtype == np.float32 and a.shape == (8, 6)
    np.testing.assert_array_equal(a, b)


def test_kmeans_integer_weights_match_repeated_rows():
    # small integers keep every sum exact, so weighting a row by w and
    # repeating it w times must give the same seeds AND the same Lloyd means
    rng = np.random.default_rng(1)
    x = rng.integers(0, 20, (40, 3)).astype(np.float64)
    w = rng.integers(1, 5, 40)
    rep = np.repeat(x, w, axis=0)
    for iters in (0, 6):
        a = kmeans(x, 5, np.random.default_rng(7), iters, weights=w)
        b = kmeans(rep, 5, np.random.default_rng(7), iters)
        np.testing.assert_array_equal(a, b)
    # the Lloyd passes moved the seeds, so the update itself was compared
    seeds = kmeans(x, 5, np.random.default_rng(7), 0, weights=w)
    assert not np.array_equal(seeds, a)


def test_kmeans_spherical_unit_norm():
    x = np.random.default_rng(2).standard_normal((200, 8)) * 3.0 + 1.0
    c = kmeans(x, 6, np.random.default_rng(0), 5, spherical=True)
    np.testing.assert_allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-6)
    plain = kmeans(x, 6, np.random.default_rng(0), 5)
    assert not np.allclose(np.linalg.norm(plain, axis=1), 1.0, atol=1e-3)


def test_kmeans_clamps_k_to_n():
    x = np.random.default_rng(3).standard_normal((3, 4)).astype(np.float32)
    c = kmeans(x, 10, np.random.default_rng(0), 4)
    assert c.shape == (3, 4) and c.dtype == np.float32
    # one centre per row: each row is its own cluster's mean
    np.testing.assert_allclose(np.sort(c, axis=0), np.sort(x, axis=0), atol=1e-6)


def test_kmeans_recovers_planted_blobs():
    rng = np.random.default_rng(4)
    centers = rng.choice([-10.0, 10.0], size=(6, 5))
    centers[:, 0] = np.arange(6) * 20.0  # all six distinct and far apart
    x = np.vstack([c + 0.2 * rng.standard_normal((80, 5)) for c in centers])
    c = kmeans(x, 6, np.random.default_rng(9), 10)
    d = ((centers[:, None, :] - c[None, :, :]) ** 2).sum(2)
    # a one-to-one match, each fitted centre within the blob's noise
    assert sorted(d.argmin(1)) == list(range(6))
    assert d.min(1).max() < 0.1


def _kmeans_elementwise(x, k, rng, iters, weights=None):
    """``kmeans`` as it was before its D² seeding took the expansion form:
    each seed's distances were an elementwise ``((x - c) ** 2).sum(1)``."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    w = np.ones(n) if weights is None else np.asarray(weights, dtype=np.float64)
    cents = np.empty((k, x.shape[1]))
    cw = np.cumsum(w)
    cents[0] = x[min(int(np.searchsorted(cw, rng.random() * cw[-1])), n - 1)]
    cd2 = ((x - cents[0]) ** 2).sum(1)
    for j in range(1, k):
        probs = np.cumsum(cd2 * w)
        p = int(np.searchsorted(probs, rng.random() * probs[-1]))
        cents[j] = x[min(p, n - 1)]
        cd2 = np.minimum(cd2, ((x - cents[j]) ** 2).sum(1))
    for _ in range(iters):
        lab = _labels(x, cents)
        for c in range(k):
            sel = lab == c
            if sel.any():
                cents[c] = (x[sel] * w[sel, None]).sum(0) / w[sel].sum()
    return cents.astype(np.float32)


def _labels(x, cents):
    x, cents = np.asarray(x, np.float64), np.asarray(cents, np.float64)
    return ((x**2).sum(1)[:, None] - 2.0 * x @ cents.T + (cents**2).sum(1)).argmin(1)


def _agreement(a, b, k):
    """Share of rows with the same label after a greedy one-to-one matching
    of the two fits' cluster ids."""
    table = np.zeros((k, k), dtype=np.int64)
    np.add.at(table, (a, b), 1)
    hit = 0
    while table.max() > 0:
        i, j = np.unravel_index(table.argmax(), table.shape)
        hit += table[i, j]
        table[i, :] = -1
        table[:, j] = -1
    return hit / len(a)


def _fit_inputs():
    """(name, x, k, iters, weights): the serve corpus at nlist 64, a skewed
    weighted blob mix, and one m = 8 subspace of a 768-dim PQ training set."""
    rng = np.random.default_rng([911, 0])
    centers = rng.random((64, 64), dtype=np.float32)
    serve = centers[rng.integers(0, 64, 10_000)] + 0.25 * rng.standard_normal(
        (10_000, 64), dtype=np.float32
    )
    yield "serve", serve, 64, 5, None
    rng = np.random.default_rng(3)
    sizes = [3000, 1500, 700, 300, 150, 80, 40, 25]
    blobs = np.vstack(
        [rng.standard_normal(32) * 4 + rng.standard_normal((s, 32)) for s in sizes]
    )
    yield "skewed", blobs, 32, 5, rng.integers(1, 6, len(blobs))
    rng = np.random.default_rng(5)
    yield "pq", rng.standard_normal((4096, 96)).astype(np.float32), 256, 12, None


@pytest.mark.parametrize("case", ["serve", "skewed", "pq"])
def test_kmeans_expansion_seeding_fits_like_elementwise(case):
    """The expansion form changes seed bits, not the fit: labels agree on
    >= 99 % of rows and inertia is within 1 % of the elementwise form."""
    name, x, k, iters, w = next(c for c in _fit_inputs() if c[0] == case)
    new = kmeans(x, k, np.random.default_rng(17), iters, weights=w)
    old = _kmeans_elementwise(x, k, np.random.default_rng(17), iters, weights=w)
    a, b = _labels(x, new), _labels(x, old)
    assert _agreement(a, b, k) >= 0.99
    ww = np.ones(len(x)) if w is None else w
    inertia = [
        float((ww * ((np.asarray(x, np.float64) - np.asarray(c, np.float64)[lab]) ** 2).sum(1)).sum())
        for c, lab in ((new, a), (old, b))
    ]
    assert abs(inertia[0] - inertia[1]) <= 0.01 * inertia[1], (name, inertia)


def _package_functions():
    root = Path(duckdb_faiss_ext_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, ast.FunctionDef):
                yield path, fn


def _is_np_call(node, name):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def test_one_d2_seeding():
    """``metrics.kmeans`` is the package's one D² seeder (an
    ``np.searchsorted`` over an ``np.cumsum``), and the per-caller k-means
    copies it replaced stay gone."""
    sites = []
    names = set()
    for path, fn in _package_functions():
        names.add(fn.name)
        nodes = list(ast.walk(fn))
        cumsums = {
            t.id
            for n in nodes
            if isinstance(n, ast.Assign) and _is_np_call(n.value, "cumsum")
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in nodes:
            if _is_np_call(n, "searchsorted") and n.args:
                arr = n.args[0]
                if _is_np_call(arr, "cumsum") or (
                    isinstance(arr, ast.Name) and arr.id in cumsums
                ):
                    sites.append((path.name, fn.name))
    assert sorted(set(sites)) == [("metrics.py", "kmeans")], sites
    assert not names & {"_lloyd_np", "_kmeans_np"}
