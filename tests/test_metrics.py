import numpy as np
import pytest

from duckdb_faiss_ext_spark.errors import InvalidMetric
from duckdb_faiss_ext_spark.metrics import (
    METRICS,
    is_descending,
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
