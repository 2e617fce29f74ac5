"""Every search route breaks exact distance ties the same way: by label
ascending, as FAISS does by id (SURVEY.md §7 known-hard #5).  The routes
share one top-k implementation at each level (per-batch selection, running
merge, global rank, driver chunk loop); the AST checks below keep it that
way."""

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest

import duckdb_faiss_ext_spark
from conftest import gen_vectors
from duckdb_faiss_ext_spark.engine import FaissSparkEngine
from duckdb_faiss_ext_spark.operators.simjoin import similarity_join

# (factory, search params): Flat, the BNL bulk join (nprobe = nlist), the
# grouped bulk join (nprobe < nlist), SQ8, PQ and HNSW (plain HNSW builds a
# graph at any size, so its segment is beamed, not scanned)
ROUTES = [
    ("IDMap,Flat", {}),
    ("IDMap,IVF2", {"nprobe": 2}),
    ("IDMap,IVF4", {"nprobe": 3}),
    ("IDMap,Flat,SQ8", {}),
    ("IDMap,PQ2", {}),
    ("IDMap,HNSW8", {}),
]
# routes whose answer is the exact scan's, so their lists must be identical
EXACT = ("IDMap,Flat", "IDMap,IVF2", "IDMap,HNSW8", "similarity_join")


@pytest.fixture(scope="module")
def tied(spark):
    """4 identical vectors stored as labels 40, 30, 20, 10 in one partition
    (descending, so physical position and label disagree) plus 7 distinct
    rows labeled 101-107."""
    x = gen_vectors(8, 4)
    rows = [(lab, [float(v) for v in x[0]]) for lab in (40, 30, 20, 10)]
    rows += [(100 + i, [float(v) for v in x[i]]) for i in range(1, 8)]
    corpus = spark.createDataFrame(rows, "label bigint, vector array<float>").coalesce(1)
    eng = FaissSparkEngine(spark)
    for i, (factory, _) in enumerate(ROUTES):
        eng.create(f"tie{i}", 4, factory, metric_type="L2")
        eng.add(f"tie{i}", corpus)
    q = spark.createDataFrame(
        [(0, [float(v) for v in x[0]])], "qid bigint, vector array<float>"
    )
    return eng, corpus, q


def _route_lists(tied, k):
    """route name -> [(rank, label), ...] for the one query."""
    eng, corpus, q = tied
    out = {}
    for i, (factory, params) in enumerate(ROUTES):
        for bulk in (0, 1):
            rows = eng.search_flat(
                f"tie{i}", k, q, params={**params, "bulk_queries": bulk}
            ).collect()
            out[(factory, bulk)] = sorted((r["rank"], r["label"]) for r in rows)
    rows = similarity_join(
        q, corpus, k, metric="L2", left_id="qid", right_id="label", bulk=True
    ).collect()
    out[("similarity_join", 1)] = sorted((r["rank"], r["label"]) for r in rows)
    return out


def test_every_route_keeps_the_smaller_tied_labels(tied):
    got = _route_lists(tied, 2)
    assert len(got) == 13
    wrong = {r: v for r, v in got.items() if [lab for _, lab in v] != [10, 20]}
    assert not wrong, wrong


def test_exact_routes_agree_beyond_n(tied):
    """k > n: every exact-semantics route returns the same full ranking,
    and every route returns the same list on its driver and bulk plans."""
    got = _route_lists(tied, 20)
    exact = {r: v for r, v in got.items() if r[0] in EXACT}
    assert len(set(map(tuple, exact.values()))) == 1, exact
    assert [lab for _, lab in exact[("IDMap,Flat", 0)]][:4] == [10, 20, 30, 40]
    assert len(exact[("IDMap,Flat", 0)]) == 11
    for factory, _ in ROUTES:
        assert got[(factory, 0)] == got[(factory, 1)], factory


def test_sub_block_boundary_keeps_the_smaller_tied_labels(spark):
    """``partial_topk`` scores a batch in SCORE_BLOCK_ROWS-row blocks and
    folds them: copies of the query stored as labels 40, 30 just before a
    block boundary and 20, 10 just after it must still rank 10, 20, 30."""
    from duckdb_faiss_ext_spark.operators.topk import SCORE_BLOCK_ROWS

    n = 2 * SCORE_BLOCK_ROWS + 16
    x = gen_vectors(n, 4) + np.float32(2.0)  # every other row is off the query
    q = gen_vectors(1, 4, offset=99)
    labels = np.arange(n) + 1000
    b = SCORE_BLOCK_ROWS
    for pos, lab in ((b - 2, 40), (b - 1, 30), (b, 20), (b + 1, 10)):
        x[pos], labels[pos] = q[0], lab
    pdf = pd.DataFrame({"label": labels, "vector": list(x)})
    corpus = spark.createDataFrame(pdf, "label bigint, vector array<float>").coalesce(1)
    eng = FaissSparkEngine(spark)
    eng.create("tie_blocks", 4, "IDMap,Flat", metric_type="L2")
    eng.add("tie_blocks", corpus)
    try:
        assert eng.registry.get("tie_blocks").data.rdd.getNumPartitions() == 1
        qdf = spark.createDataFrame(
            [(0, [float(v) for v in q[0]])], "qid bigint, vector array<float>"
        )
        for k in (2, 3):
            rows = eng.search_flat("tie_blocks", k, qdf, params={"bulk_queries": 0})
            got = [r["label"] for r in sorted(rows.collect(), key=lambda r: r["rank"])]
            assert got == [10, 20, 30][:k], got
    finally:
        eng.destroy("tie_blocks")


# ------------------------------------------------- one top-k path (AST guard)

PKG = pathlib.Path(duckdb_faiss_ext_spark.__file__).parent


def _functions(root):
    """(path, FunctionDef) for every function in the package."""
    for path in sorted(root.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, ast.FunctionDef):
                yield path, fn


def _own_nodes(fn):
    """Nodes of ``fn``'s body, not descending into nested functions."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        for child in ast.iter_child_nodes(node):
            if not isinstance(child, (ast.FunctionDef, ast.Lambda)):
                stack.append(child)


def _calls(fn, name):
    return [
        n
        for n in _own_nodes(fn)
        if isinstance(n, ast.Call)
        and (
            (isinstance(n.func, ast.Name) and n.func.id == name)
            or (isinstance(n.func, ast.Attribute) and n.func.attr == name)
        )
    ]


def test_one_driver_chunk_loop():
    callers = [fn.name for _, fn in _functions(PKG) if _calls(fn, "iter_query_blocks")]
    assert callers == ["search_query_blocks"], callers


def test_one_running_merge():
    sites = [
        (path.name, fn.name)
        for path, fn in _functions(PKG)
        for n in _own_nodes(fn)
        if isinstance(n, ast.Attribute) and n.attr == "lexsort"
    ]
    assert sites == [("metrics.py", "merge_running_topk")], sites


# partition keys of row_number windows that are not a top-k rank: LSH
# bucket caps and dedup's per-source edge cap
NON_QUERY_KEYS = {"table", "bucket", "src"}


def test_one_rank_window():
    sites = []
    for path, fn in _functions(PKG / "operators"):
        if not _calls(fn, "row_number"):
            continue
        for call in _calls(fn, "partitionBy"):
            keys = {a.value for a in call.args if isinstance(a, ast.Constant)}
            if not keys <= NON_QUERY_KEYS:
                sites.append((path.name, fn.name))
    assert sites == [("topk.py", "merge_topk")], sites


def test_one_block_join():
    """Every executor-side bulk route is ``simjoin.block_join``: it alone
    packs blocks, it is the only cartesian pairing outside dedup's, and no
    kernel depends on a sorted pair order."""
    packers = [fn.name for _, fn in _functions(PKG) if _calls(fn, "_pack_blocks")]
    assert packers == ["block_join"], packers
    crosses = [
        (path.name, fn.name)
        for path, fn in _functions(PKG / "operators")
        if _calls(fn, "crossJoin") and path.name != "dedup.py"
    ]
    assert crosses == [("simjoin.py", "block_join")], crosses
    sorts = [
        (path.name, fn.name)
        for path, fn in _functions(PKG / "operators")
        if path.name in ("simjoin.py", "pq.py") and _calls(fn, "sortWithinPartitions")
    ]
    assert sorts == [], sorts
