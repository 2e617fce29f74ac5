"""Every frame the package builds from driver-side data is an Arrow table
(``session.local_frame``), planned as a ``LocalRelation``.  A Python list or
an empty pandas frame becomes a Python RDD, and running one starts PySpark's
RDD worker pool: a second ``pyspark.daemon`` with one worker per core beside
the SQL worker pool."""

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import SparkSession

from duckdb_faiss_ext_spark import FaissSparkEngine
from duckdb_faiss_ext_spark.operators import dedup as D
from duckdb_faiss_ext_spark.session import local_frame

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "duckdb_faiss_ext_spark"


@pytest.fixture
def package_frames(monkeypatch):
    """(calling module, type of ``data``) of every ``createDataFrame`` call
    made from package code while the fixture is active."""
    calls = []
    stock = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        caller = sys._getframe(1).f_globals.get("__name__", "")
        if caller.startswith("duckdb_faiss_ext_spark"):
            calls.append((caller, type(data)))
        return stock(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    return calls


def _assert_arrow(calls, what):
    assert calls, f"{what}: no driver-built frame was made"
    assert all(t is pa.Table for _, t in calls), (what, calls)
    calls.clear()


def _vectors(spark, n, dim, seed=0):
    x = np.random.default_rng(seed).random((n, dim), dtype=np.float32)
    pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "vector": list(x)})
    return spark.createDataFrame(pdf, "id bigint, vector array<float>")


def _no_queries(spark):
    table = pa.table(
        {
            "qid": pa.array([], pa.int64()),
            "vector": pa.array([], pa.list_(pa.float32())),
        }
    )
    return spark.createDataFrame(table, "qid bigint, vector array<float>")


def test_local_frame_is_a_local_relation(spark):
    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    rows = local_frame(
        spark, "qid bigint, vector array<float>", [(i, [1.0, 2.0]) for i in range(3)]
    )
    assert plan(rows).startswith("LocalRelation")
    assert rows.rdd.getNumPartitions() == 3
    assert [tuple(r) for r in rows.collect()] == [(i, [1.0, 2.0]) for i in range(3)]

    empty = local_frame(spark, "qid bigint, rank int, label bigint, distance float")
    assert plan(empty).startswith("LocalRelation")
    assert empty.schema.simpleString() == (
        "struct<qid:bigint,rank:int,label:bigint,distance:float>"
    )
    assert empty.collect() == []

    cols = local_frame(
        spark,
        "id bigint, comp bigint",
        columns={"comp": np.zeros(2, dtype=np.int64), "id": np.arange(2)},
    )
    assert [tuple(r) for r in cols.collect()] == [(0, 0), (1, 0)]


def test_driver_built_frames_are_arrow_tables(spark, package_frames):
    eng = FaissSparkEngine(spark)
    for name, factory in (
        ("lf_flat", "IDMap,Flat"),
        ("lf_ivf", "IDMap,IVF4"),
        ("lf_pq", "IDMap,PQ4"),
        ("lf_graph", "IDMap,HNSW8"),
    ):
        eng.create(name, 8, factory)
        eng.add(name, _vectors(spark, 300, 8))
    package_frames.clear()

    for name in ("lf_flat", "lf_ivf"):
        eng.warm(name)
        _assert_arrow(package_frames, f"warm({name})")

    for name in ("lf_flat", "lf_pq", "lf_graph"):
        assert eng.search_flat(name, 3, _no_queries(spark)).collect() == []
        _assert_arrow(package_frames, f"empty search on {name}")

    rows = [
        (
            g * 4 + v,
            f"document template number {g} shared content body "
            f"sentence alpha beta gamma {v}",
        )
        for g in range(50)
        for v in range(4)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}),
        "doc_id bigint, text string",
    )
    stats: dict = {}
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", 4, 2, shingle_n=3, max_bucket=20,
        cap_stats=stats, cap_mode="refine",
    )
    assert pairs.count() > 0
    assert stats["bucket_cap_hits"] > 0 and stats["refined_docs"] > 0
    # refine reads its oversized members from the over-cap bucket rows: it
    # builds no driver-side frame of over-cap keys
    assert package_frames == []

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]}), "id_a bigint, id_b bigint"
    )
    no_edges = edges.limit(0)
    assert D.neardup_components(no_edges).collect() == []
    _assert_arrow(package_frames, "neardup_components with no edges")
    comp = {r["id"]: r["comp"] for r in D.neardup_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1}
    _assert_arrow(package_frames, "neardup_components")


def test_create_dataframe_only_inside_the_helper():
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        # ast.walk is breadth-first, so an inner function overwrites its
        # outer one: each node maps to its innermost enclosing function
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner.update((node, fn.name) for node in ast.walk(fn))
        sites += [
            (path.relative_to(PACKAGE).as_posix(), owner.get(node, "<module>"))
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ]
    assert sites == [("session.py", "local_frame")], sites


_WARM_CHILD = """
import glob, json, os
import numpy as np, pandas as pd
from duckdb_faiss_ext_spark import FaissSparkEngine, get_spark

def children(pid):
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            out += [int(c) for c in open(path).read().split()]
        except OSError:
            pass
    return out

def cmdline(pid):
    try:
        return open(f"/proc/{pid}/cmdline", "rb").read().replace(b"\\0", b" ")
    except OSError:
        return b""

spark = get_spark("warm-child", shuffle_partitions=4)
eng = FaissSparkEngine(spark)
x = np.random.default_rng(0).random((400, 8), dtype=np.float32)
df = spark.createDataFrame(
    pd.DataFrame({"id": np.arange(400), "vector": list(x)}),
    "id bigint, vector array<float>",
)
eng.create("w", 8, "IDMap,IVF4")
eng.add("w", df)
eng.warm("w")
jvms = [c for c in children(os.getpid()) if b"java" in cmdline(c)]
daemons = [c for j in jvms for c in children(j) if b"pyspark.daemon" in cmdline(c)]
print(json.dumps({"jvms": len(jvms), "daemons": len(daemons),
                  "workers": sum(len(children(d)) for d in daemons)}))
"""


@pytest.mark.skipif(not os.path.isdir("/proc/self/task"), reason="needs /proc")
def test_warm_starts_one_python_worker_pool():
    proc = subprocess.run(
        [sys.executable, "-c", _WARM_CHILD],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4", "PYTHONPATH": str(REPO)},
        capture_output=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    counts = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert counts["jvms"] == 1, counts
    # the SQL worker pool only: no RDD runner daemon beside it
    assert counts["daemons"] == 1, counts
