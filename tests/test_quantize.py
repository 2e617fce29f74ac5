"""SQ8 scalar quantization (functions/quantize.py): FAISS QT_8bit-style
per-dim affine codes, one numpy codec run per Arrow batch."""

import ast
import pathlib

import numpy as np
import pyspark.sql.functions as F
import pytest
from conftest import gen_vectors

import duckdb_faiss_ext_spark
from duckdb_faiss_ext_spark.functions.quantize import (
    sq8_decode,
    sq8_encode,
    sq8_reconstruction_error,
    sq8_train,
)


def _df(spark, x):
    return spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)],
        "vec_id bigint, embedding array<float>",
    )


def test_sq8_roundtrip_error_bound(spark):
    x = gen_vectors(400, 16)
    df = _df(spark, x)
    vmin, vdiff = sq8_train(df)
    codes = sq8_encode(df, vmin, vdiff)
    # schema: byte-typed codes, vector column gone
    assert dict(codes.dtypes)["codes"] == "array<tinyint>"
    out = sq8_decode(codes, vmin, vdiff).orderBy("vec_id").collect()
    got = np.array([r["embedding"] for r in out], dtype=np.float32)
    bound = sq8_reconstruction_error(vmin, vdiff) + 1e-6
    assert bound < 0.003  # [0,1) data: step/2 = 1/512
    assert np.abs(got - x).max() <= bound, np.abs(got - x).max()


def test_sq8_numpy_parity_and_edges(spark):
    # exact parity with the numpy reference formula, incl. out-of-range
    # values (clip) and a constant dimension (vdiff 0 -> exact decode)
    x = np.array(
        [[0.0, 5.0, -3.0], [1.0, 5.0, 9.0], [0.5, 5.0, 3.0]], dtype=np.float32
    )
    df = _df(spark, x)
    vmin, vdiff = sq8_train(df)
    assert vdiff[1] == 0.0
    got = np.array(
        [
            r["embedding"]
            for r in sq8_decode(sq8_encode(df, vmin, vdiff), vmin, vdiff)
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float32,
    )
    # FAISS Codec8bit reference: truncating encode, bin-center decode
    codes_ref = np.clip(
        np.floor((x - vmin) / np.where(vdiff > 0, vdiff, 1.0) * 255.0), 0, 255
    )
    ref = np.where(
        vdiff > 0, vmin + (codes_ref + 0.5) / 255.0 * vdiff, vmin
    ).astype(np.float32)
    assert np.allclose(got, ref, atol=1e-6)
    assert np.allclose(got[:, 1], 5.0)  # constant dim exact


def test_sq8_train_errors(spark):
    # empty frame / all-null column: clear error, not max()-of-empty
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="no vector values"):
        sq8_train(empty)
    nulls = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="no vector values"):
        sq8_train(nulls)
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="ragged"):
        sq8_train(ragged)
    # NaN components would poison vdiff via NaN-is-largest max (ADVICE r10)
    nan_df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [float("nan"), 3.0])],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="NaN vector components"):
        sq8_train(nan_df)
    # null COMPONENTS in fixed-dim vectors: named as such, not "ragged"
    null_comp = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [None, 3.0])],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="null vector components"):
        sq8_train(null_comp)


def test_sq8_knn_recall_on_testdata(spark, sf_dir):
    """Compressed-at-rest corpus searched through a lazy decode: top-10
    exact-IP recall vs the float32 corpus stays high (unit-norm testdata
    embeddings)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vmin, vdiff = sq8_train(emb)
    codes = sq8_encode(emb, vmin, vdiff)
    dec = sq8_decode(codes, vmin, vdiff)

    def top10(corpus):
        q = emb.limit(8).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        dot = F.aggregate(
            F.zip_with("embedding", "qv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        )
        return {
            (r["qid"], r["vec_id"])
            for r in corpus.crossJoin(q)
            .select("qid", "vec_id", dot.alias("score"))
            .withColumn("rk", F.row_number().over(w))
            .filter("rk <= 10")
            .collect()
        }

    exact = top10(emb)
    approx = top10(dec)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_sq8_l2_pairwise_matches_decode_path_and_orders_identically():
    """Decode-free L2 (r12): the expansion over exact-f64 decoded values
    must track the f32-decode reference within the f32 rounding error and
    produce the SAME top-k ordering on a near-tie mixture corpus (the
    promotion-blocking check from tools/sq8_decodefree_probe.py, pinned
    here at test scale)."""
    import numpy as np

    from duckdb_faiss_ext_spark.functions.quantize import (
        sq8_decode_np,
        sq8_encode_np,
        sq8_l2_pairwise,
        sq8_rownorm,
    )

    rng = np.random.default_rng(17)
    centers = rng.standard_normal((8, 48)).astype(np.float32)
    x = (
        centers[rng.integers(0, 8, 4000)]
        + 0.05 * rng.standard_normal((4000, 48)).astype(np.float32)
    )
    vmin, vmax = x.min(0), x.max(0)
    vdiff = vmax - vmin
    codes = sq8_encode_np(x, vmin, vdiff)
    q = (
        centers[rng.integers(0, 8, 32)]
        + 0.05 * rng.standard_normal((32, 48)).astype(np.float32)
    )
    xd = sq8_decode_np(codes, vmin, vdiff, np.float32).astype(np.float64)
    qd = q.astype(np.float64)
    ref = ((qd[:, None, :] - xd[None, :, :]) ** 2).sum(axis=2)
    got = sq8_l2_pairwise(q, codes, vmin, vdiff, dtype=np.float64)
    # error bounded by the f32 rounding of x̂ the decode path applies
    assert np.abs(got - ref).max() / max(ref.max(), 1e-12) < 1e-6
    # identical ranking at k=10 (argsort is stable; distances here are
    # distinct enough that the low-bit difference cannot flip ranks)
    ia = np.argsort(ref, axis=1, kind="stable")[:, :10]
    ib = np.argsort(got, axis=1, kind="stable")[:, :10]
    assert (ia == ib).all()
    # rownorm precompute path is the same numbers
    rn = sq8_rownorm(codes, vmin, vdiff)
    got2 = sq8_l2_pairwise(q, codes, vmin, vdiff, rownorm=rn, dtype=np.float64)
    assert np.array_equal(got, got2)
    # self-distance of an exactly-encodable point stays tiny
    assert got.min() >= 0.0


def test_sq8_codec_null_rows_and_malformed_input(spark):
    """A NULL row maps to a NULL row; a ragged row, a NULL element or a NaN
    fails the encode (and a ragged or NULL-element code row the decode)
    with a ValueError that names the defect."""
    vmin, vdiff = np.zeros(2, np.float32), np.ones(2, np.float32)
    ok = spark.createDataFrame(
        [(0, [0.5, 1.0]), (1, None)], "vec_id bigint, embedding array<float>"
    )
    codes = sq8_encode(ok, vmin, vdiff).orderBy("vec_id").collect()
    assert codes[0]["codes"] == [-1, 127] and codes[1]["codes"] is None
    back = sq8_decode(sq8_encode(ok, vmin, vdiff), vmin, vdiff).orderBy("vec_id")
    assert [r["embedding"] is None for r in back.collect()] == [False, True]
    for rows, what in (
        ([(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])], "ragged vectors"),
        ([(0, [1.0, 2.0]), (1, [None, 3.0])], "null vector components"),
        ([(0, [1.0, 2.0]), (1, [float("nan"), 3.0])], "NaN vector components"),
    ):
        bad = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        with pytest.raises(Exception, match=f"ValueError: sq8_encode: {what}"):
            sq8_encode(bad, vmin, vdiff).collect()
    for rows, what in (
        ([(0, [1, 2]), (1, [1])], "ragged vectors"),
        ([(0, [1, 2]), (1, [None, 3])], "null vector components"),
    ):
        bad = spark.createDataFrame(rows, "vec_id bigint, codes array<tinyint>")
        with pytest.raises(Exception, match=f"ValueError: sq8_decode: {what}"):
            sq8_decode(bad, vmin, vdiff).collect()


PKG = pathlib.Path(duckdb_faiss_ext_spark.__file__).parent
CODEC = {"sq8_encode", "sq8_decode", "sq8_encode_np", "sq8_decode_np"}


def test_one_sq8_codec():
    """Each SQ8 formula exists once: ``quantize.py`` builds no ``zip_with``
    twin, defines the package's only SQ8 encode/decode functions, and
    ``engine.py`` imports none beyond its four codec names."""
    quantize = ast.parse((PKG / "functions" / "quantize.py").read_text())
    assert not [
        n for n in ast.walk(quantize)
        if (isinstance(n, ast.Attribute) and n.attr == "zip_with")
        or (isinstance(n, ast.Name) and n.id == "zip_with")
    ]
    defs = {
        (path.name, fn.name)
        for path in PKG.rglob("*.py")
        for fn in ast.walk(ast.parse(path.read_text()))
        if isinstance(fn, ast.FunctionDef)
        and fn.name.startswith("sq8_")
        and ("encode" in fn.name or "decode" in fn.name)
    }
    assert defs == {("quantize.py", c) for c in CODEC}, defs
    imported = {
        (node.module, a.name)
        for node in ast.walk(ast.parse((PKG / "engine.py").read_text()))
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if "sq8" in a.name and ("encode" in a.name or "decode" in a.name)
    }
    assert imported and imported <= {
        ("duckdb_faiss_ext_spark.functions.quantize", c) for c in CODEC
    }, imported
