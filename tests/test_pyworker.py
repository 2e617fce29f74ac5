"""Python workers re-read a zip on the import path only when it changed
(``duckdb_faiss_ext_spark._pyworker``)."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import numpy as np
import pandas as pd

from duckdb_faiss_ext_spark import FaissSparkEngine, _pyworker

WRAPPER_MODULE = "duckdb_faiss_ext_spark._pyworker"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_driver_keeps_stock_invalidation():
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b = f"pw_a_{tag}", f"pw_b_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {mod_a: 1})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(mod_a).VALUE == 1

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        # restored at teardown; installing twice must not stack wrappers
        monkeypatch.setattr(
            zipimport.zipimporter,
            "invalidate_caches",
            zipimport.zipimporter.invalidate_caches,
        )
        _pyworker.install()
        _pyworker.install()
        assert zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_if_changed
        assert _pyworker._reread.__module__ == "zipimport"

        importlib.invalidate_caches()  # first sight: reads once, records stat
        assert len(reads) == 1
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 1

        _write_zip(archive, {mod_a: 1, mod_b: 2})
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module(mod_b).VALUE == 2
    finally:
        for mod in (mod_a, mod_b):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_wrap_invalidation_and_still_import_new_pyfiles(spark, tmp_path):
    eng = FaissSparkEngine(spark)
    x = np.eye(4, dtype=np.float32)
    eng.create("pyworker_flat", 4, "IDMap,Flat")
    eng.add(
        "pyworker_flat",
        spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(x)],
            "label bigint, vector array<float>",
        ),
    )
    q = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "qid bigint, vector array<float>",
    )
    hits = eng.search_flat("pyworker_flat", 1, q).orderBy("qid").collect()
    assert [r["label"] for r in hits] == [0, 1, 2, 3]

    def report(batches):
        import zipimport

        # an engine UDF imports the package while it unpickles
        import duckdb_faiss_ext_spark  # noqa: F401

        wrapper = zipimport.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pd.DataFrame({"wrapper": [wrapper] * len(b)})

    probe = spark.range(0, 4, 1, 4)
    rows = probe.mapInPandas(report, "wrapper string").collect()
    assert {r["wrapper"] for r in rows} == {WRAPPER_MODULE}

    mod = f"pw_pyfile_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{mod}.zip"
    _write_zip(archive, {mod: 41})
    spark.sparkContext.addPyFile(str(archive))

    def use_pyfile(batches):
        import importlib
        import zipimport

        # a worker reused from the probe above had the wrapper in place
        # before this task's include set-up added the new zip to sys.path
        wrapper = zipimport.zipimporter.invalidate_caches.__module__
        value = importlib.import_module(mod).VALUE
        for b in batches:
            yield pd.DataFrame(
                {"wrapper": [wrapper] * len(b), "value": [value] * len(b)}
            )

    rows = probe.mapInPandas(use_pyfile, "wrapper string, value long").collect()
    assert {r["value"] for r in rows} == {41}
    assert WRAPPER_MODULE in {r["wrapper"] for r in rows}
