"""SparkSession bootstrap tuned for the engine.

Local testing runs on ``local[N]``; the config choices are the ones that
matter on a real cluster too: AQE on (runtime skew/coalesce handling), Arrow
on (every vector kernel crosses the Python boundary in Arrow batches, the
Spark analogue of the reference's 2048-row DataChunk batching —
src/faiss_extension.cpp:475, :903).

Python workers that run an engine UDF skip PySpark's per-task zip re-read.
Before each task a worker calls ``importlib.invalidate_caches()``, which on
CPython 3.11 re-parses every zip on its import path (``pyspark.zip``, py4j
and the 5k-entry spark-core jar): 0.14-0.21 CPU-s per task on a 4-core VM,
more than a small search's kernels.  The package installs a stat-checked
invalidation in each worker as it is first imported there (``_pyworker``);
a changed archive is still re-read.  Nothing changes on the driver, and no
conf is involved.

Every frame the package builds from driver-side data goes through
``local_frame``: an Arrow table typed from the frame's schema, which Spark
plans as a ``LocalRelation``.  A Python list (or an empty pandas frame)
becomes a Python RDD instead, and running it starts PySpark's RDD worker
pool (a second ``pyspark.daemon`` with one worker per core) beside the SQL
one; on a 4-core VM that pool held ~300 MB of a ~1.75 GB serving process.
"""

from __future__ import annotations

import os
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "duckdb-faiss-ext-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / mapInPandas crossing.  64k-row batches:
        # per-batch overhead (IPC framing, numpy reshape, top-k call) was the
        # dominant cost at the 4M-row probe with the 10k default (10.1 s ->
        # 3.4 s warm exact search); 64k x 64 dims x 4 B ~ 17 MB per batch
        # keeps well under executor memory at any realistic dim.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else int(cpus)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor — size its heap for the
        # cached corpus + per-thread Arrow buffers (32 threads), or multi-GB
        # caches GC-thrash (the 4M probe degraded 3-10x run-over-run at 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata events.ts is TIMESTAMP(NANOS); Spark reads it as
        # bigint nanos with this flag (convert explicitly where needed)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession,
    schema: StructType | str,
    rows: Iterable[Sequence] = (),
    columns: Mapping[str, Sequence] | None = None,
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in schema order) or
    ``columns`` (name -> sequence or numpy array), built as a
    ``pyarrow.Table`` typed from ``schema`` (a StructType or DDL string).

    The only place the package calls ``createDataFrame``: an Arrow table,
    empty or not, is planned as a ``LocalRelation`` (one partition per row
    up to ``defaultParallelism``) that the JVM scans itself, where a list
    or an empty pandas frame would start the RDD Python worker pool."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if columns is None:
        rows = list(rows)
        data = list(zip(*rows)) if rows else [[] for _ in arrow]
    else:
        data = [columns[f.name] for f in struct.fields]
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(data, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
