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

The driver JVM (in local mode also the executor) runs one JIT policy,
``_JIT_POLICY``: the C2 (tier-4) compile thresholds at 10x HotSpot's
defaults, so only code that stays hot is compiled for peak speed.  Why:
with the default JIT, the compiler threads were the largest named CPU share
of a short serving call.  C1 only saved more there but ran long JVM-side
scans up to 2x slower; the compiler-thread count is left to the JVM, which
sizes it from the host's cores.  README "JIT policy" has the measurements.
The policy goes in as ``spark.driver.defaultJavaOptions``, ahead of any
value the properties file that ``spark-submit`` reads gives that key, and
before ``extra_conf``: a caller's own ``defaultJavaOptions`` replaces both,
and a caller's ``extraJavaOptions`` applies beside them.  Cluster executors
keep their own JVM options.
"""

from __future__ import annotations

import os
import re
import shlex
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the driver JVM's JIT policy (see the module docstring): tier-4 (C2)
# thresholds at 10x the defaults
_JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def _properties_file_java_options() -> str:
    """``spark.driver.defaultJavaOptions`` as set in the properties file
    ``spark-submit`` reads: ``--properties-file`` in ``PYSPARK_SUBMIT_ARGS``,
    else ``spark-defaults.conf`` under ``SPARK_CONF_DIR`` or
    ``$SPARK_HOME/conf``; "" when none sets it.  A builder conf overrides
    that file, so ``get_spark`` reads it to keep an administrator's flags."""
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    path = next(
        (b for a, b in zip(args, args[1:]) if a == "--properties-file"), None
    )
    if path is None:
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        if not conf_dir:
            from pyspark.find_spark_home import _find_spark_home

            conf_dir = os.path.join(_find_spark_home(), "conf")
        path = os.path.join(conf_dir, "spark-defaults.conf")
    try:
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
    except OSError:
        return ""
    value = ""
    for line in lines:
        # java.util.Properties: the key ends at '=', ':' or whitespace
        m = re.match(r"\s*([^\s=:#!][^\s=:]*)\s*[=:]?\s*(.*)", line)
        if m and m.group(1) == "spark.driver.defaultJavaOptions":
            value = m.group(2).strip()
    return value


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
        # the policy first, so a flag the properties file repeats wins; set
        # before extra_conf, so a caller's own defaultJavaOptions replaces
        # it and a caller's extraJavaOptions applies beside it
        .config(
            "spark.driver.defaultJavaOptions",
            f"{_JIT_POLICY} {_properties_file_java_options()}".rstrip(),
        )
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
