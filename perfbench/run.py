"""Repository benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload {serve,dedup} --seed N --seconds S --trace {0,1}

Run from the repository root. The runner sets its own Spark environment
(``local[nproc]``, a driver heap that fits a small host, scratch directories
inside the checkout), sets the workload's inputs up ``SETUP_REPEATS`` times,
warms it once, runs whole cycles of operations for ``--seconds`` seconds (at
least one cycle) and prints one JSON object as its last line. ``setup_s`` is
the Spark session start plus the median set-up plus the warm-up; the other
end-to-end figures come from a fixed number of first cycles. With
``--trace 0`` it reports the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` it tags every timed call's Spark jobs and reports the per-layer
metrics instead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# per process, so two runs in one checkout never share Spark's local dirs
WORK = ROOT / ".perfbench_work" / str(os.getpid())
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
# span metric suffix -> (Cost field, scale)
SPAN_FIELDS = {
    "wall_s": ("wall_s", 1.0),
    "wall_ms": ("wall_s", 1e3),
    **{f: (f, 1.0) for f in (
        "jobs", "stages", "tasks", "exec_run_s", "proc_cpu_s",
        "shuffle_write_mb", "input_mb",
    )},
}


def configure_environment() -> dict[str, str]:
    """Environment for the Spark driver and its Python workers; returns the
    extra Spark conf. Only this runner sets these."""
    (WORK / "local").mkdir(parents=True, exist_ok=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # executors import the package by name, whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # no JVM, the launcher's included, writes its perf file to /tmp
    jvm_tmp = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # serial GC: peak RSS follows the live heap (see README.md)
        "spark.driver.extraJavaOptions": f"{jvm_tmp} -XX:+UseSerialGC",
    }


def span_metrics(spans: dict, names: set[str]) -> dict[str, float]:
    """Median of each recorded span's costs, as ``<span>.<suffix>``, for the
    ``names`` that ``BENCHMARK.json`` lists."""
    import numpy as np

    out = {}
    for span, costs in spans.items():
        for suffix, (field, scale) in SPAN_FIELDS.items():
            name = f"{span}.{suffix}"
            if name in names:
                out[name] = float(np.median([getattr(c, field) for c in costs])) * scale
    return out


def stop_spark(spark, jvm) -> None:
    """Stop Spark, end the driver JVM and wait for every process under it."""
    from accounting import process_tree
    from pyspark import SparkContext

    tree = process_tree(jvm.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    alive = [p for p in tree if Path(f"/proc/{p}").exists()]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if Path(f"/proc/{p}").exists()]
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    extra_conf = configure_environment()
    try:
        import numpy as np
        from pyspark import SparkContext

        from accounting import Accountant, Timer, tree_peak_rss_mb
        from duckdb_faiss_ext_spark import FaissSparkEngine, get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=extra_conf)
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm = SparkContext._gateway.proc
        try:
            acct = Accountant(spark, jvm.pid) if args.trace else Timer(jvm.pid)
            if args.workload == "serve":
                from serve import Serve

                wl = Serve(spark, FaissSparkEngine(spark), acct, args.seed)
            else:
                from dedup import Dedup

                wl = Dedup(spark, acct, args.seed)
            setups = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.setup_once()
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.run(args.seconds)
            e2e = {
                "setup_s": get_spark_s + float(np.median(setups)) + warm_s,
                **wl.end_to_end(),
                "peak_rss_mb": tree_peak_rss_mb(jvm.pid),
            }
            print(
                f"perfbench: get_spark {get_spark_s:.2f} s, set-ups "
                f"{', '.join(f'{t:.2f}' for t in setups)} s, warm {warm_s:.2f} s, "
                f"measured {time.perf_counter() - t0:.2f} s, "
                f"cpu {e2e['cycle_cpu_s']:.2f} s a measured cycle, "
                f"op p50 {e2e['op_p50_ms']:.0f} ms, {e2e['items_per_s']:.2f} items/s",
                file=sys.stderr,
            )
            layer = {}
            if args.trace:
                layer.update(
                    span_metrics(acct.spans, {m["name"] for m in spec["per_layer"]})
                )
                wl.layer_probes(layer)
                layer["session.get_spark_s"] = get_spark_s
                for name, value in e2e.items():
                    layer[f"trace.{name}"] = value
        finally:
            stop_spark(spark, jvm)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK.parent.rmdir()

    key = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[key]
    }
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
