"""``get_spark`` ships one JIT policy for the driver JVM (which is also the
executor in local mode) through ``spark.driver.defaultJavaOptions``.  It is
set before ``extra_conf``: a caller's ``extraJavaOptions`` applies beside
it, and a caller's own ``defaultJavaOptions`` replaces it.  A
``defaultJavaOptions`` from the properties file ``spark-submit`` reads
(an administrator's flags) applies after it, so a conf passed by the builder
does not drop it.  Each case reads the launched JVM's
``RuntimeMXBean.getInputArguments()`` in a child process, since a JVM's
options are fixed when it starts."""

import json
import os
import subprocess
import sys
from pathlib import Path

from duckdb_faiss_ext_spark.session import _JIT_POLICY

REPO = Path(__file__).resolve().parents[1]

_CHILD = """
import json, sys
from duckdb_faiss_ext_spark import get_spark

spark = get_spark("jit-policy", extra_conf=json.loads(sys.argv[1]))
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""

CASES = {
    "plain": {},
    "extra": {"spark.driver.extraJavaOptions": "-Dfaiss.jit.test=extra"},
    "default": {"spark.driver.defaultJavaOptions": "-Dfaiss.jit.test=default"},
    "admin": {},
}


def _jvm_args(conf_dir: Path) -> dict:
    """{case: the driver JVM's input arguments}, the JVMs launched side by
    side; the "admin" case reads ``conf_dir``'s spark-defaults.conf."""
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_DRIVER_MEMORY": "512m",
        "PYTHONPATH": str(REPO),
    }
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    procs = {
        case: subprocess.Popen(
            [sys.executable, "-c", _CHILD, json.dumps(conf)],
            cwd=REPO,
            env={**env, "SPARK_CONF_DIR": str(conf_dir)} if case == "admin" else env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for case, conf in CASES.items()
    }
    out = {}
    for case, proc in procs.items():
        stdout, stderr = proc.communicate(timeout=300)
        assert proc.returncode == 0, (case, stderr[-2000:])
        out[case] = json.loads(stdout.decode().strip().splitlines()[-1])
    return out


def test_policy_composes_with_caller_java_options(tmp_path):
    policy = _JIT_POLICY.split()
    assert policy and all(flag.startswith("-XX:") for flag in policy)
    (tmp_path / "spark-defaults.conf").write_text(
        "# an administrator's driver flags\n"
        "spark.driver.defaultJavaOptions   -Dfaiss.jit.test=admin -Xss4m\n"
    )
    args = _jvm_args(tmp_path)
    # a plain session carries the policy
    assert all(flag in args["plain"] for flag in policy), args["plain"]
    # a caller's extraJavaOptions applies beside it
    assert all(flag in args["extra"] for flag in policy), args["extra"]
    assert "-Dfaiss.jit.test=extra" in args["extra"], args["extra"]
    # a caller's defaultJavaOptions replaces it
    assert "-Dfaiss.jit.test=default" in args["default"], args["default"]
    assert not any(flag in args["default"] for flag in policy), args["default"]
    # flags from the properties file apply after it, so they still win
    admin = args["admin"]
    assert all(flag in admin for flag in policy), admin
    assert "-Dfaiss.jit.test=admin" in admin and "-Xss4m" in admin, admin
    assert admin.index("-Xss4m") > max(admin.index(flag) for flag in policy)
