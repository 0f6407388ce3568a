"""The session factory's fixed per-query costs: building a query plan
under ``get_spark`` pays no per-call Python call-site capture, and running
a plan again reuses its generated code instead of recompiling it."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# py4j round trips of one warm q01_pricing_summary build with capture off:
# 175 on one core, 175-228 on four (sf0.001-sf0.1); with it on, 725-831.
BUILD_ROUND_TRIPS = 250

# Classes a second pass over the 13 benchmark ops may compile: AQE can pick
# a different plan on a warm run (0-2 measured at sf0.001). With Spark's
# 100-entry codegen cache the pass recompiles about 200 of the ~215 classes
# the ops make.
WARM_PASS_COMPILES = 16


def test_plan_build_round_trips():
    # A fresh interpreter: PySpark fixes the call-site capture flag at the
    # first API call of the process, and under pytest the registry import
    # makes that call before the session fixture exists. Here the session
    # starts first, as in the benchmark. The first build warms the schema
    # cache; the second is counted with gc off, since the collector's
    # detach commands for dead Java references are noise.
    probe = (
        "import gc, sys\n"
        "from personal_data_lakehouse_spark.session import get_spark\n"
        "spark = get_spark(app_name='round-trips')\n"
        "import __spark_entry__\n"
        "from personal_data_lakehouse_spark.plans.registry import REGISTRY\n"
        "from py4j.clientserver import ClientServerConnection as conn\n"
        "build = REGISTRY['q01_pricing_summary'].fn\n"
        "build(spark, sys.argv[1])\n"
        "calls, send = [0], conn.send_command\n"
        "def counted(self, command):\n"
        "    calls[0] += 1\n"
        "    return send(self, command)\n"
        "gc.disable()\n"
        "conn.send_command = counted\n"
        "build(spark, sys.argv[1])\n"
        "conn.send_command = send\n"
        "print(calls[0])\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", probe, SF_DIR],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    trips = int(out.stdout.strip().splitlines()[-1])
    assert trips <= BUILD_ROUND_TRIPS, trips


def test_warm_pass_reuses_generated_code():
    # A fresh interpreter: the suite's JVM has compiled other tests'
    # classes, so its first pass here would not be cold. Every benchmark op
    # is built and executed once, then once more; the first pass makes more
    # classes than Spark's default cache holds, and the second should find
    # all of them in get_spark's larger one.
    probe = (
        "import sys\n"
        "sys.path.insert(0, 'perfbench')\n"
        "from personal_data_lakehouse_spark.session import (\n"
        "    codegen_compiles, get_spark)\n"
        "spark = get_spark(app_name='codegen-cache')\n"
        "import __spark_entry__\n"
        "from run import WORKLOADS\n"
        "qs = __spark_entry__.queries()\n"
        "ops = [n for w in WORKLOADS.values() for n in w]\n"
        "def one_pass():\n"
        "    before = codegen_compiles(spark)[0]\n"
        "    for name in ops:\n"
        "        df = qs[name](spark, sys.argv[1])\n"
        "        df.write.format('noop').mode('overwrite').save()\n"
        "        spark.catalog.clearCache()\n"
        "    return codegen_compiles(spark)[0] - before\n"
        "print(len(ops), one_pass(), one_pass())\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", probe, SF_DIR],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr
    n_ops, cold, warm = map(int, out.stdout.strip().splitlines()[-1].split())
    assert n_ops == 13 and cold > 100, (n_ops, cold)
    assert warm <= WARM_PASS_COMPILES, (cold, warm)
