"""The instrument scripts under tools/ and bench.py: importable without
running, and the registry audit's job-group counting on synthetic
callables."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

from pyspark.sql import functions as F

from tools import audit

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(
    os.path.basename(p)[:-3]
    for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
    if not p.endswith("__init__.py")
)


def test_tools_import_without_side_effects():
    # A fresh interpreter: importing every tool and bench must print
    # nothing, start no SparkContext, leave the stray argv unparsed, and
    # expose main().
    modules = ["tools." + name for name in TOOLS] + ["bench"]
    probe = (
        "import importlib, pyspark\n"
        f"for name in {modules!r}:\n"
        "    mod = importlib.import_module(name)\n"
        "    assert callable(getattr(mod, 'main', None)), name\n"
        "assert pyspark.SparkContext._active_spark_context is None\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, "--not-a-query"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout == ""
    assert {"audit", "driver_sim", "qtime"} <= set(TOOLS)


def test_audit_counts_eager_build_jobs(spark):
    def one_job(spark, _sf):
        spark.sparkContext.parallelize(range(4), 2).count()
        return spark.range(3)

    def lazy(spark, _sf):
        return spark.range(3).filter("id > 0")

    assert audit.audit_query(spark, "one_job", one_job, None, consume=False) == (1, 1, None)
    assert audit.audit_query(spark, "lazy", lazy, None, consume=False) == (0, 0, None)
    cold, warm, stages = audit.audit_query(spark, "lazy_consumed", lazy, None)
    assert (cold, warm) == (0, 0) and stages


def test_audit_reads_group_stages_with_task_counts(spark):
    sc = spark.sparkContext
    prev = {k: spark.conf.get(k) for k in
            ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        df = spark.range(0, 100, 1, 3).groupBy((F.col("id") % 7).alias("k")).count()
        jobs = audit.run_in_group(sc, "test-tools-groupby", df.collect)
        stages = audit.stages_of(sc, jobs)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert len(jobs) == 1
    assert [tasks for _sid, tasks in stages] == [3, 5]
