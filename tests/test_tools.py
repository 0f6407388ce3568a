"""The instrument scripts under tools/ and bench.py: importable without
running, the registry audit's span-based job counting on synthetic
callables, and its allowlists against the registry."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import threading
from types import SimpleNamespace

from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401 — populates REGISTRY
from bench import span_jobs
from perfbench.spans import Tracer
from personal_data_lakehouse_spark.plans.registry import REGISTRY
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
    assert {"audit", "driver_sim"} <= set(TOOLS)


def _counts(spans):
    return {k: len(ids) for k, (_sec, ids) in spans.items()}


def test_audit_counts_eager_build_jobs(spark):
    def one_job(spark, _sf):
        spark.sparkContext.parallelize(range(4), 2).count()
        return spark.range(3)

    def lazy(spark, _sf):
        return spark.range(3).filter("id > 0")

    spark.sparkContext.parallelize(range(2)).count()
    spans = audit.audit_query(spark, one_job, None)
    assert list(spans) == ["cold", "warm", "consume"]
    assert _counts(spans)["cold"] == _counts(spans)["warm"] == 1
    spans = audit.audit_query(spark, lazy, None)
    counts = _counts(spans)
    assert counts["cold"] == counts["warm"] == 0 and counts["consume"] > 0
    assert spans["consume"][0] > 0


def test_audit_counts_build_jobs_of_plain_threads(spark):
    # A build whose job runs on a thread that inherits no job group, as
    # a stream's micro-batches do: the span counter still sees it.
    def threaded(spark, _sf):
        th = threading.Thread(
            target=lambda: spark.sparkContext.parallelize(range(4), 2).count()
        )
        th.start()
        th.join(timeout=120)
        assert not th.is_alive()
        return spark.range(3)

    spark.sparkContext.parallelize(range(2)).count()
    counts = _counts(audit.audit_query(spark, threaded, None))
    assert counts["cold"] == counts["warm"] == 1


def test_audit_reads_group_stages_with_task_counts(spark):
    sc = spark.sparkContext
    prev = {k: spark.conf.get(k) for k in
            ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        df = spark.range(0, 100, 1, 3).groupBy((F.col("id") % 7).alias("k")).count()
        sc.parallelize([0]).count()
        tracer = Tracer(enabled=True)
        with tracer.span("collect"):
            df.collect()
        jobs = span_jobs(spark, tracer)["collect"][1]
        stages = audit.stages_of(sc, jobs)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert len(jobs) == 1
    assert [tasks for _sid, tasks in stages] == [3, 5]


def test_stages_of_drops_stages_spark_no_longer_retains():
    # Past spark.ui.retainedStages Spark drops skipped stages first, so a
    # long sweep can list a job stage whose record is gone.
    tracker = SimpleNamespace(
        getJobInfo=lambda _job: SimpleNamespace(stageIds=[2, 1]),
        getStageInfo=lambda s: SimpleNamespace(numTasks=4) if s == 1 else None,
    )
    sc = SimpleNamespace(statusTracker=lambda: tracker)
    assert audit.stages_of(sc, [7]) == [(1, 4)]


def test_audit_allowlists_name_registered_queries():
    assert set(audit.EAGER_ALLOW) | audit.STAGE_ALLOW <= set(REGISTRY)
