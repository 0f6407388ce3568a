"""bench.py's fixed timing protocol and its span-based job counter, on
trivial callables (no fixture data)."""

from __future__ import annotations

import threading
import time

import bench
from perfbench.spans import Tracer


def test_warm_sweep_records_samples_quantiles_and_cold_split(spark):
    qs = {
        "a": lambda spark, _sf: spark.range(10),
        "b": lambda spark, _sf: spark.range(100).selectExpr("id % 7 AS k"),
    }
    sweep = bench.warm_sweep(spark, qs, ["a", "b"], None, cold=True)
    assert list(sweep) == ["a", "b"]
    for rec in sweep.values():
        assert rec["n"] == len(rec["runs"]) == bench.WARM_RUNS
        assert min(rec["runs"]) <= rec["median"] <= rec["p90"] <= max(rec["runs"])
        assert {"cold_plan", "cold_exec", "cold_plan2"} <= set(rec)
    assert "cold_plan" not in bench.warm_sweep(spark, qs, ["a"], None)["a"]


def test_sweeps_record_codegen_compiles_per_sweep(spark):
    # A literal unique to this run makes a class no earlier plan compiled;
    # the later sweeps find it in the codegen cache.
    k = time.time_ns() % 1_000_003
    qs = {"a": lambda spark, _sf: spark.range(50).selectExpr(f"id * {k} AS v")}
    sweeps, compiles = bench.sweeps(spark, qs, ["a"], None)
    assert len(sweeps) == len(compiles) == bench.SWEEPS
    assert "cold_plan" in sweeps[0]["a"] and "cold_plan" not in sweeps[1]["a"]
    assert compiles[0]["count"] > 0 and compiles[0]["s"] > 0
    assert [c["count"] for c in compiles[1:]] == [0] * (bench.SWEEPS - 1)


def test_span_jobs_count_jobs_of_plain_threads(spark):
    # A job submitted from a plain thread inside the timed block: the
    # span counter sees it, a job group set around the block does not.
    sc = spark.sparkContext
    sc.parallelize(range(2)).count()
    tracer = Tracer(enabled=True)
    sc.setJobGroup("test-bench-thread", "test-bench-thread")
    try:
        with tracer.span("block"):
            th = threading.Thread(
                target=lambda: sc.parallelize(range(4), 2).count()
            )
            th.start()
            th.join(timeout=120)
    finally:
        sc.setJobGroup(None, None)
    assert not th.is_alive()
    sec, jobs = bench.span_jobs(spark, tracer)["block"]
    assert len(jobs) == 1 and sec > 0
    assert list(sc.statusTracker().getJobIdsForGroup("test-bench-thread")) == []
