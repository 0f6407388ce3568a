"""Lakehouse benchmark: one seeded workload, one client, closed loop.

Run from the repository root:

    python3 perfbench/run.py --workload sql_reads --seed 1 --seconds 8 --trace 0

The run generates its inputs from ``--seed`` under ``.perfbench_work/``,
starts the engine's session on ``local[<cpus>]``, imports the query
registry, builds and executes every op of the workload once (set-up), then
runs whole passes over the ops in a seeded order: ``--seconds`` over the
workload's nominal pass time, and at least three. An op is one registry
build plus one noop-sink execution. Outputs of the set-up executions are
checked against the DuckDB oracles after the timed passes. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; ``failed / attempted``
is the error rate. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics of the traced ones (spans are written to
``.perfbench_work/traces/``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

import check  # noqa: E402
import gen  # noqa: E402
import spans as sp  # noqa: E402

WORKLOADS = {
    "sql_reads": [
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q05_region_revenue",
        "q_silver_cleaning",
        "q_window_topk",
        "q_merge_upsert",
        "q_anomaly_mad",
    ],
    "corpus_dedup": [
        "t_fingerprint",
        "t_minhash_lsh_pairs",
        "t_semdedup_clusters",
        "s_knn_graph",
        "s_ivf_auto_codebook",
        "m_media_neardup",
    ],
}

# Nominal seconds of one pass; the pass count of a run is derived from
# ``--seconds`` with these, never from measured speed, so that a faster
# change is compared over the same passes (the JIT still warms across them).
NOMINAL_PASS_S = {"sql_reads": 4.0, "corpus_dedup": 7.0}
MIN_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "plans.import_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.gc_ms": "ms",
    "io.scan_files": "count",
    "io.scan_bytes": "B",
    "exchange.shuffle_bytes": "B",
    "exchange.broadcast_bytes": "B",
    "arrow.rows": "count",
    "arrow.bytes_sent": "B",
    "arrow.bytes_received": "B",
    "cache.peak_bytes": "B",
    "trace.overhead_s": "s",
}


def fingerprint() -> str:
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base in ("personal_data_lakehouse_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def cpu_ticks() -> tuple[int, int]:
    """Host CPU time so far, as (steal, total) ticks from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and every process it started, and wait
    for them to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def setup_env(run_dir: str, cpus: int) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )


class Runner:
    """One run of one workload: set-up, timed passes, checks, report."""

    def __init__(self, args, data_dir: str):
        self.args = args
        self.data_dir = data_dir
        self.ops = WORKLOADS[args.workload]
        self.tracer = sp.Tracer(enabled=bool(args.trace))
        self.executions = {op: 0 for op in self.ops}
        self.raised = {op: 0 for op in self.ops}

    def start(self, run_dir: str, cpus: int) -> None:
        from personal_data_lakehouse_spark.session import get_spark

        conf = {
            "spark.driver.memory": f"{min(2048, mem_total_mb() // 4)}m",
            # grow the heap only when live data needs it, not when recent
            # collections took long: peak RSS then follows the engine's
            # memory use instead of the collector's timing
            "spark.driver.extraJavaOptions": "-XX:GCTimeRatio=1",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            # keep every job and SQL execution of the run for attribution
            for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                      "spark.sql.ui.retainedExecutions"):
                conf[k] = "100000"
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                master=f"local[{cpus}]",
                warehouse_dir=os.path.join(run_dir, "warehouse"),
                extra_conf=conf,
            )
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        t0 = time.perf_counter()
        with self.tracer.span("plans.import"):
            import __spark_entry__ as entry

            self.queries = entry.queries()
            self.oracles = entry.oracle_sql()
        self.import_s = time.perf_counter() - t0

    def op(self, name: str, sink: str, traced: bool) -> dict:
        """Build and execute one op: its latency split into build and
        execution, Catalyst phases when traced, the Arrow output for the
        ``arrow`` sink."""
        tr = self.tracer
        self.executions[name] += 1
        rec = {"op": name, "phases": {}}
        t0 = time.perf_counter()
        with tr.span("op", name):
            with tr.span("plans.build", name):
                df = self.queries[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            if traced:
                df._jdf.queryExecution().executedPlan()
                rec["phases"] = sp.phases_ms(df._jdf)
            t2 = time.perf_counter()
            with tr.span("exec", name):
                if sink == "arrow":
                    rec["out"] = df.toArrow()
                else:
                    df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        self.spark.catalog.clearCache()
        rec.update(s=t3 - t0, build_s=t1 - t0, exec_s=t3 - t2)
        return rec

    def setup_ops(self) -> float:
        """First build and execution of every op, output kept for the check."""
        self.outputs = {}
        self.setup_ops_s = {}
        total = 0.0
        for name in self.ops:
            try:
                rec = self.op(name, "arrow", traced=False)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                continue
            total += rec["s"]
            self.setup_ops_s[name] = round(rec["s"], 3)
            self.outputs[name] = check.arrow_rows(rec["out"])
        return total

    def passes(self) -> list[dict]:
        rng = random.Random(self.args.seed)
        n = max(MIN_PASSES, math.ceil(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))
        out: list[dict] = []
        enabled = self.tracer.enabled
        for _ in range(n):
            traced = enabled and len(out) % 2 == 1
            self.tracer.enabled = traced
            order = list(self.ops)
            rng.shuffle(order)
            rec = {"traced": traced, "ops": [], "gc0": self.tracer.gc_ms() if traced else 0}
            t0 = time.perf_counter()
            with self.tracer.span("pass") as span:
                for name in order:
                    try:
                        op = self.op(name, "noop", traced)
                    except Exception:  # noqa: BLE001 - counted as failed
                        self.raised[name] += 1
                        traceback.print_exc()
                        continue
                    rec["ops"].append(op)
            rec["s"] = time.perf_counter() - t0
            rec["span"] = span["id"] if span else None
            rec["gc_ms"] = self.tracer.gc_ms() - rec["gc0"] if traced else 0
            out.append(rec)
        self.tracer.enabled = enabled
        return out

    def check_outputs(self) -> dict[str, bool]:
        from personal_data_lakehouse_spark.plans.registry import TABLES

        con = check.oracle_connection(self.data_dir, TABLES)
        ok = {}
        for name in self.ops:
            if name not in self.outputs or name not in self.oracles:
                ok[name] = False
                continue
            want = check.arrow_rows(con.sql(self.oracles[name]).arrow())
            ok[name] = check.matches(self.outputs[name], want)
        con.close()
        return ok


def end_to_end(runner: Runner, setup_s: float, passes: list[dict]) -> tuple[dict, dict]:
    timed = [p for p in passes if not p["traced"]]
    per_op: dict[str, list[float]] = {}
    for p in timed:
        for o in p["ops"]:
            per_op.setdefault(o["op"], []).append(o["s"])
    op_median = {k: statistics.median(v) for k, v in per_op.items()}
    jvm_pid = runner.spark._jvm.java.lang.ProcessHandle.current().pid()
    values = {
        "setup_s": setup_s,
        # a pass at each op's median latency: steadier than the median of
        # whole-pass times, which one slow stretch of a shared host moves
        "pass_s": sum(op_median.values()),
        "op_geomean_s": statistics.geometric_mean(op_median.values()),
        "peak_rss_mb": vm_hwm_mb("self") + vm_hwm_mb(jvm_pid),
    }
    return values, {
        "n_passes": len(timed),
        "passes_s": [round(p["s"], 3) for p in timed],
        "op_median_s": {k: round(v, 4) for k, v in op_median.items()},
    }


def per_layer(runner: Runner, passes: list[dict]) -> tuple[dict, dict]:
    tr = runner.tracer
    counters = tr.collect()
    by_span = sp.attribute(tr.spans, counters["jobs"])
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    pass_spans = [tr.spans[p["span"]] for p in traced]
    execs = sp.attribute(pass_spans, counters["execs"])
    children: dict[int, list[dict]] = {}
    for s in tr.spans:
        children.setdefault(s["parent"], []).append(s)

    def jobs_under(pass_span, layer):
        ops = children.get(pass_span["id"], [])
        return [
            j
            for o in ops
            for s in children.get(o["id"], [])
            if s["name"] == layer
            for j in by_span.get(s["id"], [])
        ]

    per_pass: list[dict] = []
    for p, ps in zip(traced, pass_spans):
        ph = [o["phases"] for o in p["ops"]]
        ex_jobs = jobs_under(ps, "exec")
        sql: dict[str, float] = {}
        for e in execs.get(ps["id"], []):
            for name, v in e["metrics"].items():
                sql[name] = sql.get(name, 0.0) + v
        per_pass.append(
            {
                "plans.build_s": sum(o["build_s"] for o in p["ops"]),
                "plans.build_jobs": len(jobs_under(ps, "plans.build")),
                "plans.analysis_ms": sum(x.get("analysis", 0.0) for x in ph),
                "plans.optimization_ms": sum(x.get("optimization", 0.0) for x in ph),
                "plans.planning_ms": sum(x.get("planning", 0.0) for x in ph),
                "exec.s": sum(o["exec_s"] for o in p["ops"]),
                "exec.jobs": len(ex_jobs),
                "exec.stages": sum(len(j["stageIds"]) - j["numSkippedStages"] for j in ex_jobs),
                "exec.tasks": sum(j["numTasks"] - j["numSkippedTasks"] for j in ex_jobs),
                "exec.failed_tasks": sum(j["numFailedTasks"] for j in ex_jobs),
                "exec.gc_ms": p["gc_ms"],
                **{name: sql.get(name, 0.0) for name in (
                    "io.scan_files", "io.scan_bytes", "exchange.shuffle_bytes",
                    "exchange.broadcast_bytes", "arrow.rows", "arrow.bytes_sent",
                    "arrow.bytes_received")},
                "cache.peak_bytes": max(
                    (b for t, b in tr.cache_samples if ps["start"] <= t <= ps["end"]),
                    default=0,
                ),
            }
        )
    values = {k: statistics.median(float(pp[k]) for pp in per_pass) for k in per_pass[0]}
    values["session.start_s"] = runner.session_s
    values["plans.import_s"] = runner.import_s
    values["trace.overhead_s"] = statistics.median(p["s"] for p in traced) - statistics.median(
        p["s"] for p in untraced
    )
    self_s = {k: round(v, 4) for k, v in sp.self_times(tr.spans).items()}
    for s in tr.spans:
        js = by_span.get(s["id"], [])
        s["jobs"] = len(js)
        s["tasks"] = sum(j["numTasks"] - j["numSkippedTasks"] for j in js)
    return values, {"self_time_s": self_s, "jobs_total": len(counters["jobs"])}


def write_trace(runner: Runner, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in runner.tracer.spans:
            f.write(json.dumps(s) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Lakehouse benchmark (see perfbench/README.md).")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "personal_data_lakehouse_spark"))
    ):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    ticks0 = cpu_ticks()
    run_dir = os.path.join(WORK, f"run_{args.workload}_s{args.seed}_{os.getpid()}")
    setup_env(run_dir, cpus)
    sys.path.insert(0, ROOT)

    t0 = time.perf_counter()
    data_dir = gen.generate(args.seed, os.path.join(run_dir, f"bench_s{args.seed}"))
    gen_s = time.perf_counter() - t0

    runner = Runner(args, data_dir)
    try:
        runner.start(run_dir, cpus)
        setup_s = runner.session_s + runner.import_s + runner.setup_ops()
        passes = runner.passes()
        t0 = time.perf_counter()
        ok = runner.check_outputs()
        check_s = time.perf_counter() - t0
        if args.trace:
            metrics, extra = per_layer(runner, passes)
            units = PER_LAYER
            trace_path = os.path.join(WORK, "traces", f"{args.workload}_s{args.seed}.jsonl")
            write_trace(runner, trace_path)
            extra["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics, extra = end_to_end(runner, setup_s, passes)
            units = END_TO_END
        java = runner.spark._jvm.System.getProperty("java.version")
    finally:
        if hasattr(runner, "spark"):
            stop_spark(runner.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark

    ticks1 = cpu_ticks()
    attempted = sum(runner.executions.values())
    failed = check.failed_executions(runner.executions, ok, runner.raised)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "error_rate": failed / attempted,
        "checks": ok,
        "gen_s": round(gen_s, 3),
        "session_s": round(runner.session_s, 3),
        "import_s": round(runner.import_s, 3),
        "setup_ops_s": runner.setup_ops_s,
        "check_s": round(check_s, 3),
        "host": {
            "cpus": cpus,
            "mem_mb": mem_total_mb(),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "java": java,
            # share of the host's CPU time taken by its hypervisor during
            # the run: a high value explains a slow run
            "steal_share": round((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 4),
        },
        "fingerprint": fingerprint(),
        **extra,
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
