"""Registry audit: per registered query, the Spark jobs its callable
runs while BUILDING the plan, the jobs and stage task counts of its
consumption, and the wall seconds of each. One vanilla session
(``driver_sim.vanilla_session``), one sweep. Jobs are counted by
``bench.span_jobs``: each job belongs to the span (cold build, warm
build, consume) whose window holds its submission time, so the
micro-batch jobs a streaming-in-query build runs on the stream's own
threads count too.

Build: a registry callable is supposed to return a lazy plan — execution
happens when the consumer acts. An eager job at construction time is
driver-side work paid on every plan build (scheduler round-trips,
materializations the optimizer can't see past), invisible to the plan
lint (which inspects the returned plan). Each query is built twice and
the SECOND (warm) build's job count is held to EAGER_ALLOW (absent = 0):
fixture/artifact manufacture is once per process by design
(streaming/windows.source_fixture_dir), so only steady-state construction
cost is budgeted. Every allowed job must be a documented design decision
— a bounded O(K) collect, a written static artifact, an in-query
streaming run — or it is a bug.

Consume: the warm-built frame is counted once, and any of its stages with
more than one task per core (2 × cores; map stages over many files are
fine) is over budget — the runtime signature of a cached plan pinning a
200-partition shuffle layout (persist()/cache() gets NO AQE coalescing:
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` defaults
false). Runtime counts, not plan text: ``explain`` prints an
InMemoryRelation's child once per REFERENCE, and a textual "200-partition
exchange inside a cached block" grep flagged six queries of which five
were false positives. Run this after any change that adds persist() sites
or build-time work.

Each line prints every span's seconds next to its job count, so one line
per query reads build time against consume time.

Usage: python tools/audit.py [query ...]   (default: every query)
Env: AUDIT_SF_DIR (default: the sf0.01 fixture).
Exit 1 if any query errors or exceeds either budget.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import span_jobs  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

SF = os.environ.get("AUDIT_SF_DIR", "/root/testdata/sf0.01")

# Documented construction-time work (warm-build eager-job budgets).
# Families, with the design decision each rides on:
#  - closure consumers: the raw-edge checkpoint + the bounded
#    limit(cap+1) collect of the adaptive closure (dedup/cluster.py) —
#    O(K) by construction; AQE splits the checkpoint of a shuffling edge
#    plan into one job per stage.
#  - iterative algorithms: k-means / PageRank / BPE run their loops at
#    build time (each round is a checkpoint or a driver fold) — the
#    loop IS the operator; counts scale with the fixed iteration count,
#    never with rows.
#  - O(K) driver collects: sampling thresholds, PQ codebooks, literal
#    centroid injection, calendar bounds — the anti-pattern sweep's
#    accepted collects (VERDICT r7), now counted.
#  - streaming-in-query: the availableNow run + sentinel/read-back jobs.
#  - maintenance/versioned-table ops: O(files) manifest work.
# Budgets sit just above the measured warm counts (in parens; measured
# at sf0.01 by span_jobs, budget = count + 2, the largest count where
# runs differ). Several documented O(K) collects (PQ codebooks,
# waterfill caps, MV manifests) measured ZERO at build time — they fire
# at consumption — so they carry no entry; if a refactor moves one to
# build time this audit flags it for re-adjudication.
EAGER_ALLOW: dict[str, int] = {
    # --- adaptive-closure consumers: the raw-edge checkpoint (one job
    #     per edge-plan stage) + the bounded limit(cap+1) collect ---
    "t_dedup_clusters": 8,  # (6)
    "t_dedup_cluster_stats": 8,  # (6)
    "t_dedup_keep_best": 8,  # (6)
    "t_semdedup_clusters": 5,  # (3)
    "t_corpus_pipeline_e2e": 8,  # (6)
    # the incremental run pays the SAME closure-family build jobs over
    # the merged edge table (edge checkpoint + bounded collect), plus the
    # O(1) threshold agg on the first build of a process
    "t_corpus_pipeline_incremental": 11,  # (9)
    # the semantic family: the same closure-family build jobs, over the
    # merged lexical∪semantic edge table, plus the semantic edge-union
    # the adaptive closure collects at build; the incremental flavor adds
    # the stored-index probe materializations
    "t_corpus_pipeline_sem_e2e": 10,  # (8)
    "t_corpus_pipeline_incremental_v2": 15,  # (13)
    # closure consumer over media-feature pairs (edge checkpoint +
    # bounded collect); the Python decode itself is lazy (persist
    # materializes at consumption)
    "m_media_neardup": 5,  # (3)
    # --- iterative algorithms: per-process-cached loop outputs make the
    #     warm build cheap; the loop itself is the cold build ---
    "m_kmeans_centroids": 3,  # (1)
    "m_pagerank_top20": 2,  # (0 warm / 2 cold — cache build)
    # --- documented O(files) manifest work at build ---
    "q_time_travel_diff": 6,  # (4)
    # --- streaming-in-query: the availableNow run's micro-batch jobs
    #     (on the stream's own threads) + sentinel/read-back jobs ---
    "q_stream_dedup": 5,  # (3)
    "q_stream_jsonl_intake": 5,  # (3)
    "q_stream_semdedup_admit": 5,  # (3)
    "q_stream_session_agg": 6,  # (4)
    "q_stream_sliding_agg": 6,  # (4)
    "q_stream_static_enrich": 5,  # (3)
    "q_stream_stream_join": 6,  # (4)
    "q_stream_substring_spans": 4,  # (2)
    "q_stream_text_intake": 5,  # (3)
    "q_stream_tumbling_agg": 6,  # (4)
    # the empty decisions-sink seed write, then one foreachBatch per
    # micro-batch: the admit probe against the earlier epochs' index
    "q_stream_semdedup_admit_v2": 23,  # (21)
    # the delta stream runs at build: each foreachBatch increment merges
    # into the carried corpus state and checkpoints it, then the final
    # rollup runs the closure build
    "t_stream_corpus_increments": 102,  # (100)
    # the semantic sibling: the same stream over the seven-table state.
    # Its count varies by a few jobs (146-149) from build to build, in
    # AQE stage jobs and carried-state localCheckpoint jobs.
    "t_stream_corpus_increments_v2": 151,  # (149)
    # the decontamination spine's delta stream runs at build: each
    # micro-batch merges into the carried spine and checkpoints both
    # carried frames
    "t_stream_decontaminate": 14,  # (12)
}

# Inspected, DELIBERATE over-budget caches (reported but not counted as
# failures): m_pagerank_top20's 200-partition edge cache carries
# hashpartitioning(src) that every iteration's join REUSES — coalescing
# it would trade task-count overhead for extra edge-list shuffles per
# iteration and lose at scale. In the full-registry audit (230 queries,
# sf0.01) it is the ONLY over-budget entry.
STAGE_ALLOW = {"m_pagerank_top20"}


def stages_of(sc, job_ids) -> list[tuple[int, int]]:
    """(stage id, task count) of every stage of the given jobs that Spark
    still retains: past spark.ui.retainedStages it drops skipped stages
    first, and a skipped stage runs no tasks."""
    tracker = sc.statusTracker()
    ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    infos = ((s, tracker.getStageInfo(s)) for s in sorted(ids))
    return [(s, info.numTasks) for s, info in infos if info is not None]


def audit_query(spark, fn, sf_dir) -> dict[str, tuple[float, list[int]]]:
    """Build ``fn(spark, sf_dir)`` twice, then count the warm build once,
    each inside its own span; return ``bench.span_jobs`` of the spans
    "cold", "warm" and "consume"."""
    tracer = Tracer(enabled=True)
    built = []
    for rep in ("cold", "warm"):
        with tracer.span(rep):
            built.append(fn(spark, sf_dir))
    with tracer.span("consume"):
        built[-1].count()
    return span_jobs(spark, tracer)


def main() -> int:
    from tools.driver_sim import vanilla_session

    spark = vanilla_session()
    sc = spark.sparkContext
    budget = sc.defaultParallelism * 2
    # span_jobs needs a retained job older than the first query's spans
    sc.parallelize([0]).count()

    import __spark_entry__  # noqa: F401 — populates REGISTRY
    from personal_data_lakehouse_spark.plans.registry import REGISTRY

    names = sys.argv[1:] or sorted(REGISTRY)
    over_eager = over_stage = errors = 0
    for name in sorted(names):
        spark.catalog.clearCache()
        try:
            spans = audit_query(spark, REGISTRY[name].fn, SF)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            print(f"{name:32s} ERROR {type(e).__name__}: {e}")
            errors += 1
            continue
        allowed = EAGER_ALLOW.get(name, 0)
        eager = "OK" if len(spans["warm"][1]) <= allowed else "OVER"
        over_eager += eager == "OVER"
        stages = stages_of(sc, spans["consume"][1])
        big = [st for st in stages if st[1] > budget]
        if not big:
            stage = "OK"
        elif name in STAGE_ALLOW:
            stage = "ALLOWED"
        else:
            stage = "OVER"
            over_stage += 1
        counts = "  ".join(
            f"{k}={len(ids):3d} {sec:6.2f}s" for k, (sec, ids) in spans.items()
        )
        peak = max((tasks for _, tasks in stages), default=0)
        print(f"{name:32s} eager {eager:4s} budget={allowed:3d}  {counts}  "
              f"stages {stage} peak={peak}{' ' + str(big) if big else ''}",
              flush=True)
    print(f"\n{len(names)} queries audited: {over_eager} over eager budget, "
          f"{over_stage} over stage budget ({budget} tasks/stage), {errors} errors")
    return 1 if over_eager or over_stage or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
