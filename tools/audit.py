"""Registry audit: per registered query, the eager Spark jobs its callable
runs while BUILDING the plan, and the task counts of the stages its
consumption runs. One vanilla session (``driver_sim.vanilla_session``),
one sweep, both read from StatusTracker by job group.

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

Usage: python tools/audit.py [query ...]   (default: every query)
Env: AUDIT_SF_DIR (default: the sf0.01 fixture).
Exit 1 if any query errors or exceeds either budget.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
# Budgets sit just above the measured warm counts (in parens; closure
# consumers re-measured 2026-10-17 at sf0.01, budget = count + 2). Known instrument limit: Structured Streaming executes on its
# own threads, which do NOT inherit the driver thread's job group — the
# q_stream_* counts here cover only driver-thread jobs (fixture probes,
# sentinel read-backs); the stream's own micro-batch jobs are measured
# by the differential/bench harnesses instead. Several documented O(K)
# collects (PQ codebooks, waterfill caps, MV manifests) measured ZERO at
# build time — they fire at consumption — so they carry no entry; if a
# refactor moves one to build time this audit flags it for
# re-adjudication.
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
    # r10 v2 (semantic) family: the same closure-family build jobs, now
    # over the merged lexical∪semantic edge table, plus the semantic
    # edge-union the adaptive closure collects at build; the incremental
    # flavor adds the stored-index probe materializations
    "t_corpus_pipeline_sem_e2e": 10,  # (8)
    "t_corpus_pipeline_incremental_v2": 15,  # (13)
    # closure consumer over media-feature pairs (edge checkpoint +
    # bounded collect); the Python decode itself is lazy (persist
    # materializes at consumption)
    "m_media_neardup": 5,  # (3)
    # --- iterative algorithms: per-process-cached loop outputs make the
    #     warm build cheap; the loop itself is the cold build ---
    "m_kmeans_centroids": 4,  # (1)
    "m_pagerank_top20": 4,  # (0 warm / 2 cold — cache build)
    # --- documented O(files) manifest work at build ---
    "q_time_travel_diff": 6,  # (4)
    # --- streaming-in-query driver-thread jobs (see note above) ---
    "q_stream_dedup": 8,
    "q_stream_jsonl_intake": 8,
    "q_stream_semdedup_admit": 8,  # (3)
    # warm build = the empty decisions-sink seed write (one job); the
    # foreachBatch micro-batches run on stream threads (see note above)
    "q_stream_semdedup_admit_v2": 3,  # (1)
    # the delta stream runs at build; its foreachBatch increments run on
    # stream threads (not job-group-attributed, see note above) — the
    # measured driver-thread jobs are the final rollup's closure build
    "t_stream_corpus_increments": 4,  # (2)
    # the v2 sibling: same delta stream at build (stream threads escape
    # attribution), driver-thread jobs are the v2 rollup's closure build
    "t_stream_corpus_increments_v2": 5,  # (3)
    "q_stream_session_agg": 8,
    "q_stream_sliding_agg": 8,
    "q_stream_static_enrich": 8,
    "q_stream_stream_join": 8,
    "q_stream_substring_spans": 8,
    "q_stream_text_intake": 8,
    "q_stream_tumbling_agg": 8,  # (2)
}

# Streaming-in-query entries run micro-batch jobs whose stage counts are
# batch-size artifacts; their consumption is not stage-audited.
STAGE_SKIP = {
    "q_stream_dedup",
    "q_stream_jsonl_intake",
    "q_stream_semdedup_admit",
    "q_stream_session_agg",
    "q_stream_sliding_agg",
    "q_stream_static_enrich",
    "q_stream_stream_join",
    "q_stream_substring_spans",
    "q_stream_text_intake",
    "q_stream_tumbling_agg",
}

# Inspected, DELIBERATE over-budget caches (reported but not counted as
# failures): m_pagerank_top20's 200-partition edge cache carries
# hashpartitioning(src) that every iteration's join REUSES — coalescing
# it would trade task-count overhead for extra edge-list shuffles per
# iteration and lose at scale. Full-registry audit 2026-08-15: 201
# queries, this was the ONLY over-budget entry.
STAGE_ALLOW = {"m_pagerank_top20"}


def run_in_group(sc, group: str, action) -> list[int]:
    """Run ``action()`` under job group *group*; return the group's job ids."""
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group) or [])


def stages_of(sc, job_ids) -> list[tuple[int, int]]:
    """(stage id, task count) of every stage of the given jobs."""
    tracker = sc.statusTracker()
    ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    return [(s, tracker.getStageInfo(s).numTasks) for s in sorted(ids)]


def audit_query(spark, name: str, fn, sf_dir, consume: bool = True):
    """Build ``fn(spark, sf_dir)`` twice and, if *consume*, count the warm
    build once. Returns (cold build jobs, warm build jobs, consumption
    stages as (id, tasks), or None when not consumed)."""
    sc = spark.sparkContext
    built = []
    cold, warm = (
        len(run_in_group(sc, f"build:{name}:{rep}",
                         lambda: built.append(fn(spark, sf_dir))))
        for rep in range(2)
    )
    if not consume:
        return cold, warm, None
    return cold, warm, stages_of(sc, run_in_group(sc, f"consume:{name}", built[-1].count))


def main() -> int:
    from tools.driver_sim import vanilla_session

    spark = vanilla_session()
    budget = spark.sparkContext.defaultParallelism * 2

    import __spark_entry__  # noqa: F401 — populates REGISTRY
    from personal_data_lakehouse_spark.plans.registry import REGISTRY

    names = sys.argv[1:] or sorted(REGISTRY)
    over_eager = over_stage = errors = 0
    for name in sorted(names):
        spark.catalog.clearCache()
        try:
            cold, warm, stages = audit_query(
                spark, name, REGISTRY[name].fn, SF, name not in STAGE_SKIP
            )
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            print(f"{name:32s} ERROR {type(e).__name__}: {e}")
            errors += 1
            continue
        allowed = EAGER_ALLOW.get(name, 0)
        eager = "OK" if warm <= allowed else "OVER"
        over_eager += eager == "OVER"
        big = [st for st in stages or [] if st[1] > budget]
        if stages is None:
            stage = "SKIP"
        elif not big:
            stage = "OK"
        elif name in STAGE_ALLOW:
            stage = "ALLOWED"
        else:
            stage = "OVER"
            over_stage += 1
        print(f"{name:32s} eager {eager:4s} cold={cold:3d} warm={warm:3d} "
              f"budget={allowed:2d}  stages {stage}{' ' + str(big) if big else ''}")
    print(f"\n{len(names)} queries audited: {over_eager} over eager budget, "
          f"{over_stage} over stage budget ({budget} tasks/stage), {errors} errors")
    return 1 if over_eager or over_stage or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
