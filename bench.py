"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, "sf": ...}.

Each query is forced through the noop sink (full computation of every output
column, no driver-side collection) — the honest way to time a Spark plan.

Timing protocol: each query executes once cold, split into plan-build
(DataFrame construction — Catalyst analysis plus any O(K) driver-side
setup a query performs) and first execution (recorded under "cold_plan" /
"cold_exec"; their sum is "cold_queries" — a fixed cost that amortizes to
nothing over a 100 TB input), then THREE warm runs; "queries" records the
per-query MEDIAN (summed into "value") so a single host-contention spike
(this VM swings up to 4x/query) can't masquerade as a plan regression.
"warm_runs" keeps the raw samples for spread inspection.

Contention protocol (round 6 — two rounds of officially-unusable numbers
demanded a harness answer, not a hope for a quiet box):
- A fixed CANARY plan (8-partition range-sum, cost independent of every
  headline query) is timed three times before the sweep and once after
  each query. Host contention inflates the canary exactly as it inflates
  the queries, so canary p90/median is a machine-readable quietness
  certificate (p90, not max: contention is SUSTAINED inflation — one
  100ms scheduling hiccup must not flip the bit).
- Any query whose warm triple spreads >1.5x max/min is automatically
  re-run up to two more times (median over all samples).
- If the sweep certifies noisy (canary_spread > 2.0), additional WARM
  sweeps run (up to 5 total) and ALL sweeps' warm runs pool into the
  per-query medians (round 12: the old quiet-sweeps-only selection
  measurably anti-selected on this host — the canary probes pay the
  contention spikes that pooled medians absorb, so the one "quiet"
  sweep of run 3 was its slowest by 40%). Cold metrics always come
  from the first sweep (later sweeps run on a warm JVM).
- Cross-run certificate (round 12): the canary is blind to HOST-side
  steal, so "quiet_box" IS the cross-run term — >=3 runs of the same
  code fingerprint agreeing within 5% on baseline17
  (BENCH_HISTORY.jsonl / BENCH_CERT.json — see cross_run_certificate).
The cache is cleared between queries so one query's persisted
intermediates never occupy memory during another's timing (and a
long-lived bench driver doesn't accumulate cached blocks — the registry
contract expects the harness to clearCache between queries, as
tools/gen_plan_goldens.py does).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from personal_data_lakehouse_spark.session import get_spark

# Headline set: one per operator family — agg pipeline, star join, top-k
# join, selective scan, row-level cleaning, window, event-time bucketing,
# plus the extension ops (text/dedup/similarity) as they land.
# R1_BASELINE is the FROZEN 17-query set the 16.848s round-1 baseline was
# measured on (BASELINE.md convention); "baseline17" sums exactly these.
# Later rounds only ever append to HEADLINE, but the explicit name list —
# not a positional slice — is what keeps the subtotal apples-to-apples
# (the old `HEADLINE[:17]` slice plus a prose comment drifted: r5 added
# six queries, the comment said two).
R1_BASELINE = [
    "q01_pricing_summary",
    "q02_monthly_rollup",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_revenue_forecast",
    "q07_nation_volume",
    "q_silver_cleaning",
    "q_window_topk",
    "q_grouping_sets",
    "q_tumbling_window",
    "q_asof_join",
    "q_merge_upsert",
    "t_fingerprint",
    "t_minhash_lsh_pairs",
    "t_embed_neardup",
    "s_cosine_topk",
    "s_ivf_ann_topk",
]
HEADLINE = R1_BASELINE + [
    # round-5 additions (VERDICT r4 item 6): the two most architecturally
    # novel wave-2 plans — iterative Pregel-as-joins and the incremental
    # band-index probe — enter the regression floor here.
    "m_pagerank_top20",
    "t_neardup_incremental",
    # round-5 additions: the two most architecturally novel r5 plans —
    # cell-blocked all-pairs kNN and content-defined substring sampling
    "s_knn_graph",
    "t_crossdoc_spans",
    # round-5 wave-10 additions: the persisted-histogram robust-stats
    # chain and the dedup-first sliding-distinct — both new plan shapes
    # with no timing history
    "q_anomaly_mad",
    "q_rolling_active_users",
    # round-6 addition: full exact-substring dedup (anchors -> maximal
    # spans -> per-doc interval union) — the round's new plan shape
    "t_substring_dedup",
    # round-7 additions: the raw-text file on-ramp (text scan -> content
    # ids -> dedup -> gates) and the streaming substring probe (stateless
    # stream-static anchor join + span assembly) — both new plan shapes
    "q_text_intake",
    "q_stream_substring_spans",
    # late round-7 additions: the JSONL on-ramp (schema'd Jackson scan +
    # quarantine funnel) and the SemDeDup closure (cell-blocked pairs +
    # two-hop label propagation) — both new plan shapes
    "q_jsonl_intake",
    "t_semdedup_clusters",
    # round-8 additions: the capstone six-stage corpus pipeline rollup,
    # the streaming JSONL intake (multi-micro-batch quarantine parity),
    # and the online SemDeDup admit probe — all new plan shapes.
    # (q_stream_text_intake is deliberately NOT a headliner: its plan
    # shape — file-source ledger + stateless map projection + sink-scan
    # rollup — is identical to q_stream_jsonl_intake's, so timing it
    # would double-count the same shape's regression signal.)
    "t_corpus_pipeline_e2e",
    "q_stream_jsonl_intake",
    "q_stream_semdedup_admit",
    # round-9 additions: the incremental corpus-pipeline run (batch MERGE
    # against materialized stage tables), the online-admit v2 loop
    # (foreachBatch index maintenance + per-cell sequential resolution),
    # and the multimodal-kernel × IVF near-dup composition — all new
    # plan shapes with no timing history
    "t_corpus_pipeline_incremental",
    "q_stream_semdedup_admit_v2",
    "m_media_neardup",
    # late round-9 addition: the capstone pipeline as a live delta
    # stream (foreachBatch increments over carried checkpointed state)
    "t_stream_corpus_increments",
    # round-10 addition: the SEMANTIC stage in the incremental corpus
    # state (seven-table MERGE, stored-cell-index probe, merged-edge
    # closure) — the round's one new plan shape. Its full-recompute
    # sibling t_corpus_pipeline_sem_e2e is deliberately NOT a headliner:
    # it is the v1 e2e plan plus one cell-blocked pair stage, both of
    # which already carry timing signal (t_corpus_pipeline_e2e,
    # t_semdedup_clusters) — and the r9 cold-plan watch item argues for
    # restraint in headline growth.
    "t_corpus_pipeline_incremental_v2",
    # late round-10 addition: the AUTO-SIZED codebook near-dup — the
    # k ∝ √N deployment rule as a benched data point (k=45 over sf0.1's
    # 1992 candidates vs the fixed k=8 the other IVF headliners run):
    # the larger-codebook bench point VERDICT r9 item 4 asked for.
    "s_ivf_auto_codebook",
]

# A warm triple spreading beyond this max/min ratio triggers automatic
# re-measurement (up to MAX_EXTRA extra runs; median over all samples).
SPREAD_RETRY = 1.5
MAX_EXTRA = 2
# Official record = pooled median over at least this many QUIET sweeps
# (VERDICT r6 item 6: the documented 11.10-15.53s host band makes any
# single sweep ±20% noise — spend the wall-clock). Noisy sweeps don't
# count toward the quorum; give up after MAX_SWEEPS total either way.
MIN_QUIET_SWEEPS = 3
MAX_SWEEPS = 5
QUIET_SPREAD = 2.0


# Cross-run certificate (r12, VERDICT r11 directive #2): the in-process
# canary is blind to HOST-side steal (measured 2026-08-14: baseline17
# spans 11.10-15.53s across certified runs with the canary quiet), so a
# single-run quiet bit can certify noise — r11's driver record carried
# quiet_box=true over sweeps spanning 10.98-19.08s. The machine-checkable
# replacement codifies what SCALE.md §12i did in prose: every run appends
# its baseline17 to BENCH_HISTORY.jsonl keyed by a CODE FINGERPRINT
# (sha256 of the engine sources + bench + entry file), and quiet_box is
# set only when >= CERT_MIN_RUNS runs of the SAME code agree within
# CERT_BAND (max/min over the best such cluster). The certification
# record also lands in BENCH_CERT.json so the driver's overwrite of
# BENCH_LATEST.json can never orphan the cross-run evidence.
CERT_MIN_RUNS = 3
CERT_BAND = 1.05
CERT_KEEP = 8  # most recent same-code runs considered


def code_fingerprint() -> str:
    import hashlib

    root = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    paths = [
        os.path.join(root, "bench.py"),
        os.path.join(root, "__spark_entry__.py"),
    ]
    pkg = os.path.join(root, "personal_data_lakehouse_spark")
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith((".py", ".sql")):
                paths.append(os.path.join(dirpath, f))
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cross_run_certificate(fingerprint: str, sf: str, baseline17: float,
                          value: float, root: str | None = None) -> dict:
    """Append this run to the history ledger and compute the cross-run
    agreement term over same-code, same-sf runs (including this one).
    cert_agree = some CERT_MIN_RUNS of the last CERT_KEEP runs agree
    within CERT_BAND (closest cluster by sorted sliding window)."""
    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    hist_path = os.path.join(root, "BENCH_HISTORY.jsonl")
    entry = {
        "ts": round(time.time(), 1),
        "fingerprint": fingerprint,
        "sf": sf,
        "baseline17": baseline17,
        "value": value,
    }
    with open(hist_path, "a") as f:
        f.write(json.dumps(entry) + "\n")
    runs: list[float] = []
    with open(hist_path) as f:
        for line in f:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if rec.get("fingerprint") == fingerprint and rec.get("sf") == sf:
                runs.append(rec["baseline17"])
    runs = runs[-CERT_KEEP:]
    best_band, best_cluster = None, []
    srt = sorted(runs)
    for i in range(0, max(0, len(srt) - CERT_MIN_RUNS + 1)):
        window = srt[i : i + CERT_MIN_RUNS]
        band = window[-1] / max(window[0], 1e-9)
        if best_band is None or band < best_band:
            best_band, best_cluster = band, window
    agree = best_band is not None and best_band <= CERT_BAND
    cert = {
        "fingerprint": fingerprint,
        "sf": sf,
        "cert_runs": runs,
        "cert_n_runs": len(runs),
        "cert_min_runs": CERT_MIN_RUNS,
        "cert_band_limit_pct": round((CERT_BAND - 1) * 100, 1),
        "cert_band_pct": (
            round((best_band - 1) * 100, 2) if best_band else None
        ),
        "cert_cluster": best_cluster,
        "cert_agree": agree,
    }
    with open(os.path.join(root, "BENCH_CERT.json"), "w") as f:
        json.dump(cert, f, indent=1)
    return cert


def canary(spark) -> float:
    """Fixed-cost probe plan: 8-partition range sum, no shuffle, no scan.

    Its runtime depends only on host/JVM conditions, never on headline
    code, so its spread across the sweep is a machine-readable
    contention certificate."""
    t0 = time.perf_counter()
    (
        spark.range(0, 1 << 26, 1, 8)
        .selectExpr("sum(id * 3 + 1) AS s")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.perf_counter() - t0, 3)


def _loadavg() -> list[float]:
    """Host 1/5/15-min load — recorded per sweep for cross-round forensics
    (informational only: measured 2026-08-14, neither an 8- nor a
    32-partition probe's absolute time tracks this VM's load average,
    so quietness certification stays with the p90/median spread)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def warm_sweep(spark, qs, names, sf_dir, cold_out=None):
    """One full pass over *names*: optional cold measurement (first sweep
    only), three-or-more warm runs per query, canary probes throughout.
    Returns a dict of per-sweep results."""
    load_start = _loadavg()
    canary_runs: dict[str, float] = {}
    for i in range(3):
        canary_runs[f"pre{i}"] = canary(spark)
    timings: dict[str, float] = {}
    warm_runs: dict[str, list[float]] = {}
    retried: list[str] = []
    for name in names:
        if cold_out is not None:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            plan_s = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_s = round(time.perf_counter() - t0, 3)
            # Second plan build, same process (r10, VERDICT r9 item 3):
            # source fixtures and in-query state artifacts are
            # manufactured at most once per process (_SUCCESS-gated), so
            # cold_plan - cold_plan2 isolates MANUFACTURE + first
            # artifact read from the RECURRING Catalyst-analysis cost
            # every invocation pays (cold_plan2 ≈ the build portion of
            # each warm run). Attribution lives in the record; the
            # honesty split stays mechanical instead of prose.
            t0 = time.perf_counter()
            qs[name](spark, sf_dir)
            plan2_s = round(time.perf_counter() - t0, 3)
            cold_out["cold_plan"][name] = plan_s
            cold_out["cold_plan2"][name] = plan2_s
            cold_out["cold_exec"][name] = exec_s
            cold_out["cold_queries"][name] = round(plan_s + exec_s, 3)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        extra = 0
        while max(runs) / max(min(runs), 1e-9) > SPREAD_RETRY and extra < MAX_EXTRA:
            if name not in retried:
                retried.append(name)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            extra += 1
        warm_runs[name] = runs
        # true median — sorted()[n//2] is the UPPER-middle element when
        # retries make the sample count even, biasing the record high
        timings[name] = round(statistics.median(runs), 3)
        canary_runs[name] = canary(spark)
        # no cached-block carryover between queries (registry contract)
        spark.catalog.clearCache()
    c_vals = sorted(canary_runs.values())
    c_med = statistics.median(c_vals)
    c_p90 = c_vals[min(int(len(c_vals) * 0.9), len(c_vals) - 1)]
    spread = round(c_p90 / max(c_med, 1e-9), 2)
    return {
        "timings": timings,
        "warm_runs": warm_runs,
        "retried": retried,
        "canary_runs": canary_runs,
        "canary_spread": spread,
        "quiet": spread <= QUIET_SPREAD,
        "loadavg": [load_start, _loadavg()],
    }


def incremental_vs_rebuild(spark, sf_dir: str) -> dict:
    """Measure the incremental pipeline's headline scale claim: ONE
    20%-of-corpus increment against the materialized base
    state vs a FULL five-table rebuild over the union. Both sides
    materialize all five stage tables via eager localCheckpoint (the
    compute a backfill/merge pays, without coupling the number to
    parquet-write throughput); the base-state artifacts are manufactured
    BEFORE timing (the standing honesty split). Runs AFTER the headline
    sweeps so its cache churn cannot disturb the record.

    Interpretation contract (documented in SCALE.md §12i):
    at fixture scale the WALL ratio is ~1, NOT ≪1 — the sf0.1 corpus
    carries ~2.5 MB of text, so both sides are bound by the eager-job
    scheduling floor (~40 jobs each; the increment runs MORE jobs — five
    MERGE anti-joins + index probes — while the rebuild runs more text
    work, and at 2.5 MB the text term is invisible). The claim that
    scales is therefore recorded as the DETERMINISTIC inputs, not wall:
    text_rows_* (the increment's documents scans are plan-pinned to the
    batch filter — tests/test_corpus_incremental*.py — so its text term
    is |batch| while the rebuild's is |corpus|) and jobs_* (the fixed
    floor both walls sit on). At 100 TB the text term dominates the job
    floor by ~6 orders of magnitude and the wall ratio approaches
    text_rows_increment / text_rows_rebuild.

    The .v2 record (seven-table semantic state) runs over the EMBEDDED
    sub-corpus with the 80/20 rule applied to the embedding id range —
    identical to the full split at the gate SFs, and at sf0.1 the only
    split under which the increment's semantic probes carry actual
    vectors (the fixture embeds only the lowest 2000 of 5000 doc ids; a
    full-corpus split measures the empty-probe path). vec_rows_* and
    sem_edges_added are its vector-side scale terms."""
    from pyspark.sql import functions as F

    from personal_data_lakehouse_spark.corpus_incremental import (
        apply_increment,
        build_state,
    )
    from personal_data_lakehouse_spark.plans import round9_ops
    from personal_data_lakehouse_spark.plans.registry import t as t_

    docs = t_(spark, sf_dir, "documents")
    thr = round9_ops._inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    n_docs = docs.count()
    n_batch = batch.count()
    state = round9_ops._materialized_base_state(spark, sf_dir, base)
    tracker = spark.sparkContext.statusTracker()

    def _materialize(group, result):
        spark.sparkContext.setJobGroup(group, group)
        try:
            cps = {
                n: frame.localCheckpoint()
                for n, frame in result.state.items()
            }
            result.release()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group) or []), cps

    t0 = time.perf_counter()
    inc_jobs, _ = _materialize(
        "inc_vs_rebuild:inc", apply_increment(state, batch)
    )
    inc_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    rebuild_jobs, _ = _materialize(
        "inc_vs_rebuild:rebuild", build_state(docs)
    )
    rebuild_sec = time.perf_counter() - t0

    # ---- v2: the SAME contract over the seven-table semantic state —
    # the increment's extra terms are batch-only cell assignment +
    # stored-index probes, the rebuild's are corpus-wide embed+pair; the
    # deterministic vector terms (vec_rows_*) scale exactly like the text
    # terms (the semantic plan pins both batch-side scans).
    #
    # v2 runs over the EMBEDDED sub-corpus (doc ids ≤ max vec_id) with
    # the same 80/20 rule applied to the EMBEDDING id range. At the gate
    # SFs embeddings span the whole corpus, so this is the identical
    # split; at sf0.1 the fixture embeds only the lowest 2000 of 5000 doc
    # ids, and a full-corpus split would put every vector below the
    # threshold (the EMPTY-probe path). The re-split loads both semantic
    # pair generators (batch×corpus against the stored cell index AND
    # batch×batch) at every SF; sem_edges_added proves it from the
    # measured run itself.
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
    )
    from personal_data_lakehouse_spark.similarity.ivf import pick_centroids

    emb = t_(spark, sf_dir, "embeddings")
    cents = pick_centroids(emb, _CENTROID_IDS)
    n_emb = emb.count()
    erow = emb.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    elo, ehi = int(erow["lo"]), int(erow["hi"])
    thr2 = ehi - (ehi - elo) // 5
    docs2 = docs.filter(F.col("doc_id") <= ehi)
    base2 = docs2.filter(F.col("doc_id") < thr2)
    batch2 = docs2.filter(F.col("doc_id") >= thr2)
    n_docs2 = docs2.count()
    n_batch2 = batch2.count()
    emb_batch = emb.filter(F.col("vec_id") >= thr2)
    n_emb_batch = emb_batch.count()
    state2 = round9_ops._materialized_base_state(
        spark, sf_dir, base2, emb, cents, tag="corpincL"
    )
    n_sem_base = state2["sem_edges"].count()

    t0 = time.perf_counter()
    (inc2_jobs, inc2_cps) = _materialize(
        "inc_vs_rebuild:inc2",
        apply_increment(state2, batch2, emb_batch, cents),
    )
    inc2_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    rebuild2_jobs, _ = _materialize(
        "inc_vs_rebuild:rebuild2", build_state(docs2, emb, cents)
    )
    rebuild2_sec = time.perf_counter() - t0
    # post-timing: the semantic edges the LOADED increment actually added
    # (batch×corpus stored-index probes + batch×batch self-join survivors)
    sem_edges_added = inc2_cps["sem_edges"].count() - n_sem_base

    return {
        "increment_sec": round(inc_sec, 3),
        "rebuild_sec": round(rebuild_sec, 3),
        "wall_ratio": round(inc_sec / rebuild_sec, 3),
        "batch_fraction": round(n_batch / n_docs, 3),
        # the deterministic, noise-free scale terms (see docstring)
        "text_rows_increment": n_batch,
        "text_rows_rebuild": n_docs,
        "jobs_increment": inc_jobs,
        "jobs_rebuild": rebuild_jobs,
        "v2": {
            "increment_sec": round(inc2_sec, 3),
            "rebuild_sec": round(rebuild2_sec, 3),
            "wall_ratio": round(inc2_sec / rebuild2_sec, 3),
            "text_rows_increment": n_batch2,
            "text_rows_rebuild": n_docs2,
            "vec_rows_increment": n_emb_batch,
            "vec_rows_rebuild": n_emb,
            "sem_edges_added": sem_edges_added,
            "jobs_increment": inc2_jobs,
            "jobs_rebuild": rebuild2_jobs,
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="pdl-bench")

    # VERDICT r5 item 5: attribute how much fixed cost the 200+-query
    # registry import itself carries (18 plan modules, oracle binding).
    t0 = time.perf_counter()
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    import_sec = round(time.perf_counter() - t0, 3)

    names = [n for n in HEADLINE if n in qs]

    # JVM/codegen warmup on a trivial plan so q1 isn't charged for startup;
    # two throwaway canary runs absorb the probe's own codegen compile.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    canary(spark)
    canary(spark)

    cold_out = {
        "cold_plan": {},
        "cold_plan2": {},
        "cold_exec": {},
        "cold_queries": {},
    }
    sweeps = [warm_sweep(spark, qs, names, sf_dir, cold_out=cold_out)]
    while (
        sum(s["quiet"] for s in sweeps) < MIN_QUIET_SWEEPS
        and len(sweeps) < MAX_SWEEPS
    ):
        sweeps.append(warm_sweep(spark, qs, names, sf_dir))
    # r12 pooling policy: EVERY sweep's warm runs enter the per-query
    # median pool. The old quiet-sweeps-only selection anti-selected on
    # this host — measured r12 run 3: four sweeps agreed at 9.7-10.9 s
    # baseline17 but carried canary spreads 2.18-2.83 (the canary probes
    # pay contention spikes the pooled medians absorb), while the ONE
    # canary-quiet sweep read 14.68 s and became the official record
    # alone, discarding 12 agreeing samples per query for 3 slow ones.
    # A pooled median over >=15 samples is robust to a contended
    # minority of sweeps; cross-RUN disagreement is what the cert term
    # below catches. Canary data stays recorded for forensics.
    official = sweeps

    # Pooled per-query median over every warm run of every OFFICIAL sweep
    # (≥9 samples per query on a quiet box) — one sweep landing in a host
    # slow-phase can no longer move the record by itself.
    timings = {
        n: round(
            statistics.median(
                [r for s in official for r in s["warm_runs"][n]]
            ),
            3,
        )
        for n in names
    }
    worst_spread = max(s["canary_spread"] for s in official)
    retried_any = sorted({n for s in official for n in s["retried"]})
    canary_all = {
        f"sweep{i}": s["canary_runs"] for i, s in enumerate(official)
    }
    total = round(sum(timings.values()), 3)
    baseline17 = round(sum(timings[n] for n in R1_BASELINE if n in timings), 3)
    cert = cross_run_certificate(code_fingerprint(), sf, baseline17, total)
    inc_record = incremental_vs_rebuild(spark, sf_dir)
    # The STDOUT line (r13, VERDICT r12 directive #2): the driver captures
    # a bounded TAIL of stdout, and r11's record embedded five per-query
    # dicts (~9 KB) — the capture started mid-object, BENCH_r11.json
    # parsed null, and the r12 round-over-round comparison was empty.
    # The final line now carries ONLY the contract fields (metric, value,
    # unit, per-query medians, sf) plus scalar attribution totals and the
    # certificate summary (~2 KB); every per-query dict (cold_plan,
    # cold_plan2, cold_exec, warm_runs, canary_runs), the name lists, the
    # full cert vector and the incremental record live in
    # BENCH_LATEST.json ("detail"). Nothing is dropped from the detail
    # record; nothing was removed or renamed in "queries".
    headline = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "baseline17": baseline17,
        # ("headline_total" dropped per r8 ADVICE: it duplicated "value" —
        # one canonical field for the headline sum.)
        "n_headline": len(names),
        "canary_spread": worst_spread,
        # r12 (VERDICT r11 directive #2): quiet_box IS the cross-run
        # certificate — >=3 same-code runs agreeing within 5% on
        # baseline17. The in-process canary proved blind to host steal
        # (r11) and anti-correlated with sweep quality (r12 run 3); its
        # data stays recorded (canary_quiet, canary_runs) as forensics,
        # not as a gate.
        "canary_quiet": all(s["quiet"] for s in official),
        "quiet_box": cert["cert_agree"],
        # compact cert summary — the full run vector stays in the detail
        # record and BENCH_CERT.json (its standing home)
        "cert_band_pct": cert["cert_band_pct"],
        "cert_n_runs": cert["cert_n_runs"],
        "fingerprint": cert["fingerprint"],
        "n_sweeps": len(sweeps),
        "n_official_sweeps": len(official),
        # cold attribution (VERDICT r5 item 5): registry import is a
        # one-time ~0.05s — the r3->r5 cold-total drift is first-execution
        # cost of a growing headline set (codegen compile + run), which
        # amortizes to nothing at 100 TB, not per-query plan compilation.
        "cold_total": round(sum(cold_out["cold_queries"].values()), 3),
        "cold_plan_total": round(sum(cold_out["cold_plan"].values()), 3),
        "cold_exec_total": round(sum(cold_out["cold_exec"].values()), 3),
        "cold_plan2_total": round(sum(cold_out["cold_plan2"].values()), 3),
        "import_sec": import_sec,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "detail": "BENCH_LATEST.json",
    }
    full = dict(
        headline,
        # VERDICT r7 item 6: the record stays self-describing — the FROZEN
        # baseline17 name list (the r1-comparable trend series) and the
        # current full set live in the detail record.
        baseline17_set=R1_BASELINE,
        headline_set=names,
        cert=cert,
        # VERDICT r9 item 6: the incremental scale claim as a measured
        # ratio — one 20%-batch increment against the materialized base
        # state vs a full five-table rebuild (both fully materialized;
        # measured after the sweeps, see incremental_vs_rebuild)
        incremental=inc_record,
        warm_runs={
            n: [r for s in official for r in s["warm_runs"][n]]
            for n in names
        },
        cold_queries=cold_out["cold_queries"],
        cold_plan=cold_out["cold_plan"],
        cold_plan2=cold_out["cold_plan2"],
        cold_exec=cold_out["cold_exec"],
        cold_plan_total=round(sum(cold_out["cold_plan"].values()), 3),
        cold_exec_total=round(sum(cold_out["cold_exec"].values()), 3),
        cold_total=round(sum(cold_out["cold_queries"].values()), 3),
        import_sec=import_sec,
        canary_runs=canary_all,
        retried=retried_any,
        sweep_spreads=[s["canary_spread"] for s in sweeps],
        sweep_loadavg=[s["loadavg"] for s in sweeps],
        sweep_baseline17=[
            round(sum(s["timings"][n] for n in R1_BASELINE if n in s["timings"]), 3)
            for s in sweeps
        ],
        notes=(
            "Contention certificate: canary_spread = p90/median over a "
            "fixed-cost probe timed before the sweep and after every "
            "query; reported value is the WORST spread among pooled "
            "sweeps. Official record (r12 pooling policy) = per-query "
            "median over every warm run of EVERY sweep (noisy-phase "
            "sweeps trigger extra sweeps, up to 5 total, ALL pooled — "
            "sweep_spreads/sweep_baseline17 record each attempt; the "
            "old quiet-sweeps-only selection measurably anti-selected: "
            "r12 run 3's one canary-quiet sweep was its slowest by 40%). "
            "quiet_box (r12) IS the cross-run certificate ('cert'): >=3 "
            "runs of the SAME code fingerprint agreeing within 5% on "
            "baseline17 (BENCH_HISTORY.jsonl is the ledger, "
            "BENCH_CERT.json the standing record) — the in-process "
            "canary is blind to host-side steal (it certified noise in "
            "r11) and is kept as forensics only (canary_quiet/"
            "canary_runs). Queries in "
            "'retried' spread >1.5x across their first warm triple and "
            "were re-run (median over all samples). cold_plan is "
            "DataFrame construction (Catalyst analysis + any O(K) "
            "driver-side setup); cold_exec is the first noop-sink "
            "execution; cold always measured on sweep 1. cold_plan2 "
            "(r10) is a second same-process build — cold_plan minus it "
            "is one-time fixture/artifact manufacture, cold_plan2 the "
            "recurring analysis cost. 'incremental' is the increment-"
            "vs-rebuild record (interpretation contract in "
            "incremental_vs_rebuild's docstring + SCALE.md 12i: wall "
            "ratio ~1 at fixture scale is the eager-job floor — 26 vs "
            "17 jobs; the scale terms are the deterministic "
            "text_rows_*/jobs_* fields; .v2 is the same contract over "
            "the seven-table semantic state on the EMBEDDED sub-corpus "
            "split — loaded semantic probes at every SF, r11 — with "
            "vec_rows_*/sem_edges_added its vector terms). import_sec is "
            "the one-time registry import + queries() build. Quiet-box "
            "r4 reference: 12.1s warm / 23.1s cold (baseline17). "
            "Measured 2026-08-14 (8 certified runs, identical code): "
            "baseline17 spans 11.10-15.53s, monotonically slowing "
            "over one evening with the guest idle, guest loadavg "
            "UNCORRELATED (11.1s at load 4, 13.4s at load 0.03) — the "
            "variance is host-side (steal), invisible to guest probes; "
            "judge cross-round deltas against the BAND, not a single "
            "record, and treat ±20% as the VM's noise floor."
        ),
    )
    # Truncation-proofing (BENCH_r04.json parsed null because the old
    # kitchen-sink line was severed by the driver's tail capture): the
    # full record goes to a file; stdout gets ONE short headline line,
    # printed LAST so a tail-bounded capture always contains it intact.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LATEST.json"), "w") as f:
        json.dump(full, f, indent=1)
    spark.stop()
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
