"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, "sf": ...}. The full record goes to BENCH_LATEST.json.

Each query is forced through the noop sink: every output column is
computed and nothing is collected on the driver.

The timing protocol is fixed, so every run takes the same samples:
- SWEEPS passes over the headline set. In each pass a query runs
  WARM_RUNS times, and the cache is cleared before the next query, so one
  query's persisted intermediates never hold memory while another is timed.
- The first pass also times each query cold, split into plan build
  (DataFrame construction: Catalyst analysis plus any driver-side setup)
  and first execution. Both are fixed costs that amortize to nothing over
  a large input, so they are reported apart from the warm record.
- A query's warm samples from every pass are pooled. "queries" holds their
  median, and BENCH_LATEST.json adds the p90 and the sample count. A
  pooled median moves only when most samples move, so one contended run
  cannot pass for a plan regression; the p90 shows how far the rest spread.
- Each sweep also records how many classes Janino compiled during it and
  the seconds that took ("codegen_compiles"). Warm sweeps find their
  generated code in Spark's codegen cache and compile almost nothing (a
  few classes when AQE re-plans a query).

A run does not try to certify that the host was quiet: CPU steal on a
shared VM is invisible to probes inside the process. Speed changes are
judged by paired, alternating parent/change runs (tools/ab.py).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.spans import Tracer, attribute  # noqa: E402
from personal_data_lakehouse_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)

# Headline set: one query per operator family, each a distinct plan shape.
# R1_BASELINE is the frozen 17-query set the 16.848 s first baseline was
# measured on (BASELINE.md); "baseline17" sums exactly these names, so the
# subtotal stays comparable however HEADLINE grows.
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
    # iterative Pregel-as-joins and the incremental band-index probe
    "m_pagerank_top20",
    "t_neardup_incremental",
    # cell-blocked all-pairs kNN and content-defined substring sampling
    "s_knn_graph",
    "t_crossdoc_spans",
    # the persisted-histogram robust-stats chain and the dedup-first
    # sliding distinct
    "q_anomaly_mad",
    "q_rolling_active_users",
    # exact-substring dedup: anchors -> maximal spans -> per-doc union
    "t_substring_dedup",
    # the raw-text file on-ramp and the streaming substring probe
    "q_text_intake",
    "q_stream_substring_spans",
    # the JSONL on-ramp (schema'd scan + quarantine funnel) and the
    # SemDeDup closure (cell-blocked pairs + label propagation)
    "q_jsonl_intake",
    "t_semdedup_clusters",
    # the six-stage corpus pipeline, the streaming JSONL intake and the
    # online SemDeDup admit probe. q_stream_text_intake is left out: its
    # plan shape is q_stream_jsonl_intake's, so it would time one shape
    # twice.
    "t_corpus_pipeline_e2e",
    "q_stream_jsonl_intake",
    "q_stream_semdedup_admit",
    # the incremental corpus run (MERGE against stage tables), the
    # online-admit v2 loop and the multimodal x IVF near-dup composition
    "t_corpus_pipeline_incremental",
    "q_stream_semdedup_admit_v2",
    "m_media_neardup",
    # the corpus pipeline as a live delta stream over carried state
    "t_stream_corpus_increments",
    # the semantic stage of the incremental corpus state. Its full-recompute
    # sibling t_corpus_pipeline_sem_e2e is left out: it is the e2e plan plus
    # one cell-blocked pair stage, and both are timed here already.
    "t_corpus_pipeline_incremental_v2",
    # the auto-sized codebook (k ∝ √N, k=45 over sf0.1's 1992 candidates,
    # against the fixed k=8 of the other IVF headliners)
    "s_ivf_auto_codebook",
]

# 3 x 3 pooled samples per query: enough for a median that one contended
# sweep cannot move, at a fixed cost per run.
SWEEPS = 3
WARM_RUNS = 3


def summary(runs: list[float]) -> dict:
    """Median, p90 (linear interpolation) and count of a query's samples."""
    return {
        "median": round(statistics.median(runs), 3),
        "p90": round(
            statistics.quantiles(runs, n=10, method="inclusive")[-1], 3
        ),
        "n": len(runs),
        "runs": runs,
    }


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def warm_sweep(spark, qs, names, sf_dir, cold=False) -> dict[str, dict]:
    """One pass over *names*: per query, WARM_RUNS warm runs summarized as
    in ``summary``, preceded, when *cold*, by the cold split: "cold_plan"
    (first build), "cold_exec" (first execution) and "cold_plan2" (a second
    build; the fixtures and in-query artifacts a build manufactures are
    made once per process, so cold_plan minus cold_plan2 is that one-time
    manufacture and cold_plan2 the analysis cost every build pays)."""

    def run(name):
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        rec = {}
        if cold:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            rec["cold_plan"] = round(time.perf_counter() - t0, 3)
            rec["cold_exec"] = _timed(
                df.write.format("noop").mode("overwrite").save
            )
            rec["cold_plan2"] = _timed(lambda: qs[name](spark, sf_dir))
        runs = [_timed(lambda: run(name)) for _ in range(WARM_RUNS)]
        out[name] = {**rec, **summary(runs)}
        spark.catalog.clearCache()
    return out


def sweeps(spark, qs, names, sf_dir) -> tuple[list[dict], list[dict]]:
    """SWEEPS passes of ``warm_sweep``, the first one cold, and the Janino
    compiles of each pass: {"count": classes, "s": seconds}."""
    out, compiles = [], []
    for i in range(SWEEPS):
        n0, s0 = codegen_compiles(spark)
        out.append(warm_sweep(spark, qs, names, sf_dir, cold=i == 0))
        n1, s1 = codegen_compiles(spark)
        compiles.append({"count": n1 - n0, "s": round(s1 - s0, 3)})
    return out, compiles


def span_jobs(spark, tracer: Tracer) -> dict[str, tuple[float, list[int]]]:
    """Wall seconds and Spark job ids of each span *tracer* recorded.

    Jobs are attributed by submission time to the span whose window holds
    them (``perfbench.spans.attribute``), so jobs submitted from threads
    that do not inherit the caller's job group (stream micro-batches) count
    too. The tracer is attached only now, so the spans themselves sampled
    no cache sizes. Spark keeps only its most recent jobs
    (spark.ui.retainedJobs); if no retained job predates the first span,
    the oldest span jobs may be gone, so run one job before tracing.
    """
    tracer.attach(spark)
    jobs = tracer.collect()["jobs"]
    first = min(s["start"] for s in tracer.spans)
    if not any(j["t"] < first for j in jobs):
        raise RuntimeError("Spark evicted job records of the traced spans")
    by_span = attribute(tracer.spans, jobs)
    return {
        s["name"]: (
            round(s["end"] - s["start"], 3),
            sorted(j["jobId"] for j in by_span[s["id"]]),
        )
        for s in tracer.spans
    }


def incremental_vs_rebuild(spark, sf_dir: str) -> dict:
    """Measure the incremental pipeline's scale claim: ONE 20%-of-corpus
    increment against the materialized base state vs a FULL five-table
    rebuild over the union. Both sides materialize all five stage tables
    via eager localCheckpoint (the compute a backfill/merge pays, without
    coupling the number to parquet-write throughput); the base-state
    artifacts are manufactured BEFORE timing. Runs after the headline
    sweeps so its cache churn cannot disturb the record.

    Interpretation contract (SCALE.md §12i): at fixture scale the WALL
    ratio is ~1, NOT ≪1. The sf0.1 corpus carries ~2.5 MB of text, so both
    sides are bound by the eager-job scheduling floor: the increment runs
    MORE jobs (MERGE anti-joins + index probes), the rebuild more text
    work, and at 2.5 MB the text term is invisible. The claim that scales
    is therefore recorded as the DETERMINISTIC inputs, not wall:
    text_rows_* (the increment's documents scans are plan-pinned to the
    batch filter, tests/test_corpus_incremental*.py, so its text term is
    |batch| while the rebuild's is |corpus|) and jobs_* (the fixed floor
    both walls sit on: every job inside the timed window, counted by
    ``span_jobs``, including the eager partition probes the state's
    construction runs before its materialization). At 100 TB the text term
    dominates the job floor by ~6 orders of magnitude and the wall ratio
    approaches text_rows_increment / text_rows_rebuild.

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
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
    )
    from personal_data_lakehouse_spark.similarity.ivf import pick_centroids

    tracer = Tracer(enabled=True)

    def materialize(name, build):
        with tracer.span(name):
            result = build()
            cps = {n: f.localCheckpoint() for n, f in result.state.items()}
            result.release()
        return cps

    docs = t_(spark, sf_dir, "documents")
    thr = round9_ops._inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    n_docs = docs.count()
    n_batch = batch.count()
    state = round9_ops._materialized_base_state(spark, sf_dir, base)
    materialize("inc", lambda: apply_increment(state, batch))
    materialize("rebuild", lambda: build_state(docs))

    # v2: the SAME contract over the seven-table semantic state. The
    # increment's extra terms are batch-only cell assignment + stored-index
    # probes, the rebuild's corpus-wide embed+pair; the vector terms
    # (vec_rows_*) scale exactly like the text terms (the semantic plan
    # pins both batch-side scans).
    #
    # The split is the 80/20 rule over the EMBEDDING id range of the
    # embedded sub-corpus (doc ids ≤ max vec_id). At the gate SFs
    # embeddings span the whole corpus, so this is the identical split; at
    # sf0.1 a full-corpus split would put every vector below the threshold
    # (the EMPTY-probe path). This split loads both semantic pair
    # generators (batch×corpus against the stored cell index AND
    # batch×batch) at every SF; sem_edges_added proves it from the
    # measured run itself.
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
    inc2_cps = materialize(
        "inc2", lambda: apply_increment(state2, batch2, emb_batch, cents)
    )
    materialize("rebuild2", lambda: build_state(docs2, emb, cents))
    # post-timing: the semantic edges the LOADED increment actually added
    # (batch×corpus stored-index probes + batch×batch self-join survivors)
    sem_edges_added = inc2_cps["sem_edges"].count() - n_sem_base

    spans = span_jobs(spark, tracer)

    def record(inc, rebuild):
        (inc_sec, inc_jobs), (rb_sec, rb_jobs) = spans[inc], spans[rebuild]
        return {
            "increment_sec": inc_sec,
            "rebuild_sec": rb_sec,
            "wall_ratio": round(inc_sec / rb_sec, 3),
            "jobs_increment": len(inc_jobs),
            "jobs_rebuild": len(rb_jobs),
        }

    # text_rows_*, vec_rows_*, sem_edges_added and jobs_* are the
    # deterministic, noise-free scale terms (see docstring)
    return {
        **record("inc", "rebuild"),
        "batch_fraction": round(n_batch / n_docs, 3),
        "text_rows_increment": n_batch,
        "text_rows_rebuild": n_docs,
        "v2": {
            **record("inc2", "rebuild2"),
            "text_rows_increment": n_batch2,
            "text_rows_rebuild": n_docs2,
            "vec_rows_increment": n_emb_batch,
            "vec_rows_rebuild": n_emb,
            "sem_edges_added": sem_edges_added,
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="pdl-bench")

    # the one-time cost of importing the registry and binding its oracles
    t0 = time.perf_counter()
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    import_sec = round(time.perf_counter() - t0, 3)
    names = [n for n in HEADLINE if n in qs]

    # JVM/codegen warmup on a trivial plan so the first query isn't
    # charged for startup
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    passes, compiles = sweeps(spark, qs, names, sf_dir)
    warm = {n: summary([r for s in passes for r in s[n]["runs"]]) for n in names}
    timings = {n: w["median"] for n, w in warm.items()}
    cold = {
        k: {n: passes[0][n][k] for n in names}
        for k in ("cold_plan", "cold_plan2", "cold_exec")
    }
    cold["cold_queries"] = {
        n: round(cold["cold_plan"][n] + cold["cold_exec"][n], 3) for n in names
    }

    def baseline17(medians):
        return round(sum(medians[n] for n in R1_BASELINE if n in medians), 3)

    total = round(sum(timings.values()), 3)
    # The stdout line carries only the contract fields and scalar totals:
    # consumers may keep only a bounded tail of stdout, and a line carrying
    # the per-query dicts was once cut mid-object and parsed as null.
    headline = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "baseline17": baseline17(timings),
        "n_headline": len(names),
        "cold_total": round(sum(cold["cold_queries"].values()), 3),
        "cold_plan_total": round(sum(cold["cold_plan"].values()), 3),
        "cold_exec_total": round(sum(cold["cold_exec"].values()), 3),
        "cold_plan2_total": round(sum(cold["cold_plan2"].values()), 3),
        "import_sec": import_sec,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "detail": "BENCH_LATEST.json",
    }
    full = dict(
        headline,
        baseline17_set=R1_BASELINE,
        headline_set=names,
        # measured last, after the sweeps: see incremental_vs_rebuild
        incremental=incremental_vs_rebuild(spark, sf_dir),
        warm=warm,
        sweep_baseline17=[
            baseline17({n: s[n]["median"] for n in names}) for s in passes
        ],
        codegen_compiles=compiles,
        **cold,
        notes=(
            "queries = per-query median of the warm runs of all "
            f"{SWEEPS} sweeps pooled ({WARM_RUNS} runs each); 'warm' adds "
            "each query's p90 and sample count n and keeps the samples; "
            "sweep_baseline17 is baseline17 per sweep, to show drift "
            "within the run. codegen_compiles is the classes Janino "
            "compiled in each sweep and the seconds it took; a warm sweep "
            "that compiles means the codegen cache is smaller than the "
            "working set. cold_plan is DataFrame construction "
            "(Catalyst analysis + any driver-side setup) and cold_exec "
            "the first noop-sink execution, both from sweep 1; "
            "cold_plan2 is a second build in the same process, so "
            "cold_plan minus cold_plan2 is one-time fixture and artifact "
            "manufacture. 'incremental' is one 20% increment against a "
            "full rebuild: at fixture scale both walls sit on the "
            "eager-job floor, so its scale terms are text_rows_*, "
            "vec_rows_* and jobs_* (see incremental_vs_rebuild). "
            "import_sec is the one-time registry import. CPU steal on a "
            "shared VM moves whole runs by up to ±20%, so judge a speed "
            "change by paired A/B runs (tools/ab.py), not by one record."
        ),
    )
    # The full record goes to a file; stdout gets the short headline line,
    # printed LAST so a tail-bounded capture always holds it intact.
    root = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(root, "BENCH_LATEST.json"), "w") as f:
        json.dump(full, f, indent=1)
    spark.stop()
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
