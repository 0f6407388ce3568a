"""Physical-plan assertions for the wave-4/5/6 operators: the scale claims
in docstrings (broadcasts happen, laterals decorrelate, filters and
partition pruning reach the scan) proven by plan inspection."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401  — populates REGISTRY
from personal_data_lakehouse_spark.plans.registry import REGISTRY, t
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lateral_topn_decorrelates(spark):
    """The correlated LATERAL subquery must compile to a per-key group
    limit + join — not a nested-loop re-execution per outer row."""
    plan = _plan(REGISTRY["q_lateral_topn"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_cdc_apply_broadcasts_changelog(spark):
    plan = _plan(REGISTRY["q_cdc_apply"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_zscore_stats_row_broadcasts(spark):
    plan = _plan(REGISTRY["q_zscore_outliers"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_higher_order_funcs_stay_codegen(spark):
    """Array lambdas must run JVM-side: no Python eval operators."""
    plan = _plan(REGISTRY["q_higher_order_funcs"].fn(spark, SF_DIR))
    assert "Python" not in plan, plan
    assert "Exchange" not in plan, plan  # pure map stage, zero shuffles


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A filter on the hive partition column must prune at planning time:
    the scan's PartitionFilters carries the predicate and only matching
    partition directories are read."""
    path = str(tmp_path / "events_parted")
    ev = t(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts")
    )
    ev.write.partitionBy("day").parquet(path)
    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = _plan(df)
    assert "PartitionFilters" in plan, plan
    # the pruned read touches exactly the matching partition's rows
    expected = ev.filter(F.col("day") == "2024-01-02").count()
    assert df.count() == expected


def test_headline_exchange_budgets(spark):
    """Shuffle-count regression net: each headline query's physical plan
    must not grow new Exchanges (the budget is the measured count of the
    tuned plan — a bump means a lost broadcast, lost partial-agg, or a new
    unintended repartition)."""
    from bench import HEADLINE

    # cached intermediates from other tests swap scans for InMemoryTableScan
    # and shift exchange counts — measure against the cold plan only
    spark.catalog.clearCache()
    budget = {
        "q01_pricing_summary": 2,
        "q02_monthly_rollup": 2,
        "q03_shipping_priority": 3,
        "q05_region_revenue": 7,
        "q06_revenue_forecast": 1,
        "q07_nation_volume": 6,
        "q_silver_cleaning": 0,
        "q_window_topk": 1,
        "q_grouping_sets": 1,
        "q_tumbling_window": 2,
        "q_asof_join": 2,
        "q_merge_upsert": 1,
        "t_fingerprint": 0,
        "t_minhash_lsh_pairs": 12,
        "t_embed_neardup": 6,
        "s_cosine_topk": 3,  # +1: gated min-parallelism repartition (local only)
        "s_ivf_ann_topk": 6,
        # iterative Pregel-as-joins: ~8 exchanges per Lloyd/PageRank round
        # × 5 rounds — the per-iteration join+agg pair IS the algorithm
        "m_pagerank_top20": 41,
        "t_neardup_incremental": 14,
        # 7 = cell-assign window exchange appearing textually per cached
        # side (InMemoryRelation child plans) + the pair join + top-k
        "s_knn_graph": 7,
        # 4 = gram-dedup exchange (textually once per cached join side) +
        # the pair aggregate
        "t_crossdoc_spans": 4,
        # 2 = the (type, cents) histogram aggregate + the event_type
        # shuffle that the median window, the MAD window and the final
        # per-type aggregate all share
        "q_anomaly_mad": 2,
        # 6 textual = the (user, day) grid distinct re-printed per cached
        # branch + the DAU/WAU aggregates + the explode re-group
        "q_rolling_active_users": 6,
        # 7 textual = the gram-occurrence window exchange re-printed per
        # cached join side (InMemoryRelation child plans) + the (pair,
        # delta) run-merge sort, the interval-union window, the two span
        # aggregates, and the doc-length broadcast's child; executed: one
        # gh shuffle + anchor/span-sized windows
        "t_substring_dedup": 7,
        # 1 = the content-id dedup groupBy — the RETURNED funnel plan is
        # scan -> map -> one exchange (the fixture-write stage is eager,
        # outside the plan)
        "q_text_intake": 1,
        # 3 = the (pair, delta) run-merge sort + interval-union window +
        # per-doc span aggregate, all over anchor/span rows read back
        # from the streaming file sink
        "q_stream_substring_spans": 3,
        # 1 = the language-bucket rollup — the RETURNED intake plan is
        # json scan -> map -> one exchange (the jsonl fixture write is
        # eager, outside the plan)
        "q_jsonl_intake": 1,
        # 1 = the BroadcastExchange of the driver-union-find label table
        # (node, cluster_id, cluster_size — a LocalTableScan of the
        # sparse edge-incident labels, sizes counted on the driver; rows
        # ≤ the edge cap by construction)
        "t_semdedup_clusters": 1,
        # 34 textual (r12 optimization: was 39) = the six composed
        # stages' exchanges with the exact-kept and near-kept survivor
        # frames now persisted — the upstream intake/dedup subtree prints
        # once per InMemoryRelation instead of once per consumer branch
        # (and EXECUTES once instead of ~6×: documents FileScans in the
        # sf0.1 plan dropped 12 → 2, plans/r12/); rebalance's min now
        # rides a global window over the |sources|-row count table
        # (one tiny exchange) instead of a second counts branch; the
        # closure is one local label table broadcast (sizes counted on
        # the driver)
        "t_corpus_pipeline_e2e": 24,
        # 1 = the language-bucket rollup over the streaming sink read-back
        "q_stream_jsonl_intake": 1,
        # 10 textual = cell-assign window exchange re-printed per cached
        # reference + closure label/size aggregates + the match
        # aggregate and roster left join over drained candidate rows
        "q_stream_semdedup_admit": 10,
        # 57 textual = the batch-side funnel (fingerprint anti-join +
        # batch-min aggregate, batch LSH index re-printed per cached
        # join side, candidate dedups + verify joins) + the insert-only
        # MERGE anti-joins per stage table + the closure's local label
        # broadcast (sizes counted on the driver) +
        # rebalance/split/pack/rollup — the corpus side
        # reads the five materialized state tables, so EXECUTED cost is
        # O(batch text) + sparse-state joins (see the query docstring)
        # (r12: 57 → 70 textual — the three increment caches (anti-joined
        # batch, batch survivors, canonical survivors) and the rebalance
        # global-min window each add printed boundaries, and nested
        # InMemoryRelations re-print their children per reference, while
        # REMOVING executed re-runs of the merge subtree: documents/fp/
        # skeleton scans in the sf0.1 plan dropped 12/12/12 → 2/2/4,
        # plans/r12/ — the standing 'textual up, executed down' class)
        "t_corpus_pipeline_incremental": 60,
        # 0 = the returned plan reads the decisions file sink back; all
        # per-batch work (assign, probe, greedy, append) ran inside
        # foreachBatch during the availableNow drain
        "q_stream_semdedup_admit_v2": 0,
        # 60 textual — SAME count as the v1 incremental (and the same
        # r12 textual-up/executed-down trade, see above): the semantic stage's extra
        # exchanges (batch cell window, stored-index probe,
        # cells/sem_edges MERGE anti-joins, the edge-union distinct) all
        # feed the sparse edge table, which the adaptive closure COLLECTS
        # at plan build (driver union-find → broadcast LocalTableScan), so
        # they execute eagerly and never print in the returned plan; the
        # 60 that do print are the v1 lexical funnel + derived stages
        "t_corpus_pipeline_incremental_v2": 60,
        # 7 textual = the persisted cell frame's assignment-window
        # exchange re-printed per self-join reference (the
        # t_embed_neardup pattern) + the pair-stage shuffle + the
        # single-partition global aggregate's exchange
        "s_ivf_auto_codebook": 7,
        # 1 = the local label table's BroadcastExchange (the
        # t_semdedup_clusters shape): the feature frame, codebook pick
        # and pair generation all ran at build inside the closure's edge
        # checkpoint, so none of their exchanges print here
        "m_media_neardup": 1,
        # 8 textual (r12 optimization: was 27) = the final increment's
        # derived-decision stages over the CHECKPOINTED carried state
        # (the closure's local label broadcast,
        # rebalance count/global-min window, packing window sort, final
        # rollup) — the per-batch funnel ran inside foreachBatch; the
        # r12 canonical-survivor persist stops the checkpointed-skeleton
        # subtree re-printing (and re-executing) per derived branch
        "t_stream_corpus_increments": 8,
    }
    assert set(budget) == set(HEADLINE)
    for name, allowed in budget.items():
        plan = _plan(REGISTRY[name].fn(spark, SF_DIR))
        got = plan.count("Exchange")
        # budgets are upper bounds, so parallelism-gated repartitions simply
        # not firing on a 1-core runner stays within budget by construction
        assert got <= allowed, f"{name}: {got} exchanges > budget {allowed}"


def test_analyzed_catalog_stats_drive_broadcast(spark):
    """Catalog statistics (ANALYZE TABLE) must be recorded and feed the
    planner's build-side choice: after analysis the 25-row dimension is
    broadcast against the fact scan with no manual hint."""
    spark.sql("CREATE DATABASE IF NOT EXISTS cbo")
    t(spark, SF_DIR, "lineitem").write.mode("overwrite").saveAsTable("cbo.li")
    t(spark, SF_DIR, "nation").write.mode("overwrite").saveAsTable("cbo.na")
    spark.sql("ANALYZE TABLE cbo.li COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE cbo.na COMPUTE STATISTICS")
    stats = (
        spark.sql("DESC EXTENDED cbo.na")
        .filter("col_name = 'Statistics'")
        .collect()
    )
    assert stats and "25 rows" in stats[0].data_type
    li, na = spark.table("cbo.li"), spark.table("cbo.na")
    plan = _plan(li.join(na, li.l_suppkey % 25 == na.n_nationkey))
    assert "BroadcastHashJoin" in plan, plan
