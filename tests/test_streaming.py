"""Structured Streaming: drive the windowed operators + merge sink to
completion with the memory sink / foreachBatch over the events fixture,
and check streaming results equal the batch forms of the same expressions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.plans.registry import t
from personal_data_lakehouse_spark.streaming.windows import (
    merge_sink,
    sessionized_stream,
    stream_events,
    tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture()
def events_stream(spark):
    return stream_events(spark, f"{SF_DIR}/events.parquet")


def _run_to_memory(df, name):
    q = df.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_tumbling_stream_matches_batch(spark, events_stream):
    _run_to_memory(tumbling_counts(events_stream), "tumbling_out")
    streamed = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in t(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_session_stream_runs(spark, events_stream):
    _run_to_memory(sessionized_stream(events_stream, gap="15 minutes"), "sessions_out")
    rows = spark.sql("SELECT * FROM sessions_out").collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r.session_end > r.session_start
        assert r.n_events >= 1


def test_merge_sink_upserts(spark, events_stream, tmp_path):
    spark.sql("DROP TABLE IF EXISTS default.stream_counts")
    agg = tumbling_counts(events_stream).select(
        "window_start", "event_type", "n_events", "total_value"
    )
    q = merge_sink(
        agg,
        "default.stream_counts",
        keys=["window_start", "event_type"],
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = spark.table("default.stream_counts")
    batch_n = (
        t(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .count()
    )
    assert merged.count() == batch_n
    # keys are unique after merge
    assert (
        merged.groupBy("window_start", "event_type").count().filter("count > 1").count()
        == 0
    )


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup: dropDuplicatesWithinWatermark keyed on the
    business key — the streaming counterpart of the bronze insert-only
    MERGE (state bounded by the watermark, unlike a global distinct)."""
    from personal_data_lakehouse_spark.streaming.windows import stream_events

    events = stream_events(spark, f"{SF_DIR}/events.parquet")
    deduped = (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) FROM dedup_stream"
    ).collect()[0][0]
    batch = t(spark, SF_DIR, "events")
    distinct_keys = batch.select("user_id", "event_type").distinct().count()
    # each (user, type) appears at least once; duplicates inside the
    # watermark horizon are suppressed
    assert got >= distinct_keys
    assert got < batch.count()


def test_stream_stream_attribution_join(spark, tmp_path):
    """Stream-stream interval join equals the batch join of the same
    expression: every click matched to the same user's views within the
    30-minute attribution window."""
    from personal_data_lakehouse_spark.streaming.windows import (
        attribution_join,
        stream_events,
    )

    views_s = stream_events(spark, f"{SF_DIR}/events.parquet").filter(
        F.col("event_type") == "view"
    )
    clicks_s = stream_events(spark, f"{SF_DIR}/events.parquet").filter(
        F.col("event_type") == "click"
    )
    joined = attribution_join(views_s, clicks_s)
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.click_id, r.view_id)
        for r in spark.sql("SELECT click_id, view_id FROM attr_join").collect()
    }

    ev = t(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    batch = {
        (r.click_id, r.view_id)
        for r in c.join(
            v,
            F.expr(
                "v_user_id = user_id AND view_ts BETWEEN "
                "click_ts - INTERVAL 30 minutes AND click_ts"
            ),
        ).collect()
    }
    assert len(batch) > 0
    # availableNow single-batch processing can drop late rows the batch join
    # keeps only if watermarks advance mid-run; with one batch they don't.
    assert streamed == batch


def test_python_datasource_streaming_stock_rest(spark, tmp_path):
    """Streaming stock_rest: day-indexed offsets produce one micro-batch
    per trading day; the drained table equals the batch source's rows."""
    from personal_data_lakehouse_spark.io.pysource import StockRestDataSource

    spark.dataSource.register(StockRestDataSource)
    stream = (
        spark.readStream.format("stock_rest")
        .option("symbols", "AAPL,MSFT")
        .option("days", "4")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("stock_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.ticker, r.date): (r.open, r.close, r.volume)
        for r in spark.sql("SELECT * FROM stock_stream_out").collect()
    }
    batch = (
        spark.read.format("stock_rest")
        .option("symbols", "AAPL,MSFT")
        .load()
    )
    want = {
        (r.ticker, r.date): (r.open, r.close, r.volume)
        for r in batch.collect()
        if r.date <= "2026-08-04"  # first 4 days of the 5-day demo feed
    }
    assert got == want and len(got) == 8


def test_merge_sink_restart_from_checkpoint_no_duplicates(spark, tmp_path):
    """Exactly-once across RESTARTS: run the merge sink over batch 1, stop,
    add batch 2, restart from the SAME checkpoint — the second run must
    process only the new file, and replaying the whole pipeline a third
    time (same checkpoint, no new data) must change nothing. The MERGE
    sink + checkpointed offsets together give effective exactly-once."""
    import os

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ev = t(spark, SF_DIR, "events")
    # split by EVENT TIME: batch 2 must not be behind batch 1's advanced
    # watermark, or the 30-min watermark correctly drops it as late
    median_us = ev.select(
        F.unix_micros("ts").alias("us")
    ).approxQuantile("us", [0.5], 0.0)[0]
    median_ts = F.timestamp_micros(F.lit(int(median_us)))
    ev.filter(F.col("ts") <= median_ts).coalesce(1).write.parquet(
        f"{src_dir}/b=0"
    )
    spark.sql("DROP TABLE IF EXISTS default.restart_counts")
    schema = spark.read.parquet(src_dir).schema
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src_dir)
        agg = tumbling_counts(stream).select(
            "window_start", "event_type", "n_events", "total_value"
        )
        q = merge_sink(
            agg,
            "default.restart_counts",
            keys=["window_start", "event_type"],
            checkpoint=ckpt,
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # batch 1 only
    spark.catalog.refreshTable("default.restart_counts")
    n1 = spark.table("default.restart_counts").count()
    ev.filter(F.col("ts") > median_ts).coalesce(1).write.parquet(
        f"{src_dir}/b=1"
    )
    run_once()  # restart: picks up only b=1 from checkpointed offsets
    spark.catalog.refreshTable("default.restart_counts")
    merged = spark.table("default.restart_counts")
    want = (
        spark.read.parquet(src_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert merged.count() == want.count() >= n1
    got = {
        (r.window_start, r.event_type): r.n_events for r in merged.collect()
    }
    for r in want.select(
        F.col("window.start").alias("ws"), "event_type", "n_events"
    ).collect():
        assert got[(r.ws, r.event_type)] == r.n_events
    run_once()  # idempotent replay: no new offsets, no state change
    spark.catalog.refreshTable("default.restart_counts")
    again = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("default.restart_counts").collect()
    }
    assert again == got


def test_stream_static_dimension_join(spark, events_stream):
    """Stream-static join: a streaming fact enriched by a static dimension
    (re-read per micro-batch, no state) — the standard streaming
    dimension-lookup shape. Result must equal the batch join."""
    dim = spark.range(0, 2000).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 5).cast("string").alias("segment"),
    )
    enriched = (
        events_stream.join(F.broadcast(dim), "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    _run_to_memory(enriched, "stream_static_out")
    got = {
        r.segment: r.n_events
        for r in spark.sql("SELECT * FROM stream_static_out").collect()
    }
    want = {
        r.segment: r.n_events
        for r in t(spark, SF_DIR, "events")
        .join(dim, "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_join_restart_from_checkpoint(spark, tmp_path):
    """Stream-stream interval join across a RESTART: run batch 1, stop,
    add batch 2 (later event time), restart from the same checkpoint — the
    union of emitted pairs must equal the batch join over ALL data,
    including cross-batch matches (batch-2 clicks attributed to batch-1
    views still held in join state: those views sit inside the 30-minute
    horizon above the advanced watermark, so eviction must not have
    dropped them)."""
    import os

    from personal_data_lakehouse_spark.streaming.windows import attribution_join

    src = str(tmp_path / "src_ssj")
    os.makedirs(src)
    ev = t(spark, SF_DIR, "events").filter(
        F.col("event_type").isin("view", "click") & F.col("ts").isNotNull()
    )
    median_us = ev.select(F.unix_micros("ts").alias("us")).approxQuantile(
        "us", [0.5], 0.0
    )[0]
    median_ts = F.timestamp_micros(F.lit(int(median_us)))
    ev.filter(F.col("ts") <= median_ts).coalesce(1).write.parquet(f"{src}/b=0")
    schema = spark.read.parquet(src).schema
    ckpt = str(tmp_path / "ckpt_ssj_restart")
    # memory sink cannot recover from a checkpoint — use the file sink,
    # the restartable append sink a real deployment would use
    out_dir = str(tmp_path / "ssj_out")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        joined = attribution_join(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "click"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # batch 1
    n1 = spark.read.parquet(out_dir).count()
    ev.filter(F.col("ts") > median_ts).coalesce(1).write.parquet(f"{src}/b=1")
    run_once()  # restart: only the new file, join state restored
    streamed = {
        (r.click_id, r.view_id)
        for r in spark.read.parquet(out_dir).select("click_id", "view_id").collect()
    }

    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    batch = {
        (r.click_id, r.view_id)
        for r in c.join(
            v,
            F.expr(
                "v_user_id = user_id AND view_ts BETWEEN "
                "click_ts - INTERVAL 30 minutes AND click_ts"
            ),
        ).collect()
    }
    assert streamed == batch
    # the restart actually continued (batch 2 contributed new pairs)
    assert len(streamed) > n1


def test_anomaly_flag_stream_replays_batch_query(spark):
    """The stateful streaming anomaly monitor, drained with availableNow,
    must reproduce q_running_zscore_flags' per-type scored/flagged counts
    exactly — streaming state (n, sx, sxx) IS the batch window."""
    import uuid

    from pyspark.sql import functions as F

    import __spark_entry__  # noqa: F401  — populates REGISTRY
    from personal_data_lakehouse_spark.plans.registry import REGISTRY
    from personal_data_lakehouse_spark.streaming.stateful import (
        anomaly_flag_stream,
    )
    from personal_data_lakehouse_spark.streaming.windows import stream_events

    events = stream_events(spark, f"{SF_DIR}/events.parquet")
    flags = anomaly_flag_stream(events)
    name = f"anom_{uuid.uuid4().hex[:8]}"
    q = (
        flags.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            r["event_type"]: r
            for r in spark.table(name)
            .groupBy("event_type")
            .agg(
                F.sum(F.when(F.col("n_prior") >= 10, 1).otherwise(0))
                .cast("long")
                .alias("n_scored"),
                F.sum(F.when(F.col("flagged"), 1).otherwise(0))
                .cast("long")
                .alias("n_flagged"),
            )
            .collect()
        }
        expect = {
            r["event_type"]: r
            for r in REGISTRY["q_running_zscore_flags"].fn(spark, SF_DIR).collect()
        }
        assert set(got) == set(expect)
        for et in expect:
            assert got[et]["n_scored"] == expect[et]["n_scored"], et
            assert got[et]["n_flagged"] == expect[et]["n_flagged"], et
        assert sum(r["n_flagged"] for r in got.values()) > 0
    finally:
        spark.catalog.dropTempView(name)


def test_anomaly_flag_stream_restart_from_checkpoint(spark, tmp_path):
    """The live anomaly monitor's (n, sx, sxx) state must survive a restart
    bit-exactly: run over batch 1, stop, add batch 2 (later event times),
    restart from the SAME checkpoint — batch-2 events must be scored
    against state accumulated in run 1, and the union of emitted flags
    must equal a single-pass batch recomputation over the full history.
    A third run with no new data must emit nothing (exactly-once)."""
    import os

    from personal_data_lakehouse_spark.streaming.stateful import (
        anomaly_flag_stream,
    )

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    ev = t(spark, SF_DIR, "events")
    median_us = ev.select(F.unix_micros("ts").alias("us")).approxQuantile(
        "us", [0.5], 0.0
    )[0]
    median_ts = F.timestamp_micros(F.lit(int(median_us)))
    ev.filter(F.col("ts") <= median_ts).coalesce(1).write.parquet(
        f"{src_dir}/b=0"
    )
    schema = spark.read.parquet(src_dir).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src_dir)
        flags = anomaly_flag_stream(stream)

        def append(batch, epoch_id):
            batch.write.mode("append").parquet(out_dir)

        q = (
            flags.writeStream.outputMode("update")
            .foreachBatch(append)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # batch 1 only
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0
    ev.filter(F.col("ts") > median_ts).coalesce(1).write.parquet(
        f"{src_dir}/b=1"
    )
    run_once()  # restart: state restored, only b=1 processed
    emitted = spark.read.parquet(out_dir)

    # single-pass batch truth over the full history (same integer test)
    from pyspark.sql import Window

    e = (
        spark.read.parquet(src_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100).cast("long").alias("x"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d19 = "decimal(19,0)"
    xd = F.col("x").cast(d19)
    truth = e.select(
        "event_id",
        "x",
        F.count("x").over(w).alias("n"),
        F.sum(xd).over(w).alias("sx"),
        F.sum(xd * F.col("x")).over(w).alias("sxx"),
    ).select(
        "event_id",
        "x",
        F.col("n").alias("n_prior"),
        (
            (F.col("n") >= 10)
            & (
                (F.col("x").cast(d19) * F.col("n") - F.col("sx"))
                * (F.col("x").cast(d19) * F.col("n") - F.col("sx"))
                > 9
                * (
                    F.col("n") * F.col("sxx")
                    - F.col("sx") * F.col("sx")
                )
            )
        ).alias("flagged"),
    )
    got = {
        r["event_id"]: (r["x"], r["n_prior"], bool(r["flagged"]))
        for r in emitted.collect()
    }
    want = {
        r["event_id"]: (r["x"], r["n_prior"], bool(r["flagged"]))
        for r in truth.collect()
    }
    assert len(got) == len(want)  # every event emitted exactly once
    assert got == want  # state crossed the restart bit-exactly
    run_once()  # idempotent replay: no new offsets, nothing emitted
    assert spark.read.parquet(out_dir).count() == len(want)


def test_neardup_candidate_stream_matches_batch(spark, tmp_path):
    """Online crawl dedup: a streamed batch of documents probed against
    the static corpus band index must produce EXACTLY the candidate set
    and Jaccard values of the batch incremental path
    (lsh_batch_vs_corpus) — the stream computes signatures statelessly
    per row, so banding must be expression-identical to the batch index
    stage. Per-band duplicate emissions collapse under DISTINCT."""
    import os

    from personal_data_lakehouse_spark.dedup.minhash import (
        lsh_batch_vs_corpus,
        neardup_candidate_stream,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
    )

    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    batch_cond = F.col("doc_id") % 5 == 0
    corpus = docs.filter(~batch_cond)
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    docs.filter(batch_cond).coalesce(1).write.parquet(f"{src}/b=0")
    stream = spark.readStream.schema(
        docs.schema
    ).parquet(src)
    cands = neardup_candidate_stream(stream, corpus)
    got = (
        drain_stream_to_parquet(cands, str(tmp_path / "drain"))
        .distinct()
        .collect()
    )
    want = lsh_batch_vs_corpus(docs, batch_cond).collect()
    key = lambda r: (r["batch_id"], r["corpus_id"])  # noqa: E731
    got_m = {key(r): r["jaccard"] for r in got}
    want_m = {key(r): r["jaccard"] for r in want}
    assert len(got) == len(got_m)  # distinct collapsed per-band dups
    assert got_m == want_m
    assert len(want_m) > 0  # fixture actually exercises the probe


def test_substring_anchor_stream_matches_batch(spark, tmp_path):
    """The streaming exact-substring probe must emit exactly the anchor
    set a batch join of the same selected grams produces: stateless
    stream-side gram generation == the batch expressions, and the
    stream-static probe against the viral-capped corpus index preserves
    every (pair, position, delta)."""
    import os

    from personal_data_lakehouse_spark.dedup.substring import (
        gram_index,
        positional_grams,
        substring_anchor_stream,
    )

    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    batch_cond = F.col("doc_id") % 4 == 0
    corpus = docs.filter(~batch_cond)
    idx = gram_index(corpus)
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    docs.filter(batch_cond).coalesce(1).write.parquet(f"{src}/b=0")
    stream = spark.readStream.schema(docs.schema).parquet(src)
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
    )

    got = {
        (r["batch_id"], r["corpus_id"], r["pb"], r["pa"], r["diff"])
        for r in drain_stream_to_parquet(
            substring_anchor_stream(stream, idx), str(tmp_path / "drain")
        ).collect()
    }
    want_df = (
        positional_grams(docs.filter(batch_cond))
        .select(F.col("doc_id").alias("batch_id"), F.col("p").alias("pb"), "gh")
        .join(
            idx.select(
                F.col("doc_id").alias("corpus_id"), F.col("p").alias("pa"), "gh"
            ),
            "gh",
        )
    )
    want = {
        (r["batch_id"], r["corpus_id"], r["pb"], r["pa"], r["pb"] - r["pa"])
        for r in want_df.collect()
    }
    assert got == want
    assert len(want) > 0  # fixture exercises the probe
    idx.unpersist()


def test_text_curation_surface_is_streaming_ready(spark, tmp_path):
    """The text-analysis surface (fingerprint, language-ID, token counts,
    quality features) is pure column expressions, so the same plan must
    run UNCHANGED on a streaming DataFrame and emit batch-identical
    rows — the curation front-door (filter incoming docs before dedup)
    works online with zero state."""
    import os

    from personal_data_lakehouse_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_features,
        token_count_whitespace,
        tokens,
    )

    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")

    def curate(df):
        feats = quality_features(F.col("text"))
        return df.select(
            "doc_id",
            fingerprint("text").alias("fp"),
            lang_id(tokens("text")).alias("lang_guess"),
            token_count_whitespace("text").alias("n_tokens"),
            *[c.alias(k) for k, c in feats.items()],
        )

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    docs.coalesce(1).write.parquet(f"{src}/b=0")
    stream = spark.readStream.schema(docs.schema).parquet(src)
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
    )

    got = {
        r["doc_id"]: tuple(r)
        for r in drain_stream_to_parquet(
            curate(stream), str(tmp_path / "drain")
        ).collect()
    }
    want = {r["doc_id"]: tuple(r) for r in curate(docs).collect()}
    assert got == want
    assert len(want) > 0


def test_streaming_ingest_pipeline_e2e(spark, tmp_path):
    """The full ONLINE ingest pipeline in its production shape — one
    streaming query whose composite foreachBatch (the reference's
    ingest-then-MERGE dataflow, ingest_stocks.py:84-111, upgraded to
    Structured Streaming): curate the incoming documents (stateless
    quality features), gate on quality, MERGE the survivors into a
    bronze table keyed on doc_id, and probe the static corpus LSH index
    for near-dup candidates appended to a candidates sink. Asserts
    batch-identical bronze content, batch-identical candidates, and
    idempotent replay (a fresh run over the same files changes
    nothing — MERGE absorbs redelivery)."""
    import os

    from personal_data_lakehouse_spark.dedup.minhash import (
        lsh_batch_vs_corpus,
    )
    from personal_data_lakehouse_spark.functions.text import (
        token_count_whitespace,
    )
    from personal_data_lakehouse_spark.operators.merge import (
        merge_into_table,
    )

    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    incoming_cond = F.col("doc_id") % 3 == 0
    corpus = docs.filter(~incoming_cond)
    src = str(tmp_path / "incoming")
    cand_dir = str(tmp_path / "cands")
    os.makedirs(src)
    docs.filter(incoming_cond).coalesce(1).write.parquet(f"{src}/b=0")
    spark.sql("DROP TABLE IF EXISTS default.stream_bronze")

    min_tokens = 5

    def curate(df):
        return df.select(
            "doc_id",
            "text",
            token_count_whitespace("text").alias("n_tokens"),
        ).filter(F.col("n_tokens") >= min_tokens)

    def ingest(batch, epoch_id):
        kept = curate(batch).persist()
        merge_into_table(
            batch.sparkSession, "default.stream_bronze", kept, ["doc_id"]
        )
        both = kept.select("doc_id", "text").unionByName(
            corpus.select("doc_id", "text")
        )
        cands = lsh_batch_vs_corpus(both, F.col("doc_id").isin(
            [r["doc_id"] for r in kept.select("doc_id").collect()]
        ))
        cands.write.mode("append").parquet(cand_dir)
        kept.unpersist()

    def run_once(ckpt):
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once(str(tmp_path / "ckpt1"))
    spark.catalog.refreshTable("default.stream_bronze")
    bronze = {
        r["doc_id"]: r["n_tokens"]
        for r in spark.table("default.stream_bronze").collect()
    }
    want_bronze = {
        r["doc_id"]: r["n_tokens"]
        for r in curate(docs.filter(incoming_cond)).collect()
    }
    assert bronze == want_bronze and len(bronze) > 0
    key = lambda r: (r["batch_id"], r["corpus_id"])  # noqa: E731
    got_c = {
        key(r): r["jaccard"]
        for r in spark.read.parquet(cand_dir).distinct().collect()
    }
    kept_ids = set(want_bronze)
    want_c = {
        key(r): r["jaccard"]
        for r in lsh_batch_vs_corpus(
            curate(docs.filter(incoming_cond))
            .select("doc_id", "text")
            .unionByName(corpus),
            F.col("doc_id").isin(list(kept_ids)),
        ).collect()
    }
    assert got_c == want_c and len(want_c) > 0
    # redelivery: a FRESH checkpoint replays every file; MERGE absorbs it
    run_once(str(tmp_path / "ckpt2"))
    spark.catalog.refreshTable("default.stream_bronze")
    again = {
        r["doc_id"]: r["n_tokens"]
        for r in spark.table("default.stream_bronze").collect()
    }
    assert again == bronze
    spark.sql("DROP TABLE IF EXISTS default.stream_bronze")


def test_ann_candidate_stream_matches_batch(spark, tmp_path):
    """The streaming ANN probe must emit exactly the (query, cell-mate,
    cosine) candidate set of the batch IVF path: literal-codebook probe
    selection reproduces assign_cells' argmax (same tie-break), and the
    reused dot_expr fold makes the cosines bit-identical."""
    import os

    from personal_data_lakehouse_spark.similarity.ivf import (
        ann_candidate_stream,
        assign_cells,
        pick_centroids,
    )
    from personal_data_lakehouse_spark.similarity.brute_force import (
        dot_expr,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
    )

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    qcond = F.col("vec_id") % 10 == 0
    corpus = emb.filter(~qcond)
    cents = pick_centroids(corpus, [1, 2, 3, 4, 6, 7, 8, 9]).persist()
    cells = assign_cells(corpus, cents, "vec_id", "embedding", n=1).persist()

    src = str(tmp_path / "queries")
    os.makedirs(src)
    emb.filter(qcond).coalesce(1).write.parquet(f"{src}/b=0")
    stream = spark.readStream.schema(emb.schema).parquet(src)
    got = {
        (r["qid"], r["cand_id"]): r["cosine"]
        for r in drain_stream_to_parquet(
            ann_candidate_stream(stream, cells, cents, nprobe=2),
            str(tmp_path / "drain"),
        ).collect()
    }

    # batch reference: the ivf_topk candidate join without the final rank
    probes = assign_cells(
        emb.filter(qcond).withColumnRenamed("vec_id", "qid"),
        cents,
        "qid",
        "embedding",
        n=2,
    ).select(
        "qid",
        F.col("embedding").alias("qe"),
        F.col("_vn").alias("_qn"),
        "cell",
    )
    joined = cells.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("ce_v"),
        "_vn",
        "cell",
    ).join(F.broadcast(probes), "cell")
    sim = F.expr(dot_expr("qe", "ce_v")) / (F.col("_qn") * F.col("_vn"))
    want = {
        (r["qid"], r["cand_id"]): r["cosine"]
        for r in joined.select(
            "qid", "cand_id", F.round(sim, 6).alias("cosine")
        ).collect()
    }
    assert got == want and len(want) > 0
    cents.unpersist()
    cells.unpersist()


def test_streaming_substring_spans_recover_planted_span(spark, tmp_path):
    """Full incremental substring dedup: stream the incoming doc, probe
    the corpus gram index, assemble spans in the foreachBatch-style
    consumer — the planted span's anchor-bounded removable mass must
    match an independent recomputation from the same selection rule."""
    import hashlib
    import os

    from personal_data_lakehouse_spark.dedup.substring import (
        gram_index,
        spans_from_anchors,
        substring_anchor_stream,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
    )

    def hexstream(seed, n):
        out = ""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
            i += 1
        return out[:n]

    span = hexstream("inc-span", 220).upper()
    corpus_doc = hexstream("old", 60) + span + hexstream("old2", 80)
    off_new = 93
    new_doc = hexstream("new", off_new) + span + hexstream("new2", 40)
    corpus = spark.createDataFrame(
        [(1, corpus_doc)], "doc_id long, text string"
    )
    idx = gram_index(corpus)
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    spark.createDataFrame(
        [(2, new_doc)], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{src}/b=0")
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    anchors = drain_stream_to_parquet(
        substring_anchor_stream(stream, idx), str(tmp_path / "drain")
    )
    out = spans_from_anchors(anchors).collect()

    rel = [
        i
        for i in range(len(span) - 63)
        if hashlib.md5(span[i : i + 64].encode()).hexdigest().startswith("0")
    ]
    assert rel, "planted span must contain a selected gram"
    expected = (off_new + rel[-1] + 1 + 63) - (off_new + rel[0] + 1) + 1
    assert len(out) == 1
    assert out[0]["batch_id"] == 2
    assert out[0]["n_spans"] == 1
    assert out[0]["removable_chars"] == expected
    idx.unpersist()


def test_streaming_probes_handle_short_documents(spark, tmp_path):
    """Degenerate incoming docs — too short to shingle (minhash) or
    shorter than one gram (substring) — must flow through the streaming
    probes without error and emit nothing, matching the batch paths'
    drop semantics."""
    import os

    from personal_data_lakehouse_spark.dedup.minhash import (
        neardup_candidate_stream,
    )
    from personal_data_lakehouse_spark.dedup.substring import (
        gram_index,
        substring_anchor_stream,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
    )

    corpus = t(spark, SF_DIR, "documents").select("doc_id", "text").limit(50)
    tiny = spark.createDataFrame(
        [(9001, "two words"), (9002, "a"), (9003, "")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "tiny")
    os.makedirs(src)
    tiny.coalesce(1).write.parquet(f"{src}/b=0")

    stream1 = spark.readStream.schema(tiny.schema).parquet(src)
    assert (
        drain_stream_to_parquet(
            neardup_candidate_stream(stream1, corpus),
            str(tmp_path / "d1"),
        ).count()
        == 0
    )
    idx = gram_index(corpus)
    stream2 = spark.readStream.schema(tiny.schema).parquet(src)
    assert (
        drain_stream_to_parquet(
            substring_anchor_stream(stream2, idx), str(tmp_path / "d2")
        ).count()
        == 0
    )
    idx.unpersist()


def test_spans_from_anchors_matches_bruteforce_on_random_corpora(spark):
    """The incremental span consumer must match a pure-Python
    recomputation on randomized phrase-pool corpora: anchors from the
    module's own probe (batch mode), spans/union recomputed
    independently from the anchor rows."""
    import hashlib
    import random
    from collections import defaultdict

    from personal_data_lakehouse_spark.dedup.substring import (
        gram_index,
        positional_grams,
        spans_from_anchors,
    )

    def hexstream(seed, n):
        out = ""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
            i += 1
        return out[:n]

    rng = random.Random(41)
    phrases = [hexstream(f"sp{i}", 96).upper() for i in range(6)]
    docs = [
        (i, "".join(rng.choice(phrases) for _ in range(rng.randint(2, 4))))
        for i in range(1, 11)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") <= 5)
    batch = df.filter(F.col("doc_id") > 5)
    idx = gram_index(corpus)
    anchors = (
        positional_grams(batch)
        .select(F.col("doc_id").alias("batch_id"), F.col("p").alias("pb"), "gh")
        .join(
            idx.select(
                F.col("doc_id").alias("corpus_id"), F.col("p").alias("pa"), "gh"
            ),
            "gh",
        )
        .select(
            "batch_id", "corpus_id", "pb", "pa",
            (F.col("pb") - F.col("pa")).alias("diff"),
        )
    )
    anchor_rows = [
        (r["batch_id"], r["corpus_id"], r["pb"], r["pa"]) for r in anchors.collect()
    ]
    assert anchor_rows, "random fixture produced no anchors"
    got = {
        r["batch_id"]: (r["n_spans"], r["removable_chars"])
        for r in spans_from_anchors(anchors).collect()
    }

    # independent recomputation from the raw anchor rows
    groups = defaultdict(list)
    for bid, cid, pb, pa in anchor_rows:
        groups[(bid, cid, pb - pa)].append(pb)
    ivs = defaultdict(set)
    for (bid, cid, diff), pbs in groups.items():
        pbs.sort()
        run = [pbs[0]]
        for pb in pbs[1:]:
            if pb - run[-1] > 256:
                ivs[bid].add((run[0], run[-1] + 63))
                run = [pb]
            else:
                run.append(pb)
        ivs[bid].add((run[0], run[-1] + 63))
    want = {}
    for bid, intervals in ivs.items():
        merged = []
        for s, e in sorted(intervals):
            if merged and s <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        want[bid] = (len(merged), sum(e - s + 1 for s, e in merged))
    assert got == want
    idx.unpersist()


def test_ann_probe_zero_norm_vector_picks_same_cells_as_batch(spark):
    """Degenerate-input parity: a zero-norm query vector makes cosine
    0/0 = NaN, which Spark's desc window ranks FIRST while sort_array
    ranks LAST — without the -inf guard the streaming probe would pick
    different cells than assign_cells. Both paths must agree (all-(-inf)
    ties break to the lowest cids) on zero queries AND zero centroids."""
    from personal_data_lakehouse_spark.similarity.ivf import (
        ann_candidate_stream,
        assign_cells,
        pick_centroids,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero-norm CENTROID candidate
        (10, [0.5, 0.5, 0.0]),
        (11, [0.0, 0.0, 0.0]),  # zero-norm corpus vector
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = pick_centroids(emb, [1, 2, 3])
    corpus = emb.filter(F.col("vec_id") >= 10)
    cells = assign_cells(corpus, cents, "vec_id", "embedding", n=1)

    queries = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0]), (101, [1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    # ann_candidate_stream's plan is pure generate/map/join — it runs
    # identically over a batch frame, which is exactly what makes the
    # stream/batch parity provable
    got = {
        (r["qid"], r["cand_id"])
        for r in ann_candidate_stream(
            queries, cells, cents, nprobe=2
        ).collect()
    }
    probes = assign_cells(
        queries.withColumnRenamed("vec_id", "qid"),
        cents,
        "qid",
        "embedding",
        n=2,
    ).select("qid", "cell")
    want = {
        (r["qid"], r["vec_id"])
        for r in probes.join(
            cells.select("vec_id", "cell"), "cell"
        ).collect()
    }
    assert got == want
    # the zero query must still probe exactly 2 cells — the lowest cids
    zq = {
        r["cell"]
        for r in probes.filter(F.col("qid") == 100).collect()
    }
    assert zq == {1, 2}


def test_stream_probe_recall_equals_batch_ivf_recall(spark, tmp_path):
    """VERDICT r6 item 7: the streaming ANN probe's recall@k is MEASURED
    against the exact brute-force ground truth and must equal the batch
    IVF recall at the same nprobe — the candidate sets are bit-identical
    (pinned by test_ann_candidate_stream_matches_batch), so ranking the
    drained candidate stream top-k per query yields the same hit count
    per query as ivf_topk. Also sanity-checks the probe is useful at all
    (aggregate recall > 0)."""
    import os

    from personal_data_lakehouse_spark.similarity.brute_force import (
        cosine_topk,
    )
    from personal_data_lakehouse_spark.similarity.ivf import (
        ann_candidate_stream,
        assign_cells,
        ivf_topk,
        pick_centroids,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
    )

    K, NPROBE = 5, 2
    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    qcond = F.col("vec_id") % 10 == 0
    corpus = emb.filter(~qcond).persist()
    queries = emb.filter(qcond).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cents = pick_centroids(corpus, [1, 2, 3, 4, 6, 7, 8, 9]).persist()

    exact = {
        (r["qid"], r["vec_id"])
        for r in cosine_topk(queries, corpus, k=K).collect()
    }
    n_queries = len({q for q, _ in exact})

    batch = {
        (r["qid"], r["vec_id"])
        for r in ivf_topk(
            queries, corpus, cents, k=K, nprobe=NPROBE
        ).collect()
    }
    batch_recall = len(batch & exact) / (K * n_queries)

    # stream side: drain the candidate stream, rank top-k per query in
    # the foreachBatch-consumer role
    cells = assign_cells(corpus, cents, "vec_id", "embedding", n=1)
    src = str(tmp_path / "queries")
    os.makedirs(src)
    emb.filter(qcond).coalesce(1).write.parquet(f"{src}/b=0")
    stream = spark.readStream.schema(emb.schema).parquet(src)
    cand = drain_stream_to_parquet(
        ann_candidate_stream(stream, cells, cents, nprobe=NPROBE),
        str(tmp_path / "drain"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.col("cand_id")
    )
    stream_topk = {
        (r["qid"], r["cand_id"])
        for r in cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= K)
        .collect()
    }
    stream_recall = len(stream_topk & exact) / (K * n_queries)

    assert stream_recall == batch_recall
    assert stream_recall > 0
    corpus.unpersist()
    cents.unpersist()


def test_stream_jsonl_intake_spans_multiple_microbatches(spark, tmp_path):
    """The streaming JSONL intake's parity claim is only meaningful if
    the fixture actually crosses micro-batch boundaries: with
    maxFilesPerTrigger=3 over the 8-file fixture, the availableNow run
    must execute MULTIPLE input-consuming batches, quarantine included,
    and the drained rows must equal the batch read's projection exactly
    (per-row set equality — stronger than the registered rollup hash)."""
    from personal_data_lakehouse_spark.io.readers import (
        read_jsonl_docs,
        read_jsonl_docs_stream,
    )
    from personal_data_lakehouse_spark.plans.round7_ops import (
        JSONL_DOC_SCHEMA,
        jsonl_doc_projection,
        jsonl_fixture,
    )

    src = jsonl_fixture(spark, SF_DIR)
    stream = read_jsonl_docs_stream(
        spark, src, JSONL_DOC_SCHEMA, max_files_per_trigger=3
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        jsonl_doc_projection(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2, "fixture fit in one micro-batch; parity is vacuous"

    def key(r):
        return (r["lang_bucket"], r["doc_id"], r["chars"], r["toks"])

    got = sorted(
        key(r) for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        key(r)
        for r in jsonl_doc_projection(
            read_jsonl_docs(spark, src, JSONL_DOC_SCHEMA)
        ).collect()
    )
    assert got == want
    assert sum(1 for r in got if r[0] == "__corrupt__") == 3


def test_stream_text_intake_spans_multiple_microbatches(spark, tmp_path):
    """The streaming text intake's parity claim is only meaningful if the
    fixture actually crosses micro-batch boundaries: with
    maxFilesPerTrigger=3 over the 8-file fixture, the availableNow run
    must execute MULTIPLE input-consuming batches, and the drained rows
    must equal the batch reader's projection exactly (per-row multiset
    equality on the content id — stronger than the registered rollup
    hash, and it proves duplicate copies split ACROSS batches still all
    arrive)."""
    from personal_data_lakehouse_spark.io.readers import (
        read_text_docs,
        read_text_docs_stream,
    )
    from personal_data_lakehouse_spark.plans.round7_ops import text_fixture

    src = text_fixture(spark, SF_DIR)
    stream = read_text_docs_stream(spark, src, max_files_per_trigger=3)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2, "fixture fit in one micro-batch; parity is vacuous"

    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["doc_id"], r["text"])
        for r in read_text_docs(spark, src, one_doc_per="line").collect()
    )
    # sorted-list (multiset) equality: duplicate lines are distinct rows
    # on both sides, so copies delivered by DIFFERENT micro-batches must
    # all arrive — set equality would mask a dropped duplicate
    assert got == want


def test_stream_semdedup_probe_is_stateless(spark, tmp_path):
    """The online SemDeDup admit decision (q_stream_semdedup_admit) rides
    entirely on stateless operators: literal-injected centroid argmax +
    a stream-static join against the cell index. Pin that claim on the
    actual streaming query's progress — every micro-batch must report
    ZERO state operators (state empty at any stream length), and the
    drained candidate rows must cover every streamed vector's probe."""
    import os

    from personal_data_lakehouse_spark.similarity.ivf import (
        ann_candidate_stream,
        assign_cells,
        pick_centroids,
    )

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    pred = (F.col("vec_id") >= 16) & (F.col("vec_id") % 10 == 3)
    cand = emb.filter(F.col("vec_id") >= 8)
    corpus = cand.filter(~pred)
    cents = pick_centroids(emb, list(range(8, 16)))
    cells = assign_cells(corpus, cents, "vec_id", "embedding", n=1)

    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    cand.filter(pred).coalesce(1).write.parquet(f"{src}/b=0")
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>"
    ).parquet(src)
    out = str(tmp_path / "out")
    q = (
        ann_candidate_stream(stream, cells, cents, nprobe=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert fed, "stream consumed nothing"
    for p in q.recentProgress:
        assert p["stateOperators"] == [], p["stateOperators"]

    probed = {r["qid"] for r in spark.read.parquet(out).collect()}
    streamed = {r["vec_id"] for r in cand.filter(pred).collect()}
    # every arrival with at least one cell-mate produced candidates; an
    # arrival alone in its cell legitimately yields none
    assert probed <= streamed
    assert len(probed) > 0


def test_online_semdedup_duplicate_arrival_rejected_across_batches(
    spark, tmp_path
):
    """The v2 online-admission contract (q_stream_semdedup_admit_v2): an
    arrival identical to an EARLIER-BATCH admit must be REJECTED — the
    admitted vector entered the index inside foreachBatch before the
    next micro-batch probed. Synthetic setup: empty corpus index, two
    single-file micro-batches (staggered mtimes, maxFilesPerTrigger=1)
    carrying the same vector twice plus an orthogonal control."""
    import os

    from personal_data_lakehouse_spark.plans.round9_ops import (
        online_semdedup_admit,
    )
    from personal_data_lakehouse_spark.similarity.brute_force import norm_col

    dim = 8
    v = [1.0] + [0.0] * (dim - 1)
    w = [0.0, 1.0] + [0.0] * (dim - 2)  # orthogonal control
    cents = spark.createDataFrame(
        [(0, [1.0] * dim)], "cid bigint, ce array<float>"
    ).select("cid", "ce", norm_col("ce").alias("_cen"))
    idx_static = spark.createDataFrame(
        [],
        "cand_id bigint, ce_v array<float>, _cn double, cell bigint, "
        "cluster_id bigint",
    )

    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(100, v)], "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.parquet(b1)
    spark.createDataFrame(
        [(200, v), (201, w)], "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.parquet(b2)
    import glob
    import shutil

    for i, d in enumerate((b1, b2)):
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (1_600_000_000 + 60 * i,) * 2)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dec = online_semdedup_admit(
        spark, stream, idx_static, cents, str(tmp_path / "work"), 0.9
    )
    rows = {r["vec_id"]: r.asDict() for r in dec.collect()}
    assert rows[100]["admitted"] is True
    assert rows[100]["cluster_id"] == 100
    # the batch-2 duplicate REJECTS against the batch-1 admit and joins
    # its cluster — two identical stream arrivals yield ONE admit
    assert rows[200]["admitted"] is False
    assert rows[200]["cluster_id"] == 100
    assert rows[200]["n_matches"] == 1
    # the orthogonal control is unaffected
    assert rows[201]["admitted"] is True
    assert rows[201]["cluster_id"] == 201


def test_online_semdedup_same_batch_duplicate_rejected(spark, tmp_path):
    """Same-batch sequential resolution: of two identical vectors in ONE
    micro-batch, the lower vec_id is admitted and the higher rejected
    against it (the per-cell greedy scan in id order)."""
    import os

    from personal_data_lakehouse_spark.plans.round9_ops import (
        online_semdedup_admit,
    )
    from personal_data_lakehouse_spark.similarity.brute_force import norm_col

    dim = 8
    v = [1.0] + [0.0] * (dim - 1)
    cents = spark.createDataFrame(
        [(0, [1.0] * dim)], "cid bigint, ce array<float>"
    ).select("cid", "ce", norm_col("ce").alias("_cen"))
    idx_static = spark.createDataFrame(
        [],
        "cand_id bigint, ce_v array<float>, _cn double, cell bigint, "
        "cluster_id bigint",
    )
    src = str(tmp_path / "arrivals")
    spark.createDataFrame(
        [(300, v), (301, v)], "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>"
    ).parquet(src)
    dec = online_semdedup_admit(
        spark, stream, idx_static, cents, str(tmp_path / "work"), 0.9
    )
    rows = {r["vec_id"]: r.asDict() for r in dec.collect()}
    assert rows[300]["admitted"] is True and rows[300]["cluster_id"] == 300
    assert rows[301]["admitted"] is False
    assert rows[301]["cluster_id"] == 300 and rows[301]["n_matches"] == 1


def test_online_semdedup_sink_rerun_is_idempotent(spark, tmp_path):
    """Exactly-once sink contract: each micro-batch OVERWRITES its
    epoch-keyed subdir, so re-draining the same source through the SAME
    sink (a full replay — same batch ids, same order) leaves the
    decisions byte-identical instead of double-appending them and
    double-feeding the admit index."""
    import os

    from personal_data_lakehouse_spark.plans.round9_ops import (
        online_semdedup_admit,
    )
    from personal_data_lakehouse_spark.similarity.brute_force import norm_col

    dim = 8
    v = [1.0] + [0.0] * (dim - 1)
    w = [0.0, 1.0] + [0.0] * (dim - 2)
    cents = spark.createDataFrame(
        [(0, [1.0] * dim)], "cid bigint, ce array<float>"
    ).select("cid", "ce", norm_col("ce").alias("_cen"))
    idx_static = spark.createDataFrame(
        [],
        "cand_id bigint, ce_v array<float>, _cn double, cell bigint, "
        "cluster_id bigint",
    )
    src = str(tmp_path / "arrivals")
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    spark.createDataFrame(
        [(100, v)], "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.parquet(b1)
    spark.createDataFrame(
        [(200, v), (201, w)], "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.parquet(b2)
    import glob
    import shutil

    os.makedirs(src)
    for i, d in enumerate((b1, b2)):
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (1_600_000_000 + 60 * i,) * 2)

    work = str(tmp_path / "work")

    def drain():
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return sorted(
            tuple(r)
            for r in online_semdedup_admit(
                spark, stream, idx_static, cents, work, 0.9
            ).collect()
        )

    first = drain()
    # the replay: fresh checkpoint, same files, same batch ids — every
    # epoch subdir is rewritten in place
    second = drain()
    assert second == first
    assert dict((r[0], r[1]) for r in first)[200] is False  # still rejected


def test_file_stream_delivers_oldest_mtime_first(spark, tmp_path):
    """The sequential-contract queries (q_stream_semdedup_admit_v2,
    t_stream_corpus_increments) rely on the file source taking files in
    MODIFICATION-TIME order under maxFilesPerTrigger — pin that engine
    behavior directly: file NAMES are shuffled against the id order, so
    only mtime can explain correct delivery."""
    import os

    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_foreach,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    # names z/a/m deliberately anti-ordered vs ids 1/2/3; mtimes ascending
    for name, val, ts in [("z", 1, 100), ("a", 2, 200), ("m", 3, 300)]:
        d = str(tmp_path / f"w{name}")
        spark.createDataFrame([(val,)], "v bigint").coalesce(1).write.parquet(
            d
        )
        import glob
        import shutil

        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{name}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (1_600_000_000 + ts,) * 2)

    seen: list[tuple[int, list[int]]] = []

    def pb(batch, bid):
        seen.append((int(bid), sorted(r["v"] for r in batch.collect())))

    stream = (
        spark.readStream.schema("v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain_stream_foreach(stream, str(tmp_path / "work"), pb)
    assert [vals for _bid, vals in sorted(seen)] == [[1], [2], [3]], seen


def test_carry_state_stream_caps_partitions_and_releases(spark, tmp_path):
    """The shared carried-state loop over three single-file micro-batches:
    after every batch each carried frame holds at most max(cores, its
    load-time partition count) partitions although the step's union adds
    cores + 3 partitions per batch, every frame the step handed over for
    release is unpersisted, and the carried rows are base + all batches."""
    import glob
    import os
    import shutil

    from personal_data_lakehouse_spark.streaming.windows import (
        carry_state_stream,
    )

    cores = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        d = str(tmp_path / f"w{i}")
        spark.range(10 * i, 10 * i + 10).coalesce(1).write.parquet(d)
        dst = os.path.join(src, f"d{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_600_000_000 + 60 * i,) * 2)

    state0 = {
        "narrow": spark.range(-5, 0, 1, 2),
        "wide": spark.range(-5, 0, 1, cores + 2),
    }
    caps = {"narrow": max(cores, 2), "wide": cores + 2}
    released: list = []

    def check(state):
        for name, frame in state.items():
            n = frame.rdd.getNumPartitions()
            assert n <= caps[name], (name, n, caps[name])
        assert all(not f.storageLevel.useMemory for f in released)

    def step(state, batch):
        check(state)  # the state the previous batch left behind
        inserts = batch.repartition(cores + 3).persist()
        released.append(inserts)
        return {n: f.unionByName(inserts) for n, f in state.items()}, [
            inserts
        ]

    stream = (
        spark.readStream.schema("id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    final = carry_state_stream(stream, str(tmp_path / "work"), state0, step)
    check(final)
    assert len(released) == 3
    for name, frame in final.items():
        ids = sorted(r["id"] for r in frame.collect())
        assert ids == list(range(-5, 30)), name


def test_v2_greedy_fused_ext_aggregation():
    """r13 fusion: the per-cell resolver receives arrival rows UNIONed
    with Spark-filtered external match rows and must reproduce the old
    groupBy("vec_id") aggregate exactly — ext_n = match-row count,
    ext_mcl = min matched cluster — while keeping the sequential
    intra-batch contract (earlier admit rejects a later near-dup)."""
    import pandas as pd

    from personal_data_lakehouse_spark.plans.round9_ops import _v2_greedy

    greedy = _v2_greedy(0.9)
    v = [1.0, 0.0]
    rows = pd.DataFrame(
        [
            # arrivals (vec_id order is the admission order): 10 matches
            # the corpus twice (clusters 7 then 3); 12 is a near-dup of
            # nothing external but identical to... nothing -> admit;
            # 14 is identical to 12 -> intra rejection, cluster 12.
            {"cell": 5, "vec_id": 10, "embedding": v, "_vn": 1.0,
             "ext_cl": None, "is_arr": True},
            {"cell": 5, "vec_id": 12, "embedding": [0.0, 1.0], "_vn": 1.0,
             "ext_cl": None, "is_arr": True},
            {"cell": 5, "vec_id": 14, "embedding": [0.0, 1.0], "_vn": 1.0,
             "ext_cl": None, "is_arr": True},
            # external match rows for vec_id 10 (payload columns null)
            {"cell": 5, "vec_id": 10, "embedding": None, "_vn": None,
             "ext_cl": 7, "is_arr": False},
            {"cell": 5, "vec_id": 10, "embedding": None, "_vn": None,
             "ext_cl": 3, "is_arr": False},
        ]
    )
    out = greedy(rows).sort_values("vec_id").to_dict("records")
    assert [(r["vec_id"], r["admitted"], r["cluster_id"], r["n_matches"])
            for r in out] == [
        (10, False, 3, 2),   # two external matches, min cluster 3
        (12, True, 12, 0),   # founds its own cluster
        (14, False, 12, 1),  # intra rejection against 12's admit
    ]
