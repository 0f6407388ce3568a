"""Event-time streaming: tumbling/sliding/session windows + merge sink.

The reference's incrementality is batch-based (watermark value read from the
sink drives a filter — transforme_stock_silver.py:41-83). The idiomatic
Spark upgrade is Structured Streaming: ``readStream`` → ``withWatermark``
(bounds state for late data) → windowed aggregation → ``foreachBatch``
MERGE for exactly-once upserts into the lake.

The same ``F.window``/``F.session_window`` expressions run identically in
batch mode — the batch forms are oracle-checked in plans.relational /
plans.advanced; these streaming wrappers are exercised with the memory sink
in tests (TESTDATA events fixture).

Scale: watermark delay bounds the state store; keys are
(window, event_type)-grained. For high-cardinality keys use
``spark.sql.streaming.stateStore.providerClass=RocksDB`` on a real cluster.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _event_schema(spark: SparkSession, path: str) -> T.StructType:
    """Schema for the events fixture as the file actually encodes ``ts``.

    readStream requires an explicit schema; fixture generations have shipped
    ``ts`` as TIMESTAMP(NANOS) (readable only as nanos-as-long) and as
    TIMESTAMP(MICROS)/NTZ, so infer from a footer-only batch read instead of
    hard-coding either.
    """
    return spark.read.parquet(path).schema


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """readStream over the events fixture (``ts`` normalized to µs timestamps).

    File sources need a directory basePath; a single-file path is streamed
    as its parent directory + a pathGlobFilter (keeps fixtures read-only).
    Nanos-as-long ``ts`` is truncated to micros; NTZ is cast to session-local
    (exact under the UTC-pinned session) so downstream watermarks/windows
    always see TimestampType.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _event_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time window with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding window — each event lands in window/slide buckets."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionized_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows (dynamic gap-close) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: attribute each click to the view events
    the same user produced within ``max_delay`` before it.

    Both sides carry watermarks and the join condition carries an explicit
    event-time interval, so the state store can expire rows once the
    watermark passes — without the time bound a stream-stream join's state
    grows forever. State per key is O(events within the interval), constant
    in stream length; on a real cluster back it with the RocksDB state
    store. The same expression joins identically in batch mode (tested
    batch-vs-stream in tests/test_streaming.py).
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    return c.join(
        v,
        F.expr(
            "v_user_id = user_id AND "
            f"view_ts BETWEEN click_ts - INTERVAL {max_delay} AND click_ts"
        ),
        "inner",
    ).select("user_id", "click_id", "click_ts", "view_id", "view_ts")


SENTINEL_EVENT_TYPE = "__sentinel__"
SENTINEL_USER_ID = -1
_SENTINEL_TS = "2100-01-01 00:00:00"
# Read-back filter boundary: any window/session starting at or after this
# instant can only contain the sentinel (real fixture event time is ~2024;
# the sentinel is pinned to 2100). Consumers filter sentinel OUTPUT rows by
# this TIME bound, never by the sentinel's business-column keys — a real
# fixture row that happened to collide with (user_id = -1,
# event_type = '__sentinel__') would otherwise be silently dropped from
# the parity results.
SENTINEL_CUTOFF = "2090-01-01 00:00:00"
SENTINEL_CUTOFF_US = 3786912000000000  # epoch microseconds of the cutoff


def _work_root() -> str:
    """Per-PID work root shared by ``stream_work_dir`` and
    ``source_fixture_dir``; registered for atexit removal once."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"pdl_stream_work_{os.getpid()}"
    )
    if not getattr(_work_root, "_atexit_registered", False):
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _work_root._atexit_registered = True
    return root


def stream_work_dir(name: str) -> str:
    """Per-query streaming work dir, REUSED (wiped + recreated) per call.

    ``tempfile.mkdtemp`` per invocation leaked the full sink output of
    every run — bench/correctness drivers invoke each streaming query 4+
    times per sweep, accumulating key/pair-stream parquet in the OS
    tempdir indefinitely. A deterministic per-query path bounds disk use
    to ONE run's output; the wipe happens at the START of the next call
    (the returned DataFrame reads the previous sink lazily, so it cannot
    be deleted in-call), and ``atexit`` removes the whole root when the
    process ends.

    The root is per-PID: two concurrent drivers (e.g. pytest beside a
    bench sweep) must not wipe each other's live sink mid-read. A stale
    same-PID root from a dead process is harmlessly overwritten by the
    start-of-call wipe; the atexit sweep keeps the normal case clean.

    Known limit (accepted, documented — r7 ADVICE): within ONE process,
    re-invoking the same query invalidates the PREVIOUS invocation's
    still-lazy result DataFrame (its sink files are wiped). The
    sequential drivers (bench, driver_sim, the correctness gate) always
    materialize before re-invoking; a consumer holding results across
    re-invocations must collect or write them first.
    """
    import os
    import shutil

    d = os.path.join(_work_root(), name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


FIXTURE_GEN = "g2"
"""Fixture-generator version tag, embedded in every source-fixture dir
name (r8 ADVICE): ``_SUCCESS`` gates write COMPLETENESS, not generator
VERSION, so a complete fixture written by an older checkout under a
recycled PID could otherwise feed the parity queries. Bump this constant
whenever any fixture-producing code changes its output bytes; the new
dir name makes stale-complete reuse structurally impossible. (The dir
path was never stable across runs anyway — the work root is per-PID —
so plan goldens already normalize it.)"""


def source_fixture_dir(name: str, sf_dir: str) -> tuple[str, bool]:
    """Per-(query, sf) SOURCE-fixture dir, manufactured at most once per
    process — the complement of ``stream_work_dir`` for a query's INPUT
    side (r7 verdict item 7): sinks/checkpoints must be wiped per call,
    but a source fixture is a pure function of the fixture tables, so
    re-writing it inside every timed invocation charged ~half of the two
    intake queries' warm bench time to ``write.text``, not intake.

    Returns ``(path, ready)``: when ``ready`` is False the caller must
    write the fixture with ``mode("overwrite")`` (handles a partial dir
    left by an interrupted write). Readiness = Spark's ``_SUCCESS``
    marker, which a writer commits last — and a complete stale fixture
    from a recycled PID is byte-identical by construction (deterministic
    content, deterministic layout) PROVIDED the generating code is
    unchanged, which the ``FIXTURE_GEN`` tag in the dir name now pins
    (r8 ADVICE: completeness and generator version are separate claims).
    Keyed by the sf dir's basename so sf0.01 correctness runs and sf0.1
    bench runs in one process don't collide; lives under the per-PID
    root, removed at process exit.
    """
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(
        _work_root(), f"fixture_{name}_{tag}_{FIXTURE_GEN}"
    )
    return d, os.path.exists(os.path.join(d, "_SUCCESS"))


def write_ordered_parts(
    df: DataFrame, order_col: str, n_files: int, prefix: str, dst: str
) -> None:
    """Write *df* into *dst* as *n_files* single-file parquet parts
    ``{prefix}1.parquet`` … holding ascending *order_col* ranges (ntile),
    with mtimes staggered 60 s apart in the same order, then ``_SUCCESS``.
    A file stream read with ``maxFilesPerTrigger=1`` takes the oldest
    mtime first, so its batches arrive in global *order_col* order."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    # A global ntile: Spark warns that it moves every row to one partition.
    # It cuts the rows of a manufactured replay stream once per process
    # (callers gate it on _SUCCESS), so only a query's first build pays
    # it; a production stream's files arrive from outside and never take
    # this path.
    tagged = df.withColumn("b", F.ntile(n_files).over(Window.orderBy(order_col)))
    os.makedirs(dst, exist_ok=True)
    base_t = 1_600_000_000  # any fixed instant; only the ORDER matters
    for i in range(1, n_files + 1):
        tmp = f"{dst}__tmp{i}"
        tagged.filter(F.col("b") == i).drop("b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        out = os.path.join(dst, f"{prefix}{i}.parquet")
        shutil.copyfile(part, out)
        os.utime(out, (base_t + 60 * i, base_t + 60 * i))
        shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(dst, "_SUCCESS"), "w").close()


def watermark_flush_events(
    spark: SparkSession, like: DataFrame, work_dir: str
) -> DataFrame:
    """One-row far-future events stream that flushes append-mode output.

    Append mode only emits a window once the watermark passes its end, and
    a bounded availableNow run's watermark stops at (max real event time −
    delay) — so the trailing windows would stay in state forever. Unioning
    in a single sentinel event dated 2100 pushes the final watermark past
    every real window, and the no-data micro-batch Spark runs before an
    availableNow query stops emits them all. This is the bounded-run
    equivalent of a production stream simply continuing to receive data;
    the sentinel is keyed ``user_id = -1`` / ``event_type = '__sentinel__'``
    so downstream consumers filter it by either column.

    The sentinel must survive every pre-watermark filter (watermarks are
    computed from the values the watermark node actually sees), hence
    non-NULL values in every column the real pipelines filter on.
    """
    import datetime
    import os

    schema = like.schema
    vals = {
        "event_id": -1,
        "ts": datetime.datetime(2100, 1, 1),
        "user_id": SENTINEL_USER_ID,
        "event_type": SENTINEL_EVENT_TYPE,
        "value": 0.0,
    }
    row = tuple(vals.get(f.name) for f in schema.fields)
    path = os.path.join(work_dir, "sentinel")
    spark.createDataFrame([row], schema=schema).write.parquet(path)
    return spark.readStream.schema(schema).parquet(path)


# Shuffle partitions pinned for every drained run: AQE is disabled in
# stateful streaming, and 32 default partitions over a few thousand state
# rows is pure scheduling overhead at test scale.
DRAIN_SHUFFLE_PARTITIONS = 8


def drain_stream_to_parquet(stream_df: DataFrame, work_dir: str) -> DataFrame:
    """Run an availableNow APPEND-mode query into a parquet file sink and
    return a batch DataFrame over the sink directory.

    The scale-honest parity harness: each micro-batch appends only the rows
    finalized in that batch (bounded by the batch's time span × key
    cardinality, never the stream's full history), the result lands
    distributed in executor-written files, and the driver materializes
    nothing — unlike a complete-mode memory sink, which re-emits the entire
    aggregate every batch and holds it in driver memory. The checkpoint dir
    is deleted after termination; the sink dir must outlive this call (the
    returned DataFrame reads it lazily), so callers should place
    ``work_dir`` under the OS tempdir.
    """
    import os
    import shutil

    spark = stream_df.sparkSession
    out_dir = os.path.join(work_dir, "out")
    ckpt = os.path.join(work_dir, "ckpt")
    schema = stream_df.schema
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(DRAIN_SHUFFLE_PARTITIONS))
    try:
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    if not os.path.isdir(out_dir):
        # a stream that committed no files never creates the sink dir —
        # an empty result, not an error
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(out_dir)


def drain_stream_foreach(
    stream_df: DataFrame,
    work_dir: str,
    batch_fn,
) -> None:
    """Run an availableNow ``foreachBatch`` query to completion.

    ``batch_fn(batch_df, batch_id)`` owns ALL output (typically appending
    to parquet dirs and maintaining side state such as an index the next
    micro-batch must see — the reference's MERGE-per-batch shape,
    ingest_stocks.py:84-100). Micro-batches run STRICTLY SERIALLY, so a
    directory appended in batch N is fully visible to a fresh read in
    batch N+1 — the property the online-SemDeDup index maintenance
    depends on. The checkpoint lives under ``work_dir`` and is removed
    after termination (parity runs re-process from scratch by design)."""
    import os
    import shutil

    spark = stream_df.sparkSession
    ckpt = os.path.join(work_dir, "ckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(DRAIN_SHUFFLE_PARTITIONS))
    try:
        q = (
            stream_df.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)


def carry_state_stream(
    stream_df: DataFrame,
    work_dir: str,
    state0: Mapping[str, DataFrame],
    step,
) -> dict[str, DataFrame]:
    """Drain ``stream_df`` while carrying a named set of frames across
    micro-batches; returns the final carried frames.

    Per micro-batch: ``step(state, batch)`` returns ``(frames,
    persisted)`` — the merged frames and the batch's internal persists
    they read through. Each frame is coalesced to max(cores, its
    partition count at state load), every frame is checkpointed, and
    then the persists are released.

    * The checkpoint severs lineage: an unbounded stream would otherwise
      grow every carried plan (and its Catalyst analysis) by one
      increment per batch. It is EAGER because ``eager=False`` leaves
      the logical plans untruncated until materialization.
    * The checkpoints run CONCURRENTLY: serially they cost one job
      barrier per frame; Spark's scheduler runs the tiny jobs in
      parallel, so the wall cost is about one barrier.
    * The cap exists because each checkpoint unions the carried frame
      with the batch's inserts, adding ~one partition set per batch
      forever. Coalesce never splits, so a state that arrives with more
      partitions than cores keeps them.
    * Releasing after the barrier keeps executor storage bounded on an
      unbounded stream."""
    from concurrent.futures import ThreadPoolExecutor

    from personal_data_lakehouse_spark.operators.partitioning import (
        probed_num_partitions,
    )

    cores = stream_df.sparkSession.sparkContext.defaultParallelism
    caps = {n: max(cores, probed_num_partitions(f)) for n, f in state0.items()}
    carried = dict(state0)

    def process_batch(batch, _bid):
        frames, persisted = step(carried, batch)
        frames = dict(frames)  # resolve lazy frames on this thread
        with ThreadPoolExecutor(len(frames)) as ex:
            cps = ex.map(
                lambda kv: kv[1].coalesce(caps[kv[0]]).localCheckpoint(),
                frames.items(),
            )
            carried.update(zip(frames, cps))
        for frame in persisted:
            frame.unpersist()

    drain_stream_foreach(stream_df, work_dir, process_batch)
    return carried


def merge_sink(
    stream: DataFrame, table: str, keys: Sequence[str], checkpoint: str
):
    """Exactly-once upsert sink: foreachBatch MERGE into a catalog table —
    the streaming version of the reference's dedup-on-append MERGE
    (ingest_stocks.py:84-100)."""
    from personal_data_lakehouse_spark.operators.merge import merge_into_table

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        merge_into_table(batch.sparkSession, table, batch, keys)

    return (
        stream.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
    )
