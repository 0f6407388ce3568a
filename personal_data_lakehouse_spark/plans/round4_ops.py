"""Round-4 operator extensions: stream-static enrichment, time-travel diff,
robust feature scaling, skew-salted joins, interval/calendar alignment,
TF-IDF term mining, log2 length histograms, and event-transition matrices.

Each query keeps the engine's correctness contract (colocated DuckDB oracle,
scalar-only deterministic outputs) and its scale contract (no driver-side
loops, broadcasts declared explicitly on every dimension side, integer-exact
arithmetic wherever a float reduction could become partition-order
dependent).

Reference parity: the stream-static join is the streaming form of the
reference's silver dimension-enrichment join (reference
pipelines/stock_api/transforme_stock_silver.py joins ticker metadata onto
the fact stream); the time-travel diff exercises the snapshot/time-travel
surface the reference gets from Delta (ingest_stocks.py Delta writes),
reimplemented by catalog.write_versioned.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.functions.text import tokens
from personal_data_lakehouse_spark.io.readers import local_frame
from personal_data_lakehouse_spark.plans.registry import query, t
from personal_data_lakehouse_spark.plans.text_ops import _NORM, _TOKS

# ---------------------------------------------------------------------------
# Stream-static dimension enrichment (SURVEY §2.9 extension)


@query(
    "q_stream_static_enrich",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_events,
           MIN(e.event_id) AS first_event, MAX(e.event_id) AS last_event
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY 1
    """,
)
def q_stream_static_enrich(spark, sf_dir):
    """Stream-static dimension join, run as a REAL streaming query: the
    events fixture is consumed via readStream (availableNow), each
    micro-batch is enriched against a static broadcast dimension (nation,
    re-read per batch — the standard streaming dimension-lookup, no state),
    aggregated in complete mode into a memory sink, and the sink table is
    returned. The oracle is the equivalent batch join — stream-static
    semantics guarantee batch equivalence for a finite source, which is
    exactly what this row proves under the driver's hash.

    At scale the dimension side is broadcast (map-side hash join inside
    every micro-batch, no shuffle of the stream); the aggregation state is
    bounded by |nation| = 25 groups."""
    import uuid

    from personal_data_lakehouse_spark.streaming.windows import stream_events

    dim = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    s = stream_events(spark, f"{sf_dir}/events.parquet")
    enriched = (
        s.withColumn("nk", F.col("user_id") % 25)
        .join(F.broadcast(dim), "nk")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )
    name = f"ssenrich_{uuid.uuid4().hex[:8]}"
    # The state-store shuffle width bakes into the (fresh, temp) checkpoint
    # at start; 25 groups need nowhere near a vanilla session's 200
    # partitions. Scoped set/restore — the session belongs to the driver.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            enriched.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # Materialize the |nation|-row sink and drop the uuid-named memory
    # table — repeated invocations on a shared session would otherwise
    # leak one temp view (and its rows, driver-side) per call.
    out = spark.table(name)
    rows = out.collect()
    schema = out.schema
    spark.catalog.dropTempView(name)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Time travel: versioned snapshots diffed through the catalog


@query(
    "q_time_travel_diff",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                WHEN b.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           COUNT(*) AS n,
           MIN(COALESCE(a.o_orderkey, b.o_orderkey)) AS min_key,
           MAX(COALESCE(a.o_orderkey, b.o_orderkey)) AS max_key
    FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice <> b.o_totalprice
    GROUP BY 1
    """,
)
def q_time_travel_diff(spark, sf_dir):
    """Time travel end-to-end: two deterministic snapshots of orders are
    written through ``catalog.write_versioned`` (immutable ``v{N}`` dirs +
    atomic ``_LATEST`` pointer — the Delta/Iceberg contract on plain object
    storage), read back BY VERSION NUMBER via ``read_versioned``, and
    diffed into per-change-type counts. The oracle computes the same diff
    straight from the fixture, so a green row proves the whole versioned
    write→pointer→pinned-read machinery preserves data exactly.

    The price perturbation is one exact IEEE add; the diff is one
    co-partitioned full-outer join — at 100 TB the same single shuffle any
    snapshot diff costs."""
    import os
    import re
    import tempfile

    from personal_data_lakehouse_spark.catalog import (
        read_versioned,
        write_versioned,
    )

    orders = t(spark, sf_dir, "orders")
    # Fixed per-fixture path, NOT mkdtemp: repeated invocations (driver
    # gate, bench warm runs, tests) reuse one directory and keep=4 prunes
    # old snapshots, so disk usage is bounded at 4 versions instead of
    # accumulating two full orders copies per call.
    base = os.path.join(
        tempfile.gettempdir(), "pdl_ttd_" + re.sub(r"\W+", "_", sf_dir)
    )
    v1 = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    n1 = write_versioned(v1, base, keep=4)
    n2 = write_versioned(v2, base, keep=4)
    a = read_versioned(spark, base, version=n1).select(
        F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1")
    )
    b = read_versioned(spark, base, version=n2).select(
        F.col("o_orderkey").alias("k2"), F.col("o_totalprice").alias("p2")
    )
    j = a.join(b, a.k1 == b.k2, "full_outer")
    change = (
        F.when(F.col("k1").isNull(), F.lit("insert"))
        .when(F.col("k2").isNull(), F.lit("delete"))
        .when(F.col("p1") != F.col("p2"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(change.alias("change_type"), F.coalesce("k1", "k2").alias("k"))
        .filter(F.col("change_type") != "unchanged")
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# Robust feature scaling (median/IQR) per group


@query(
    "t_robust_scale_features",
    oracle="""
    WITH s AS (
        SELECT source,
               quantile_cont(n_chars, 0.5) AS med,
               quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25)
                   AS iqr,
               COUNT(*) AS n_docs
        FROM documents GROUP BY source
    )
    SELECT d.source,
           ROUND(s.med, 6) AS med,
           ROUND(s.iqr, 6) AS iqr,
           CAST(SUM(CASE WHEN abs(d.n_chars - s.med) > 1.5 * s.iqr
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           s.n_docs AS n_docs
    FROM documents d JOIN s USING (source)
    GROUP BY 1, 2, 3, 5
    """,
)
def t_robust_scale_features(spark, sf_dir):
    """Robust (median/IQR) scaling stats per source + outlier counts — the
    feature-normalization step of a training-data pipeline done with
    outlier-resistant statistics instead of mean/std. Quantiles are exact
    linear interpolation (type 7) in BOTH engines; the inputs are integers
    and the interpolation fractions are quarters, so med/iqr are exact
    multiples of 0.25 in double and the outlier comparison
    |x − med| > 1.5·iqr is float-exact — no boundary drift. Per-group
    stats are broadcast back onto the corpus (map-side join); at 100 TB
    switch the exact percentile to approx_percentile's KLL sketch, same
    query shape."""
    docs = t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5D)").alias("med"),
        (
            F.expr("percentile(n_chars, 0.75D)")
            - F.expr("percentile(n_chars, 0.25D)")
        ).alias("iqr"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    joined = docs.join(F.broadcast(s), "source")
    outlier = (
        F.abs(F.col("n_chars") - F.col("med")) > F.lit(1.5) * F.col("iqr")
    ).cast("long")
    return (
        joined.groupBy(
            "source",
            F.round("med", 6).alias("med"),
            F.round("iqr", 6).alias("iqr"),
            "n_docs",
        )
        .agg(F.sum(outlier).alias("n_outliers"))
        .select("source", "med", "iqr", "n_outliers", "n_docs")
    )


# ---------------------------------------------------------------------------
# Skew-salted join (operators.partitioning.salted_join, oracle-proven)


@query(
    "q_skew_salted_join",
    oracle="""
    WITH dim(event_type, category) AS (VALUES
        ('click', 'browse'), ('view', 'browse'),
        ('purchase', 'convert'), ('signup', 'convert'), ('error', 'ops'))
    SELECT d.category,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           MIN(e.event_id) AS first_event,
           MAX(e.event_id) AS last_event
    FROM events e JOIN dim d USING (event_type)
    GROUP BY 1
    """,
)
def q_skew_salted_join(spark, sf_dir):
    """Hot-key join through ``operators.partitioning.salted_join``, proven
    against the plain-join oracle. ``event_type`` has 5 distinct values
    over the whole stream — the pathological skew case where every shuffle
    partition of a vanilla hash join lands on at most 5 tasks. The salted
    form sprays each hot key over ``salt`` tasks (deterministic per-row
    salt, dimension replicated salt×) and MUST produce byte-identical
    results to the unsalted join — which is precisely what the driver's
    hash verifies here. AQE's skew-join split handles sort-merge cases at
    runtime; explicit salting is for the shapes AQE can't touch
    (broadcast-ineligible dims under windows/aggregations)."""
    from personal_data_lakehouse_spark.operators.partitioning import salted_join

    events = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = local_frame(
        spark,
        [
            ("click", "browse"),
            ("view", "browse"),
            ("purchase", "convert"),
            ("signup", "convert"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    j = salted_join(
        events, dim, on=["event_type"], how="inner", salt=8,
        broadcast_small=True,  # 5-row dim: pin the build side at any SF
    )
    return j.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


# ---------------------------------------------------------------------------
# Interval ↔ calendar alignment (per-month overlap of order windows)


@query(
    "q_interval_align",
    oracle="""
    WITH w AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS d0,
               CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS d1
        FROM orders
    ),
    e AS (
        SELECT o_orderkey, d0, CAST(d1 AS DATE) AS d1,
               CAST(unnest(generate_series(
                   date_trunc('month', d0),
                   date_trunc('month', d0 + INTERVAL 29 DAY),
                   INTERVAL 1 MONTH)) AS DATE) AS m
        FROM w
    )
    SELECT m AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(date_diff('day',
                    greatest(m, d0),
                    least(CAST(m + INTERVAL 1 MONTH AS DATE), d1)))
                AS BIGINT) AS overlap_days
    FROM e GROUP BY 1
    """,
)
def q_interval_align(spark, sf_dir):
    """Interval-to-calendar alignment: each order owns a 30-day window
    [orderdate, orderdate+30); the window is split across the calendar
    months it touches and the per-month overlap days are summed — the
    proration shape behind revenue recognition, SLA attribution, and
    time-weighted rollups. All arithmetic is integer day counts (datediff
    of clamped bounds), so both engines agree exactly. The month spine is
    generated per row (≤2 rows out per order for a 30-day window — bounded
    fan-out, no join against a materialized calendar), then one grouped
    sum: a single shuffle of O(months) groups at any scale."""
    o = t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d0"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("d1"),
    )
    e = o.withColumn(
        "m",
        F.explode(
            F.expr(
                "sequence(trunc(d0, 'MM'), trunc(date_add(d0, 29), 'MM'), "
                "interval 1 month)"
            )
        ),
    )
    overlap = F.datediff(
        F.least(F.add_months(F.col("m"), 1), F.col("d1")),
        F.greatest(F.col("m"), F.col("d0")),
    )
    return e.groupBy(F.col("m").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(overlap).cast("long").alias("overlap_days"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per source (linear-idf, float-exact)


@query(
    "t_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, source, unnest(list_distinct({_TOKS})) AS term
        FROM documents
    ),
    ft AS (SELECT * FROM tok WHERE length(term) >= 3),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM ft GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM ft GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_total FROM documents)
    SELECT source, term, tf, df,
           CAST(tf * n_total AS DOUBLE) / df AS score
    FROM tf JOIN df USING (term), n
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, term) <= 5
    """,
)
def t_tfidf_topterms(spark, sf_dir):
    """Characteristic vocabulary per source: document-frequency TF-IDF with
    a LINEAR idf (tf · N / df) instead of the log form — deliberately, so
    the score is one exact integer product divided once (correctly rounded
    → bit-identical across engines), where ln() is libm-dependent and
    engine-hash-unsafe. Ranking is (score desc, term asc) — fully
    deterministic. The corpus is exploded ONCE: tf = docs-per-(source,
    term), and since every doc belongs to exactly one source, the
    corpus-wide df(term) is Σ_source tf(source, term) — computed as a
    WINDOW over the vocabulary-sized tf aggregate (a join back to a
    second-scan df branch would make Catalyst explode the corpus twice;
    DataFrame branches share no subplans without an explicit persist).
    Both the df window and the top-5 window run on the (source, term)
    aggregate, never the corpus."""
    docs = t(spark, sf_dir, "documents")
    ft = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(tokens("text"))).alias("term"),
        )
        .filter(F.length("term") >= 3)
        .distinct()
    )
    tf = ft.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("n_total"))
    df_w = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.sum("tf").over(df_w).cast("long"))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_total")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("source", "term", "tf", "df", "score")
    )


# ---------------------------------------------------------------------------
# Log2 length histogram (integer-exact bucketing via binary digit count)


@query(
    "t_length_histogram_log2",
    oracle="""
    SELECT length(bin(n_chars)) - 1 AS log2_bucket,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def t_length_histogram_log2(spark, sf_dir):
    """Corpus length histogram on log2 buckets — the standard first look at
    a training corpus's length distribution (power-of-two shard sizing,
    truncation-point choice). The bucket is the binary digit count of
    n_chars minus one — INTEGER-exact floor(log2(x)) on both engines,
    where float log2() would misbucket exact powers of two on whichever
    engine rounds last-ulp differently. One grouped aggregation,
    map-side combined, ~60 groups max (2^63)."""
    docs = t(spark, sf_dir, "documents")
    bucket = (F.length(F.bin(F.col("n_chars"))) - 1).alias("log2_bucket")
    return docs.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (behavioral Markov counts)


@query(
    "q_event_transitions",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT prev AS prev_type, event_type AS next_type, COUNT(*) AS n
    FROM s WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transitions(spark, sf_dir):
    """Per-user event-transition counts (the Markov transition matrix of
    the behavioral stream): lag(event_type) within each user's timeline,
    then grouped pair counts — session-flow analytics and the input to
    next-event prediction features. The window partitions by user_id (no
    global sort; parallel across users, exactly the sessionize shape) with
    (ts, event_id) ordering — event_id makes tied timestamps
    deterministic. Output is |event_type|² rows regardless of scale."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    return s.groupBy(
        F.col("prev").alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Incremental ingest dedup (new batch vs existing corpus)


@query(
    "t_dedup_incremental",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, source,
               md5({_NORM}) AS fp
        FROM documents
    ),
    corpus AS (SELECT DISTINCT fp FROM f WHERE source <> 'src0'),
    batch AS (SELECT doc_id, fp FROM f WHERE source = 'src0')
    SELECT b.doc_id, b.fp,
           CASE WHEN c.fp IS NOT NULL THEN 'dup_corpus'
                WHEN b.doc_id <> MIN(b.doc_id) OVER (PARTITION BY b.fp)
                    THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM batch b LEFT JOIN corpus c USING (fp)
    """,
)
def t_dedup_incremental(spark, sf_dir):
    """Ingest-time dedup of a NEW batch against the EXISTING corpus — the
    content-level analog of the reference's dedup-on-append MERGE
    (ingest_stocks.py whenNotMatchedInsertAll keyed on (ticker, date)),
    applied the way a training-data intake does it: batch docs whose
    fingerprint already exists in the corpus are 'dup_corpus', duplicates
    WITHIN the batch keep the min-doc_id copy ('dup_batch' for the rest),
    survivors are 'new'. src0 plays the incoming batch; every other source
    is the corpus.

    Scale: the corpus side is reduced to DISTINCT fingerprints before the
    join (ids-only intermediate, the same discipline as the LSH pipeline),
    so the single fp-keyed shuffle carries 16 bytes/doc; the in-batch
    window partitions by fingerprint (parallel, no global order). In
    production the corpus fingerprint set is the incrementally-maintained
    table this query's output appends to."""
    from personal_data_lakehouse_spark.functions.text import fingerprint

    f = t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint("text").alias("fp")
    )
    corpus = (
        f.filter(F.col("source") != "src0").select("fp").distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    batch = f.filter(F.col("source") == "src0").select("doc_id", "fp")
    w = Window.partitionBy("fp")
    status = (
        F.when(F.col("in_corpus"), F.lit("dup_corpus"))
        .when(
            F.col("doc_id") != F.min("doc_id").over(w), F.lit("dup_batch")
        )
        .otherwise(F.lit("new"))
    )
    return (
        batch.join(corpus, "fp", "left")
        .select("doc_id", "fp", status.alias("status"))
    )


# ---------------------------------------------------------------------------
# Corpus-intake funnel (staged retention in ONE pass)


@query(
    "t_intake_funnel",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, n_chars, lang,
               md5({_NORM}) AS fp
        FROM documents
    ),
    r AS (
        SELECT doc_id, fp,
               (n_chars >= 150) AS r1,
               (n_chars >= 150 AND lang <> 'zh') AS r2
        FROM f
    ),
    s AS (
        SELECT doc_id, r1, r2,
               (r2 AND doc_id = MIN(CASE WHEN r2 THEN doc_id END)
                            OVER (PARTITION BY fp)) AS r3
        FROM r
    ),
    x AS (
        SELECT doc_id, r1, r2, r3,
               (r3 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c')
                   AS r4
        FROM s
    )
    SELECT stage, n_docs FROM (
        SELECT 0 AS stage, COUNT(*) AS n_docs FROM x
        UNION ALL SELECT 1, COUNT(*) FILTER (WHERE r1) FROM x
        UNION ALL SELECT 2, COUNT(*) FILTER (WHERE r2) FROM x
        UNION ALL SELECT 3, COUNT(*) FILTER (WHERE r3) FROM x
        UNION ALL SELECT 4, COUNT(*) FILTER (WHERE r4) FROM x
    ) u
    """,
)
def t_intake_funnel(spark, sf_dir):
    """Corpus-intake funnel: the composed training-data pipeline — length
    gate → language gate → exact dedup (min-id survivor among gate
    survivors) → 75% hash-sample — evaluated as per-stage retention counts
    in ONE corpus pass. Each document gets monotone reach flags r1..r4
    (computed in a single projection + one fingerprint-partitioned window
    for the dedup stage), then a single aggregation emits the funnel.
    This is the shape to prefer over materializing four intermediate
    tables: at 100 TB it is one scan + one 16-byte-key shuffle + one
    5-row result, and the flags double as the routing columns a real
    intake would write. The sampling stage reuses the md5-keyed
    layout-independent coin from t_sample_bernoulli_hash."""
    from personal_data_lakehouse_spark.functions.text import fingerprint

    f = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        "lang",
        fingerprint("text").alias("fp"),
    )
    r1 = F.col("n_chars") >= 150
    r2 = r1 & (F.col("lang") != "zh")
    w = Window.partitionBy("fp")
    keep_id = F.min(F.when(r2, F.col("doc_id"))).over(w)
    r3 = r2 & (F.col("doc_id") == keep_id)
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "c"
    r4 = r3 & coin
    x = f.select(
        r1.alias("r1"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4")
    )
    agg = x.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("r1").cast("long")).alias("n1"),
        F.sum(F.col("r2").cast("long")).alias("n2"),
        F.sum(F.col("r3").cast("long")).alias("n3"),
        F.sum(F.col("r4").cast("long")).alias("n4"),
    )
    return agg.selectExpr(
        "stack(5, 0, n0, 1, n1, 2, n2, 3, n3, 4, n4) AS (stage, n_docs)"
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split


@query(
    "t_train_val_test_split",
    oracle="""
    WITH a AS (
        SELECT source,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                        THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT source, split, COUNT(*) AS n_docs
    FROM a GROUP BY 1, 2
    """,
)
def t_train_val_test_split(spark, sf_dir):
    """Deterministic ~80/10/10 train/val/test assignment: the first md5
    byte of the doc id is a uniform coin ('cd' = 205/256 ≈ 80.1%, 'e6' =
    230/256 ≈ 89.8%), so membership is a pure function of the id —
    layout-independent, re-runnable, and stable when the corpus grows
    (existing docs never switch splits, the property random-split
    repartition-based sampling lacks). Zero shuffle for the assignment
    itself; the per-(source, split) audit counts are one map-side-combined
    aggregation."""
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(coin < "cd", F.lit("train"))
        .when(coin < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        t(spark, sf_dir, "documents")
        .select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Leakage-safe split (duplicate groups never straddle train/test)


@query(
    "t_leakage_safe_split",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               md5({_NORM}) AS fp
        FROM documents
    ),
    a AS (
        SELECT doc_id, fp,
               CASE WHEN substr(md5(fp), 1, 2) < 'cd' THEN 'train'
                    WHEN substr(md5(fp), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM f
    )
    SELECT split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT fp) AS n_groups,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs
    FROM a GROUP BY 1
    """,
)
def t_leakage_safe_split(spark, sf_dir):
    """Leakage-safe split: the coin is keyed on the CONTENT fingerprint,
    not the doc id, so every copy of a duplicated document lands in the
    same split — a train/test boundary can never run through a duplicate
    group (the classic eval-contamination bug of id-keyed splits; for
    near-dup safety, key the same coin on the LSH cluster representative
    from t_dedup_clusters instead). Assignment is again a pure map; the
    audit (docs vs distinct groups per split) is one aggregation with a
    distinct-count on the 16-byte fingerprint."""
    from personal_data_lakehouse_spark.functions.text import fingerprint

    f = t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )
    coin = F.substring(F.md5(F.col("fp")), 1, 2)
    split = (
        F.when(coin < "cd", F.lit("train"))
        .when(coin < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        f.select(split.alias("split"), "fp")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_groups"),
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            .cast("long")
            .alias("n_dup_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE TABLE surface, one pass)


@query(
    "q_table_profile",
    oracle="""
    SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def q_table_profile(spark, sf_dir):
    """Column profiling (the ANALYZE TABLE / dbt-docs stats surface): one
    aggregation emits rows/nulls/distincts/min/max per profiled column,
    unpivoted to one row per column. All distinct counts run in the SAME
    aggregate (Spark plans multi-distinct via a single Expand + two-stage
    aggregation — still one scan of the table); min/max are cast to
    strings so heterogeneous column types share one result schema. At
    100 TB swap COUNT(DISTINCT) for approx_count_distinct (HLL++, one
    pass, mergeable) — same query shape; exact distincts are used here
    because the differential oracle demands bit-equality."""
    o = t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__nd, {c}__min, {c}__max"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


# ---------------------------------------------------------------------------
# Split-leakage audit (quantifies what the fp-keyed split prevents)


@query(
    "t_split_leakage_audit",
    oracle=f"""
    WITH f AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
    a AS (
        SELECT fp,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                        THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val'
                    ELSE 'test' END AS s_id,
               CASE WHEN substr(md5(fp), 1, 2) < 'cd' THEN 'train'
                    WHEN substr(md5(fp), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS s_fp
        FROM f
    ),
    g AS (
        SELECT fp, COUNT(DISTINCT s_id) AS k_id,
               COUNT(DISTINCT s_fp) AS k_fp, COUNT(*) AS n
        FROM a GROUP BY fp
    )
    SELECT 'by_id' AS scheme,
           CAST(SUM(CASE WHEN k_id > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_straddling_groups,
           CAST(SUM(CASE WHEN k_id > 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_docs_at_risk
    FROM g
    UNION ALL
    SELECT 'by_fp',
           CAST(SUM(CASE WHEN k_fp > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN k_fp > 1 THEN n ELSE 0 END) AS BIGINT)
    FROM g
    """,
)
def t_split_leakage_audit(spark, sf_dir):
    """Split-leakage audit: assign every document under BOTH split schemes
    (id-keyed and fingerprint-keyed, same md5 coins as
    t_train_val_test_split / t_leakage_safe_split) and count duplicate
    groups that straddle a split boundary under each. The id-keyed scheme
    leaks wherever the corpus contains duplicates; the fp-keyed scheme is
    structurally zero — and this query PROVES both numbers against the
    oracle rather than asserting them. This is the eval-contamination
    report a training pipeline publishes alongside its splits. One grouped
    aggregation over the fingerprint (the same 16-byte-key shuffle as
    exact dedup) + a 2-row rollup."""
    from personal_data_lakehouse_spark.functions.text import fingerprint

    f = t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )

    def coin3(col):
        c = F.substring(F.md5(col), 1, 2)
        return (
            F.when(c < "cd", F.lit("train"))
            .when(c < "e6", F.lit("val"))
            .otherwise(F.lit("test"))
        )

    a = f.select(
        "fp",
        coin3(F.col("doc_id").cast("string")).alias("s_id"),
        coin3(F.col("fp")).alias("s_fp"),
    )
    g = a.groupBy("fp").agg(
        F.countDistinct("s_id").alias("k_id"),
        F.countDistinct("s_fp").alias("k_fp"),
        F.count(F.lit(1)).alias("n"),
    )
    def audit(kcol, name):
        return g.agg(
            F.lit(name).alias("scheme"),
            F.sum((F.col(kcol) > 1).cast("long")).alias("n_straddling_groups"),
            F.sum(F.when(F.col(kcol) > 1, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_docs_at_risk"),
        ).select("scheme", "n_straddling_groups", "n_docs_at_risk")

    return audit("k_id", "by_id").unionByName(audit("k_fp", "by_fp"))
