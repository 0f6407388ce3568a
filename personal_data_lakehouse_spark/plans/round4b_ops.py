"""Round-4 wave 2: gap-filled time series, tolerance-bounded as-of joins,
join-key skew diagnostics, edit-distance-verified near-dup pairs, and
deterministic curriculum ordering.

Same contracts as every other plan module: each query is a declarative
DataFrame plan with a colocated DuckDB oracle, outputs are scalar-only and
integer-exact wherever a float reduction could become partition-order
dependent, no Python UDFs, no driver-side loops.

Reference parity notes: gap-fill + LOCF is the batch form of the
forward-fill the reference's silver layer applies to trading-calendar gaps
(reference pipelines/stock_api/transforme_stock_silver.py resamples daily
bars); the skew diagnostic is the operational counterpart of the engine's
salted-join/AQE-skew machinery (operators/partitioning.py) — it measures
the key distribution those operators exist to survive.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.dedup.minhash import lsh_candidate_pairs
from personal_data_lakehouse_spark.functions import normalize_text
from personal_data_lakehouse_spark.functions.text import tokens
from personal_data_lakehouse_spark.operators.asof import asof_join
from personal_data_lakehouse_spark.plans.cluster_ops import _lsh_ctes, _sig_bands_ctes
from personal_data_lakehouse_spark.plans.registry import query, t
from personal_data_lakehouse_spark.plans.text_ops import _NORM, _TOKS

# ---------------------------------------------------------------------------
# Gap-filled hourly series with last-observation-carried-forward


@query(
    "q_gapfill_locf",
    oracle="""
    WITH e AS (
        SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
               CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events WHERE user_id % 10 = 7
    ), hourly AS (
        SELECT user_id, h, MAX(vc) AS v_obs FROM e GROUP BY 1, 2
    ), b AS (
        SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e
    ), hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b
    ), grid AS (
        SELECT u.user_id, hours.h
        FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN hours
    )
    SELECT g.user_id,
           epoch_us(g.h) AS hour_us,
           hl.v_obs AS v_obs,
           last_value(hl.v_obs IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
           hl.v_obs IS NULL AS is_gap
    FROM grid g
    LEFT JOIN hourly hl ON g.user_id = hl.user_id AND g.h = hl.h
    """,
)
def q_gapfill_locf(spark, sf_dir):
    """Hourly resample + gap fill: downsample events to (user, hour) maxima,
    densify onto the full hourly grid, and carry the last observation
    forward across gaps (LOCF) — the standard time-series regularization
    step before feature windows. Values are integer cents (floor(value*100))
    so the carried value is bit-identical across engines.

    Scale: the grid is built per user from a 1-row global-bounds broadcast
    (explode of ~|hours| elements per user — no driver loop, no giant
    crossJoin shuffle); the LOCF window partitions by user, so state per
    task is one user's series. The densify join shuffles on
    (user_id, hour) — the same key layout the downstream feature windows
    consume."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 7)
        .select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.floor(F.col("value") * 100).cast("long").alias("vc"),
        )
    )
    hourly = e.groupBy("user_id", "h").agg(F.max("vc").alias("v_obs"))
    bounds = e.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    grid = e.select("user_id").distinct().crossJoin(F.broadcast(hours))
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.unix_micros("h").alias("hour_us"),
            "v_obs",
            F.last("v_obs", ignorenulls=True).over(w).alias("v_filled"),
            F.col("v_obs").isNull().alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join with a match tolerance (pandas merge_asof `tolerance=`)


@query(
    "q_asof_tolerance",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS pvalue
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ), e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ets
        FROM events WHERE event_type = 'error'
    )
    SELECT e.event_id, e.user_id,
           epoch_us(e.ets) AS error_ts_us,
           CASE WHEN epoch_us(e.ets) - epoch_us(p.pts) <= 259200000000
                THEN epoch_us(p.pts) END AS matched_ts_us,
           CASE WHEN epoch_us(e.ets) - epoch_us(p.pts) <= 259200000000
                THEN p.pvalue END AS matched_value
    FROM e ASOF LEFT JOIN p
      ON e.user_id = p.user_id AND e.ets >= p.pts
    """,
)
def q_asof_tolerance(spark, sf_dir):
    """As-of join with tolerance: each error matches the latest
    prior-or-equal purchase by the same user ONLY if it happened within 3
    days; staler matches become NULL (pandas merge_asof ``tolerance``
    semantics). Because as-of picks the LATEST prior row, a single
    post-join gap predicate is exact — if the latest prior is out of
    tolerance, every earlier one is too. Oracle: DuckDB native ASOF JOIN
    plus the same gap CASE."""
    events = t(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("ets")
    )
    # no pre-aggregation: asof_join itself dedups the right side per
    # (key, ts) with MAX over value_cols (operators/asof.py) — an explicit
    # groupBy here would just stack a redundant second HashAggregate
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("pvalue")
    )
    out = asof_join(
        errors, purchases, on="user_id", left_ts="ets", right_ts="pts",
        value_cols=["pvalue"],
    )
    gap_ok = (
        F.unix_micros("ets") - F.unix_micros("matched_ts")
    ) <= F.lit(3 * 86400 * 1_000_000)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ets").alias("error_ts_us"),
        F.when(gap_ok, F.unix_micros("matched_ts")).alias("matched_ts_us"),
        F.when(gap_ok, F.col("matched_pvalue")).alias("matched_value"),
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostics (the measurement side of salted_join/AQE skew)


@query(
    "q_skew_diagnosis",
    oracle="""
    WITH cnts AS (
        SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1
    ), hist AS (
        SELECT cnt, COUNT(*) AS n_keys_at FROM cnts GROUP BY 1
    ), h2 AS (
        SELECT cnt, n_keys_at,
               SUM(n_keys_at) OVER (ORDER BY cnt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(n_keys_at) OVER () AS n_keys
        FROM hist
    ), agg AS (
        SELECT MAX(n_keys) AS n_keys,
               SUM(cnt * n_keys_at) AS n_rows,
               MIN(cnt) AS min_cnt, MAX(cnt) AS max_cnt,
               MIN(CASE WHEN 2 * cum >= n_keys THEN cnt END) AS p50_cnt,
               MIN(CASE WHEN 10 * cum >= 9 * n_keys THEN cnt END) AS p90_cnt
        FROM h2
    )
    SELECT n_keys, n_rows, min_cnt, max_cnt, p50_cnt, p90_cnt,
           (n_rows * 1000) // n_keys AS mean_cnt_x1000,
           CAST((CAST(max_cnt AS HUGEINT) * n_keys * 1000) // n_rows
                AS BIGINT) AS skew_x1000
    FROM agg
    """,
)
def q_skew_diagnosis(spark, sf_dir):
    """Join-key skew profile for orders.o_custkey: distinct keys, exact
    min/median/p90/max per-key counts, and a skew factor
    (max_cnt / mean_cnt, emitted ×1000 in integer arithmetic). This is the
    diagnostic that decides between a plain shuffle join, AQE skew
    splitting, and an explicit ``salted_join``.

    Scale: ONE chain, no branching — every statistic (totals, min/max,
    exact p50/p90) is derived from the count-of-counts histogram, so the
    fact table is scanned and aggregated exactly once and the only windows
    run over DISTINCT count values (bounded by the key multiplicity range,
    ~dozens of rows even at 100 TB), never over the keys themselves. No
    global sort of per-key counts, no driver collect."""
    cnts = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist = cnts.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_keys_at"))
    cumw = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    allw = Window.partitionBy()
    h2 = hist.select(
        "cnt",
        "n_keys_at",
        F.sum("n_keys_at").over(cumw).alias("cum"),
        F.sum("n_keys_at").over(allw).alias("n_keys"),
    )
    agg = h2.agg(
        F.max("n_keys").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("n_keys_at")).alias("n_rows"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.min(F.when(2 * F.col("cum") >= F.col("n_keys"), F.col("cnt"))).alias(
            "p50_cnt"
        ),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n_keys"), F.col("cnt"))
        ).alias("p90_cnt"),
    )
    return agg.select(
        "n_keys",
        "n_rows",
        "min_cnt",
        "max_cnt",
        "p50_cnt",
        "p90_cnt",
        F.expr("(n_rows * 1000) div n_keys").alias("mean_cnt_x1000"),
        # the ×1000 numerator is max_cnt · n_keys · 1000 — widened to
        # int128 (DECIMAL(38,0) / HUGEINT) because it exceeds 2^63 at
        # ~1e9 keys with a ~1e7-row hot key, exactly the skewed regime
        # this diagnostic exists to detect; the quotient (skew ratio
        # ×1000) always fits BIGINT
        F.expr(
            "CAST((CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 1000)"
            " div n_rows AS BIGINT)"
        ).alias("skew_x1000"),
    )


# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidate pairs


@query(
    "t_neardup_verified",
    oracle=f"""
    WITH {_lsh_ctes()},
    norm AS (
        SELECT doc_id, substr({_NORM}, 1, 200) AS ntext FROM documents
    )
    SELECT p.id_a, p.id_b,
           ROUND(CAST(len(list_intersect(p.sh_a, p.sh_b)) AS DOUBLE)
                 / len(list_distinct(list_concat(p.sh_a, p.sh_b))), 6) AS jaccard,
           levenshtein(na.ntext, nb.ntext) AS edit_distance,
           5 * levenshtein(na.ntext, nb.ntext)
               <= greatest(len(na.ntext), len(nb.ntext)) AS verified
    FROM lsh_pairs p
    JOIN norm na ON p.id_a = na.doc_id
    JOIN norm nb ON p.id_b = nb.doc_id
    """,
)
def t_neardup_verified(spark, sf_dir):
    """LSH candidate pairs passed through an edit-distance verify stage:
    Levenshtein on the first 200 normalized chars, accepted when the
    distance is ≤20% of the longer prefix (5·lev ≤ max-len — integer form).
    This is the candidate→verify shape of a production fuzzy-dedup
    pipeline: the cheap banded join proposes, the quadratic-cost exact
    distance disposes — and the quadratic step only ever touches candidate
    pairs, never the corpus cross product.

    Scale: the verify join re-attaches two 200-char prefixes per candidate
    pair (AQE broadcasts when pairs are few); levenshtein is a JVM built-in
    on capped-length inputs, so the verify cost is O(pairs · 200²) with no
    Python in the loop."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs)
    norm = docs.select(
        "doc_id", F.substring(normalize_text("text"), 1, 200).alias("ntext")
    )
    out = (
        pairs.join(
            norm.select(F.col("doc_id").alias("id_a"), F.col("ntext").alias("ta")),
            "id_a",
        ).join(
            norm.select(F.col("doc_id").alias("id_b"), F.col("ntext").alias("tb")),
            "id_b",
        )
    )
    lev = F.levenshtein("ta", "tb")
    return out.select(
        "id_a",
        "id_b",
        "jaccard",
        lev.alias("edit_distance"),
        (F.lit(5) * lev <= F.greatest(F.length("ta"), F.length("tb"))).alias(
            "verified"
        ),
    )


# ---------------------------------------------------------------------------
# Deterministic curriculum ordering (bucketed global shuffle position)


@query(
    "t_curriculum_order",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN n_chars < 150 THEN 0
                    WHEN n_chars < 300 THEN 1
                    WHEN n_chars < 450 THEN 2
                    ELSE 3 END AS bucket,
               md5(CAST(doc_id AS VARCHAR) || ':cur') AS skey
        FROM documents
    )
    SELECT doc_id, bucket,
           ROW_NUMBER() OVER (ORDER BY bucket, skey, doc_id) AS pos
    FROM base
    """,
)
def t_curriculum_order(spark, sf_dir):
    """Curriculum ordering: documents grouped into difficulty buckets
    (length thresholds — easy→hard), deterministically shuffled WITHIN each
    bucket by an md5 coin, and assigned a total global position. This is
    the epoch-ordering step of curriculum training: the order is a pure
    function of the data, so a re-run (or another engine — the oracle)
    reproduces it exactly.

    The global position uses the engine's two-pass prefix-sum pattern, not
    one corpus-wide ``Window.orderBy`` (the round-3 VERDICT's named
    scale-killer): shard = first 2 hex chars of the shuffle key (256
    shards; a PREFIX of the sort key, so per-shard order concatenates into
    the global order), intra-rank windows parallelize across
    (bucket, shard), and the shard offsets come from a ~1024-row exclusive
    prefix sum that is broadcast back."""
    from personal_data_lakehouse_spark.operators.partitioning import (
        sharded_global_positions,
    )

    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 300, 1)
        .when(F.col("n_chars") < 450, 2)
        .otherwise(3)
        .alias("bucket"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":cur")).cast("binary")
        ).alias("skey"),
    )
    return sharded_global_positions(base, "bucket", "skey", "doc_id").select(
        "doc_id", "bucket", "pos"
    )


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH dedup: new batch probed against the corpus index


# sig/bands come from the ONE shared template (cluster_ops) — only the
# pair-join predicate (batch probes corpus) is specific to this query
@query(
    "t_neardup_incremental",
    oracle=f"""
    WITH {_sig_bands_ctes()}, p AS (
        SELECT DISTINCT a.doc_id AS batch_id, c.doc_id AS corpus_id,
               a.shingles AS sh_a, c.shingles AS sh_b
        FROM bands a JOIN bands c
          ON a.b = c.b AND a.bucket = c.bucket
         AND a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    ), m AS (
        SELECT batch_id, COUNT(*) AS n_neardups,
               MAX(ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                   / len(list_distinct(list_concat(sh_a, sh_b))), 6))
                   AS best_jaccard
        FROM p
        WHERE ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                    / len(list_distinct(list_concat(sh_a, sh_b))), 6) >= 0.5
        GROUP BY 1
    )
    SELECT d.doc_id, COALESCE(m.n_neardups, 0) AS n_neardups,
           m.best_jaccard AS best_jaccard,
           m.batch_id IS NULL AS is_new
    FROM documents d LEFT JOIN m ON d.doc_id = m.batch_id
    WHERE d.doc_id % 10 = 0
    """,
)
def t_neardup_incremental(spark, sf_dir):
    """Incremental fuzzy dedup: documents arriving in a new batch
    (doc_id % 10 == 0) are probed against the EXISTING corpus's LSH band
    index — per batch doc: how many corpus near-dups (verified Jaccard
    ≥ 0.5 on the rounded value, mirrored in the oracle), the best match
    score, and an is_new admit/reject flag. This is the production ingest
    shape: the corpus×corpus pairing never re-runs; candidate work is
    O(|batch| · bucket load). Complements ``t_dedup_incremental`` (exact
    fingerprints) with the near-duplicate tier."""
    from personal_data_lakehouse_spark.dedup.minhash import lsh_batch_vs_corpus

    docs = t(spark, sf_dir, "documents")
    batch_pred = (F.col("doc_id") % 10) == 0
    pairs = lsh_batch_vs_corpus(docs, batch_pred)
    matched = (
        pairs.filter(F.col("jaccard") >= 0.5)
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_neardups"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    batch_docs = docs.filter(batch_pred).select("doc_id")
    return batch_docs.join(
        matched.withColumnRenamed("batch_id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_neardups"), F.lit(0)).alias("n_neardups"),
        "best_jaccard",
        F.col("n_neardups").isNull().alias("is_new"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled corpus rebalancing (α = 0.5 source re-weighting)


@query(
    "t_mix_temperature",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'web'
                    WHEN CAST(substr(source, 4) AS INT) < 15 THEN 'books'
                    ELSE 'code' END AS domain
        FROM documents
    ), c AS (
        SELECT domain, COUNT(*) AS n_s FROM d GROUP BY 1
    ), m AS (
        SELECT MIN(n_s) AS min_n FROM c
    ), thr AS (
        SELECT domain, n_s, min_n,
               CAST(FLOOR(65536 * sqrt(CAST(min_n AS DOUBLE) / n_s)) AS BIGINT)
                   AS th
        FROM c, m
    )
    SELECT d.doc_id, d.domain
    FROM d JOIN thr ON d.domain = thr.domain
    WHERE thr.n_s = thr.min_n
       OR substr(md5(CAST(d.doc_id AS VARCHAR) || ':tmix'), 1, 4)
          < lower(lpad(to_hex(th), 4, '0'))
    """,
)
def t_mix_temperature(spark, sf_dir):
    """Temperature-scaled source rebalancing (α = 0.5): each document keeps
    with probability sqrt(min_n / n_s), so over-represented sources are
    sqrt-downsampled toward the smallest source — the standard
    temperature-mixing step (α between uniform and proportional) of a
    multi-source training corpus, made deterministic: the coin is the md5
    of the doc id against a per-source integer threshold.

    Exactness: the threshold chain is one double division, one sqrt, one
    multiply, one floor — every op correctly-rounded IEEE in both engines,
    so Spark and the oracle derive identical thresholds; the comparison is
    then string-ordinal on 4 hex chars. α = 0.5 is chosen precisely
    because sqrt IS correctly rounded — pow(x, 0.7) is not and would
    drift between libm implementations.

    Scale: per-domain counts (|domains| rows) broadcast back onto the
    corpus; the keep decision is a map-side filter — zero shuffles of the
    corpus itself. (The fixture's sources are uniform by construction, so
    the domains are a skewed regrouping of them — web 2× books/code — to
    make the rebalance demonstrably non-vacuous.)"""
    src_no = F.substring("source", 4, 10).cast("int")
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(src_no < 10, "web")
        .when(src_no < 15, "books")
        .otherwise("code")
        .alias("domain"),
    )
    counts = d.groupBy("domain").agg(F.count(F.lit(1)).alias("n_s"))
    minn = counts.agg(F.min("n_s").alias("min_n"))
    thr = counts.crossJoin(F.broadcast(minn)).select(
        "domain",
        "n_s",
        "min_n",
        F.floor(
            F.lit(65536) * F.sqrt(F.col("min_n").cast("double") / F.col("n_s"))
        )
        .cast("long")
        .alias("th"),
    )
    coin = F.substring(
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":tmix")).cast("binary")
        ),
        1,
        4,
    )
    keep = (F.col("n_s") == F.col("min_n")) | (
        coin < F.lower(F.lpad(F.hex(F.col("th")), 4, "0"))
    )
    return d.join(F.broadcast(thr), "domain").filter(keep).select(
        "doc_id", "domain"
    )


# ---------------------------------------------------------------------------
# Exact decile bucketing via the bounded-range value histogram


@query(
    "q_decile_histogram",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), hist AS (
        SELECT cents, COUNT(*) AS n_at FROM v GROUP BY 1
    ), h2 AS (
        SELECT cents, n_at,
               SUM(n_at) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(n_at) OVER () AS n
        FROM hist
    ), labeled AS (
        SELECT cents, n_at, (10 * cum + n - 1) // n AS decile FROM h2
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(n_at) AS BIGINT) AS n_orders,
           MIN(cents) AS min_cents, MAX(cents) AS max_cents
    FROM labeled GROUP BY 1
    """,
)
def q_decile_histogram(spark, sf_dir):
    """Exact value deciles WITHOUT a global sort: decile(v) =
    ceil(10·cum_rank(v)/n) computed on the value histogram — rows sharing
    a value always share a decile (unlike NTILE, whose tie-splitting
    depends on physical row order and is therefore not reproducible), and
    the integer form (10·cum + n − 1) div n is exact on both engines.

    Scale: the histogram is keyed by the VALUE (integer cents), so its
    size is bounded by the value range — not the row count; for money
    columns that is ~1e7 entries at any corpus size. One scan + one
    histogram aggregation; the cumsum windows run over the histogram. The
    same shape assigns per-ROW deciles at scale by broadcasting the 9
    boundary values back onto the fact table as a map-side lookup."""
    v = t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    hist = v.groupBy("cents").agg(F.count(F.lit(1)).alias("n_at"))
    cumw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    allw = Window.partitionBy()
    h2 = hist.select(
        "cents",
        "n_at",
        F.sum("n_at").over(cumw).alias("cum"),
        F.sum("n_at").over(allw).alias("n"),
    )
    labeled = h2.select(
        "cents", "n_at", F.expr("(10 * cum + n - 1) div n").alias("decile")
    )
    return labeled.groupBy("decile").agg(
        F.sum("n_at").alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# Streaming watermark dedup run in-query, proven batch-equivalent


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Streaming exact-dedup under the driver's hash: the events fixture is
    consumed via readStream (availableNow), ``dropDuplicatesWithinWatermark``
    keyed on (user_id, event_type) emits each key once (first occurrence
    passes through immediately in append mode; duplicates are dropped
    against watermark-bounded state), the deduped append stream lands in
    a parquet FILE sink, and the sink is aggregated to (event_type,
    distinct users) — which must equal the batch COUNT(DISTINCT). Only
    key-level facts are hashed (which ROW survives dedup depends on
    micro-batch arrival order — deliberately excluded from the
    deterministic output contract).

    Scale: dedup state is bounded by the watermark horizon (keys expire
    once the event-time watermark passes), the canonical streaming-dedup
    memory story; the deduped key stream lands distributed in
    executor-written files (the memory sink this replaces held the FULL
    key set — O(users × types) — in driver memory), and only the
    ≤|event_types|-row rollup reaches the driver."""
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
        stream_events,
        stream_work_dir,
    )

    s = stream_events(spark, f"{sf_dir}/events.parquet")
    deduped = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    work = stream_work_dir("sdedup")
    keys = drain_stream_to_parquet(deduped, work)
    return keys.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Order-insensitive table checksums (replication / migration verification)

_CK_MOD = 2305843009213693951  # 2^61 - 1: keeps the running sum exact


@query(
    "q_table_checksum",
    oracle=f"""
    WITH o AS (
        SELECT CAST(('0x' || substr(md5(
                   COALESCE(CAST(o_orderkey AS VARCHAR), chr(1)) || '|' ||
                   COALESCE(CAST(o_custkey AS VARCHAR), chr(1)) || '|' ||
                   COALESCE(o_orderstatus, chr(1)) || '|' ||
                   COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(1))
                   || '|' ||
                   COALESCE(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), chr(1))
               ), 1, 14)) AS BIGINT) AS h
        FROM orders
    ), c AS (
        SELECT CAST(('0x' || substr(md5(
                   COALESCE(CAST(c_custkey AS VARCHAR), chr(1)) || '|' ||
                   COALESCE(CAST(c_nationkey AS VARCHAR), chr(1)) || '|' ||
                   COALESCE(c_name, chr(1))
               ), 1, 14)) AS BIGINT) AS h
        FROM customer
    ), d AS (
        SELECT CAST(('0x' || substr(md5(
                   COALESCE(CAST(doc_id AS VARCHAR), chr(1)) || '|' ||
                   COALESCE(source, chr(1)) || '|' ||
                   COALESCE(CAST(n_chars AS VARCHAR), chr(1))
               ), 1, 14)) AS BIGINT) AS h
        FROM documents
    )
    SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
           CAST(SUM(h) % {_CK_MOD} AS BIGINT) AS checksum FROM o
    UNION ALL
    SELECT 'customer', COUNT(*), CAST(SUM(h) % {_CK_MOD} AS BIGINT) FROM c
    UNION ALL
    SELECT 'documents', COUNT(*), CAST(SUM(h) % {_CK_MOD} AS BIGINT) FROM d
    """,
)
def q_table_checksum(spark, sf_dir):
    """Order-insensitive content checksums: md5 each row's canonical
    projection, take 56 bits as an integer, SUM — two tables are
    replica-identical iff (n_rows, checksum) match, with no sort and no
    co-location anywhere. This is the migration/replication verification
    primitive (exactly what validates a 100 TB copy, or this engine
    against the reference warehouse): one scan per table, map-side
    combinable sum, a single row of state per table.

    Exactness across engines: the canonical projection uses only
    integer/string/date renderings plus floor(×100) for money (never raw
    float repr, which formats differently per engine), with every column
    coalesced to a \\x01 sentinel so NULLs neither drop the row from the
    sum nor collide with adjacent-column shifts; the 56-bit values sum
    exactly in DECIMAL(38,0)/HUGEINT and are folded mod 2^61−1 at the end
    on both sides."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("c1"),
        F.col("o_custkey").cast("string").alias("c2"),
        F.col("o_orderstatus").alias("c3"),
        F.col("o_orderdate").cast("date").cast("string").alias("c4"),
        F.floor(F.col("o_totalprice") * 100).cast("long").cast("string").alias("c5"),
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("c1"),
        F.col("c_nationkey").cast("string").alias("c2"),
        F.col("c_name").alias("c3"),
    )
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("c1"),
        F.col("source").alias("c2"),
        F.col("n_chars").cast("string").alias("c3"),
    )
    return (
        _ck_table(orders, "orders")
        .unionAll(_ck_table(cust, "customer"))
        .unionAll(_ck_table(docs, "documents"))
    )


def _ck_h(cols):
    # Each column is coalesced to a \x01 sentinel BEFORE concatenation:
    # concat_ws silently skips NULLs, which would (a) diverge from the
    # oracle's '||' (whole hash nullified → row vanishes from the sum) and
    # (b) make ('a', NULL, 'b') and ('a', 'b', NULL) hash identically —
    # undetectable drift in the very tool meant to detect it.
    safe = [F.coalesce(F.col(c), F.lit("\x01")) for c in cols]
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *safe).cast("binary")), 1, 14), 16, 10
    ).cast("decimal(38,0)")


def _ck_table(df, table):
    withh = df.withColumn("h", _ck_h(df.columns))
    return withh.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(f"CAST(pmod(SUM(h), {_CK_MOD}L) AS BIGINT)").alias("checksum"),
    ).select(F.lit(table).alias("table_name"), "n_rows", "checksum")


# ---------------------------------------------------------------------------
# Feature hashing (hashing-trick bag-of-words)


@query(
    "t_feature_hashing",
    oracle=f"""
    SELECT doc_id, substr(md5(w), 1, 2) AS bucket, COUNT(*) AS n
    FROM (
        SELECT doc_id, unnest({_TOKS}) AS w
        FROM documents WHERE doc_id % 20 = 0
    )
    GROUP BY 1, 2
    """,
)
def t_feature_hashing(spark, sf_dir):
    """Hashing-trick featurization: each document becomes a sparse
    256-bucket term-count vector, bucket = first 2 hex chars of md5(token)
    — the fixed-width, vocabulary-free text featurizer (FastText/Vowpal
    style) that needs no dictionary broadcast and no vocabulary shuffle.
    Emitted in sparse (doc, bucket, n) form, the layout a downstream
    linear model or LSH consumer reads directly.

    Scale: tokenize → hash → partial-aggregated groupBy(doc, bucket) —
    one shuffle keyed by (doc_id, bucket), no vocabulary state anywhere
    (that is the point of the hashing trick: memory is O(buckets), not
    O(vocab)). The md5 prefix matches the oracle byte-for-byte."""
    d = t(spark, sf_dir, "documents").filter((F.col("doc_id") % 20) == 0)
    toks = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    return (
        toks.select(
            "doc_id",
            F.substring(F.md5(F.col("w").cast("binary")), 1, 2).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids (vector mean pooling)


@query(
    "s_label_centroids",
    oracle="""
    SELECT label, pos, COUNT(*) AS n_members,
           (CAST(SUM(q) AS DOUBLE) / COUNT(*)) / 1000000 AS centroid
    FROM (
        SELECT label, pos,
               CAST(FLOOR(CAST(embedding[pos + 1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings, range(64) r(pos)
    )
    WHERE q IS NOT NULL  -- posexplode parity: NULL/short vectors emit no row
    GROUP BY 1, 2
    """,
)
def s_label_centroids(spark, sf_dir):
    """Class centroids: the mean embedding per label and dimension — the
    vector pooling step behind nearest-class-mean classification and
    cluster seeding. Components are quantized to ×1e6 integers before the
    sum (float32→double widening first, per the engine's float32 rule), so
    the reduce is an exact BIGINT sum in any partition order; the mean is
    two correctly-rounded double divisions applied identically in the
    oracle.

    Scale: posexplode fans each vector into 64 rows and the aggregation
    shuffles on (label, pos) — |labels|·64 groups, map-side combined."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "comp"))
        .select(
            "label",
            "pos",
            F.floor(F.col("comp").cast("double") * 1_000_000)
            .cast("long")
            .alias("q"),
        )
        # NULL in-array components: posexplode still emits the row (comp
        # NULL -> q NULL), which would inflate n_members and the centroid
        # denominator while SUM skips it; the oracle filters q IS NOT NULL,
        # so match it here.
        .filter(F.col("q").isNotNull())
        .groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("q").alias("s"))
        .select(
            "label",
            "pos",
            "n_members",
            ((F.col("s").cast("double") / F.col("n_members")) / F.lit(1_000_000))
            .alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# Label-outlier detection (least-aligned members per label)


@query(
    "s_label_outliers",
    oracle="""
    WITH vq AS (
        SELECT vec_id, label, pos,
               CAST(FLOOR(CAST(embedding[pos + 1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings, range(64) r(pos)
        WHERE embedding[pos + 1] IS NOT NULL
    ), sums AS (
        SELECT label, pos, SUM(q) AS s FROM vq GROUP BY 1, 2
    ), dots AS (
        SELECT v.vec_id, v.label, CAST(SUM(v.q * s.s) AS BIGINT) AS align_dot
        FROM vq v JOIN sums s ON v.label = s.label AND v.pos = s.pos
        GROUP BY 1, 2
    ), ranked AS (
        SELECT vec_id, label, align_dot,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY align_dot, vec_id) AS rn
        FROM dots
    )
    SELECT label, vec_id, align_dot, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def s_label_outliers(spark, sf_dir):
    """Potential mislabels: per label, the 5 members LEAST aligned with
    their class aggregate — the embedding-space data-quality sweep that
    flags annotation errors before training. Alignment is the integer dot
    of the ×1e6-quantized vector with its label's component-SUM vector
    (not the mean): every term is exact BIGINT arithmetic, so the ranking
    is bit-stable across engines and partition orders with no float
    division anywhere.

    Scale: one posexplode + (label, dim) aggregate (broadcast back onto
    the member rows via the dimension join), one (vec, label) reduce for
    the dots, and a per-label top-5 window — state bounded by k per label,
    parallelism grows with |labels|. BIGINT headroom: |q| ≤ 1e6,
    |S| ≤ n_label·1e6, so dots stay under 2^63 to ~1e5 vectors per label
    at 64 dims; widen to DECIMAL(38,0) beyond."""
    vq = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "label", F.posexplode("embedding").alias("pos", "comp"))
        .select(
            "vec_id",
            "label",
            "pos",
            F.floor(F.col("comp").cast("double") * 1_000_000)
            .cast("long")
            .alias("q"),
        )
        # Match the oracle's `embedding[pos+1] IS NOT NULL`: an all-NULL
        # vector would otherwise yield a NULL align_dot that sorts first in
        # Spark's ranking but is absent from the oracle's dots.
        .filter(F.col("q").isNotNull())
        # persist: both the class-sum branch and the member-dot branch
        # consume vq — one corpus scan + explode instead of two
        .persist()
    )
    sums = vq.groupBy("label", "pos").agg(F.sum("q").alias("s"))
    dots = (
        vq.join(sums, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("q") * F.col("s")).alias("align_dot"))
    )
    w = Window.partitionBy("label").orderBy("align_dot", "vec_id")
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("label", "vec_id", "align_dot", F.col("rn").cast("long").alias("rn"))
    )


# ---------------------------------------------------------------------------
# dbt-style schema tests (unique / not_null / relationships / accepted_values)


@query(
    "q_dbt_schema_tests",
    oracle="""
    SELECT 'orders' AS table_name, 'o_orderkey' AS column_name,
           'unique' AS test_name,
           (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
             GROUP BY 1 HAVING COUNT(*) > 1)) AS n_violations
    UNION ALL
    SELECT 'documents', 'doc_id', 'unique',
           (SELECT COUNT(*) FROM (SELECT doc_id FROM documents
             GROUP BY 1 HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'lineitem', 'l_orderkey', 'not_null',
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
    UNION ALL
    SELECT 'events', 'user_id', 'not_null',
           (SELECT COUNT(*) FROM events WHERE user_id IS NULL)
    UNION ALL
    SELECT 'orders', 'o_custkey', 'relationships:customer.c_custkey',
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
             AND NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem', 'l_orderkey', 'relationships:orders.o_orderkey',
           (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
             AND NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders', 'o_orderstatus', 'accepted_values:O|F|P',
           (SELECT COUNT(*) FROM orders
             WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
    UNION ALL
    SELECT 'events', 'event_type',
           'accepted_values:click|view|purchase|signup',
           (SELECT COUNT(*) FROM events
             WHERE event_type NOT IN ('click', 'view', 'purchase', 'signup'))
    """,
)
def q_dbt_schema_tests(spark, sf_dir):
    """The dbt schema-test surface (unique, not_null, relationships,
    accepted_values) run as one relational report: a row per declared test
    with its violation count. The reference wires its models through dbt
    (reference dbt/lakehouse_models/models/bronze/schema.yml declares the
    bronze source this battery would attach to); this is the engine-side
    equivalent of `dbt test`. The accepted_values check on event_type
    deliberately excludes 'error' so the battery demonstrably catches
    violations rather than vacuously passing.

    Scale: each check is a single aggregation or LEFT ANTI join; at the
    pinned fixture the parent side of each relationships check fits the
    broadcast threshold (the golden shows BroadcastHashJoin LeftAnti), and
    once the parent outgrows it AQE falls back to a shuffled anti join on
    the FK — the same key the production join uses. The 8 check plans are
    independent and union into one job, so they run as parallel stages."""
    orders = t(spark, sf_dir, "orders")
    docs = t(spark, sf_dir, "documents")
    li = t(spark, sf_dir, "lineitem")
    events = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer")

    def one(table, column, test, cnt_df):
        return cnt_df.select(
            F.lit(table).alias("table_name"),
            F.lit(column).alias("column_name"),
            F.lit(test).alias("test_name"),
            F.col("n").alias("n_violations"),
        )

    def dup_keys(df, key):
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def null_count(df, col):
        return df.agg(
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n")
        )

    def orphans(child, fk, parent, pk):
        # dbt relationships semantics: NULL FKs are ignored (only non-null
        # values must resolve) — without the filter the anti join would
        # count every NULL FK as an orphan
        return (
            child.select(F.col(fk))
            .filter(F.col(fk).isNotNull())
            .join(parent.select(F.col(pk).alias(fk)), fk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def not_in(df, col, allowed):
        return df.agg(
            F.sum(F.when(~F.col(col).isin(*allowed), 1).otherwise(0))
            .cast("long")
            .alias("n")
        )

    checks = [
        one("orders", "o_orderkey", "unique", dup_keys(orders, "o_orderkey")),
        one("documents", "doc_id", "unique", dup_keys(docs, "doc_id")),
        one("lineitem", "l_orderkey", "not_null", null_count(li, "l_orderkey")),
        one("events", "user_id", "not_null", null_count(events, "user_id")),
        one(
            "orders",
            "o_custkey",
            "relationships:customer.c_custkey",
            orphans(orders, "o_custkey", cust, "c_custkey"),
        ),
        one(
            "lineitem",
            "l_orderkey",
            "relationships:orders.o_orderkey",
            orphans(li, "l_orderkey", orders, "o_orderkey"),
        ),
        one(
            "orders",
            "o_orderstatus",
            "accepted_values:O|F|P",
            not_in(orders, "o_orderstatus", ["O", "F", "P"]),
        ),
        one(
            "events",
            "event_type",
            "accepted_values:click|view|purchase|signup",
            not_in(events, "event_type", ["click", "view", "purchase", "signup"]),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


# ---------------------------------------------------------------------------
# PageRank over the customer↔supplier trade graph (iterative, integer-exact)

_PR_SCALE = 1_000_000_000_000  # initial rank per node (×1e12 fixed point)
_PR_BASE = 150_000_000_000  # 0.15 × SCALE teleport mass


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
        SELECT e.dst AS node,
               {_PR_BASE} + SUM(({prev}.r * 85) // (100 * dg.d)) AS r
        FROM edges e
        JOIN {prev} ON e.src = {prev}.node
        JOIN deg dg ON e.src = dg.node
        GROUP BY 1
    )"""


@query(
    "m_pagerank_top20",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS (
        SELECT cnode AS src, snode AS dst FROM pairs
        UNION ALL
        SELECT snode AS src, cnode AS dst FROM pairs
    ), deg AS (
        SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1
    ), r0 AS (
        SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg
    ), {_pr_iter_sql("r0", "r1")}, {_pr_iter_sql("r1", "r2")},
       {_pr_iter_sql("r2", "r3")}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS entity_id,
           r AS rank_scaled
    FROM r3 ORDER BY r DESC, node LIMIT 20
    """,
)
def m_pagerank_top20(spark, sf_dir):
    """Three PageRank iterations (damping 0.85) over the undirected
    customer↔supplier trade graph (an edge per distinct (customer,
    supplier) trading pair), returning the 20 highest-ranked entities —
    the influence/centrality measure a data platform reports over its
    entity graph. Iterative-join graph algorithm beyond the transitive
    closure of ``t_dedup_clusters``.

    Bit-deterministic across engines and partition orders: ranks are
    ×1e12 fixed-point BIGINTs, each edge contribution is the integer
    floor (r·85) div (100·deg) and the per-node reduce is an integer sum.
    Rank magnitudes stay ≤ Σranks ≈ N·1e12, so the ×85 intermediate fits
    BIGINT to N ≈ 10⁵ nodes at this scale factor family; at 100 TB drop
    SCALE or widen to DECIMAL(38,0).

    Scale: the edge list (with degree attached) is persisted once and
    re-shuffled on src each iteration — the canonical Pregel-as-joins
    layout; per-iteration cost is one co-partitioned join plus one
    aggregation, no driver-side state beyond the loop counter."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("ck")
    )
    pairs = (
        li.join(o, "ok")
        .select(
            (F.col("ck") * 2).alias("cnode"),
            (F.col("sk") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cnode").alias("src"), F.col("snode").alias("dst")
    ).unionAll(pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # persisted for the 3 iteration joins; Spark's CacheManager dedupes
    # identical lineages, so repeated invocations in one session share ONE
    # cache entry (on a cluster this becomes a written intermediate —
    # SCALE.md §13). The entry lives until clearCache, the session's
    # standing policy for in-query persists.
    ed = edges.join(deg, "src").persist()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(_PR_SCALE).cast("long").alias("r")
    )
    for _ in range(3):
        ranks = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("(r * 85) div (100 * d)")).alias("contrib"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(_PR_BASE) + F.col("contrib")).alias("r"),
            )
        )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("entity_id"),
            F.col("r").alias("rank_scaled"),
        )
        .orderBy(F.desc("rank_scaled"), (F.col("entity_id") * 2)
                 + F.when(F.col("node_type") == "supplier", 1).otherwise(0))
        .limit(20)
    )
