"""Relational surface widening: multi-dimensional aggregation (grouping
sets / cube), subquery shapes (EXISTS via semi join, scalar subquery via
broadcast), range join, exact percentiles, deterministic correlation,
array explode, unpivot, and interval-range window frames.

None of these appear literally in the reference (SURVEY §2.3 J3-J∀, §2.4,
§2.5 note them as implied/required engine surface); each is expressed
Spark-first — declarative DataFrame/SQL so Catalyst picks the physical
strategy — with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.functions import AGG_DECIMAL, dec, dsum
from personal_data_lakehouse_spark.io.readers import local_frame
from personal_data_lakehouse_spark.plans.registry import query, t

# ---------------------------------------------------------------------------
# Multi-dimensional aggregation


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6))
               AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS rollup lattice — one shuffle, Spark expands the sets
    map-side (Expand operator) so each input row feeds every set."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("x_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6))
                   AS sum_qty,
               COUNT(*) AS n_rows
        FROM x_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_st,
           CAST(grouping(o_orderpriority) AS INT) AS g_pr,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,6))
               AS sum_total,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark, sf_dir):
    """CUBE over (status, priority): all 2^2 grouping combinations in a
    single Expand+HashAggregate pass."""
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_st"),
            F.grouping("o_orderpriority").cast("int").alias("g_pr"),
            dsum(dec("o_totalprice"), "sum_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_st", "g_pr",
            "sum_total", "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# Subquery shapes


@query(
    "q_exists_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
    GROUP BY o_orderpriority
    """,
)
def q_exists_subquery(spark, sf_dir):
    """Correlated EXISTS (TPC-H Q4 shape) as a left-semi join — the
    decorrelated plan Spark would produce; the probe side is pre-filtered
    so only qualifying lineitems shuffle."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01"))
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        o.join(li, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT p_partkey, p_brand,
           CAST(p_retailprice AS DECIMAL(18,4)) AS price
    FROM part
    WHERE p_retailprice > (
        SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*)
        FROM part)
    """,
)
def q_scalar_subquery(spark, sf_dir):
    """Scalar-subquery predicate (price above global mean): the aggregate
    collapses to one broadcast row, so the filter stays a map-only stage.
    Mean = exact decimal sum ÷ count (deterministic across partitionings)."""
    p = t(spark, sf_dir, "part")
    avg_row = p.agg(
        (F.sum(dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias(
            "avg_price"
        )
    )
    return (
        p.crossJoin(F.broadcast(avg_row))
        .filter(F.col("p_retailprice") > F.col("avg_price"))
        .select(
            "p_partkey", "p_brand", dec("p_retailprice").alias("price")
        )
    )


# ---------------------------------------------------------------------------
# Range join

_BANDS = [(i, i * 11_000.0, (i + 1) * 11_000.0) for i in range(10)]


@query(
    "q_range_join",
    oracle=f"""
    WITH bands(band_id, lo, hi) AS (VALUES
        {", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _BANDS)})
    SELECT band_id, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,6))
               AS sum_price
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band_id
    """,
)
def q_range_join(spark, sf_dir):
    """Range (band) join: facts against a broadcast interval dimension —
    a BroadcastNestedLoopJoin, the right physical plan when the band table
    is tiny; at many-band scale, bucket by floor(price/width) first to make
    it an equi-join."""
    li = t(spark, sf_dir, "lineitem")
    bands = local_frame(spark, _BANDS, "band_id int, lo double, hi double")
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(dec("l_extendedprice"), "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles & deterministic correlation


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS qty_p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS price_median
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles(spark, sf_dir):
    """Exact linear-interpolated percentiles per group (sort-based exact
    aggregate; for 100 TB switch to approx_percentile's streaming
    KLL/GK sketch — same query shape)."""
    li = t(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
    return (
        li.groupBy("l_returnflag")
        .agg(
            pct.alias("p"),
            F.expr("percentile(l_extendedprice, 0.5D)").alias("pm"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("p", 1), 6).alias("qty_p25"),
            F.round(F.element_at("p", 2), 6).alias("qty_p50"),
            F.round(F.element_at("p", 3), 6).alias("qty_p75"),
            F.round("pm", 6).alias("price_median"),
        )
    )


@query(
    "q_corr",
    oracle="""
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS corr_qty_price
    FROM (
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))
                        * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
    """,
)
def q_corr(spark, sf_dir):
    """Pearson correlation from exact decimal co-moments: the five sums are
    associative (partition-order independent), the final formula is one
    deterministic double expression — unlike a naive float corr whose
    merge order varies. Single shuffle, partial aggregation map-side."""
    li = t(spark, sf_dir, "lineitem")
    x = dec("l_quantity", 8, 2)
    y = dec("l_extendedprice", 12, 2)
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(
        n * F.col("syy") - sy * sy
    )
    return agg.select(
        "l_returnflag", "n", F.round(num / den, 6).alias("corr_qty_price")
    )


# ---------------------------------------------------------------------------
# Explode / unpivot


@query(
    "q_explode_arrays",
    oracle=r"""
    SELECT w AS word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(
              trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
          FROM documents)
    WHERE length(w) >= 5
    GROUP BY w HAVING COUNT(*) >= 3
    ORDER BY cnt DESC, word
    LIMIT 100
    """,
)
def q_explode_arrays(spark, sf_dir):
    """Array explode → frequency count → top-k: the tokenize-and-count
    shape of every corpus-statistics job. Explode is pipelined (no
    shuffle); the count is one hash aggregation."""
    from personal_data_lakehouse_spark.functions import normalize_text

    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(F.split(normalize_text("text"), " ")).alias("word")
        )
        .filter(F.length("word") >= 5)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 3)
        .orderBy(F.desc("cnt"), "word")
        .limit(100)
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_returnflag, 'qty' AS measure,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS total
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'price',
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,6))
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'disc',
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,6))
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'tax',
           CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DECIMAL(38,6))
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_unpivot(spark, sf_dir):
    """Wide→long unpivot of the four lineitem measures, then one grouped
    sum over the long form — Spark's native unpivot expands rows map-side
    (no shuffle until the aggregate)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        dec("l_quantity").alias("qty"),
        dec("l_extendedprice").alias("price"),
        dec("l_discount").alias("disc"),
        dec("l_tax").alias("tax"),
    )
    long = li.unpivot(
        ["l_returnflag"], ["qty", "price", "disc", "tax"], "measure", "value"
    )
    return long.groupBy("l_returnflag", "measure").agg(
        dsum(F.col("value"), "total")
    )


# ---------------------------------------------------------------------------
# Interval-range window frame


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, day_idx,
           CAST(SUM(total_dec) OVER (
               PARTITION BY o_custkey ORDER BY day_idx
               RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
             AS DECIMAL(38,6)) AS spend_90d
    FROM (SELECT o_orderkey, o_custkey,
                 date_diff('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) AS day_idx,
                 CAST(o_totalprice AS DECIMAL(18,4)) AS total_dec
          FROM orders)
    """,
)
def q_window_range_frame(spark, sf_dir):
    """Trailing-90-day spend per customer: a RANGE frame over a day index —
    value-based (all peers included), so the decimal sum is deterministic
    even with duplicate order dates. One shuffle on the partition key."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("day_idx"),
        dec("o_totalprice").alias("total_dec"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_idx")
        .rangeBetween(-90, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "day_idx",
        F.sum("total_dec").over(w).cast(AGG_DECIMAL).alias("spend_90d"),
    )


# ---------------------------------------------------------------------------
# Multi-hop star join (TPC-H Q7 shape) & ranking functions


@query(
    "q07_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DECIMAL(38,6)) AS revenue,
           COUNT(*) AS n_lines
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(YEAR FROM l_shipdate) AS l_year,
               CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))
                 AS DECIMAL(22,8)) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name)
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q07_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: 6-table star join, nation dims filtered BEFORE the
    join and broadcast, fact-fact joins on keys (sort-merge/AQE at scale),
    exact decimal revenue. The selective nation filter reaches the probe
    sides as a broadcast semi-condition — Catalyst prunes most rows before
    the wide joins."""
    nations = ["NATION_1", "NATION_2"]
    n1 = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(nations))
    n2 = n1.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    n1 = n1.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
    )
    cust = t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    )
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    volume = (
        dec("l_extendedprice")
        * (F.lit(1) - dec("l_discount", 8, 4)).cast("decimal(8,4)")
    ).cast("decimal(22,8)")
    joined = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume"), "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "q_ranking_functions",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ntile(4) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey) AS price_quartile,
           ROUND(percent_rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
           ROUND(cume_dist() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey), 6) AS cume,
           first_value(o_orderkey) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS cheapest_key,
           last_value(o_orderkey) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS priciest_key
    FROM orders
    """,
)
def q_ranking_functions(spark, sf_dir):
    """Distribution-ranking window functions (ntile / percent_rank /
    cume_dist / first_value / last_value) — unique (price, key) ordering
    makes every rank deterministic; one shuffle on the partition key."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(wfull).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


# ---------------------------------------------------------------------------
# More TPC-H shapes over the fixture schema (Q10 / Q14 / Q18 analogues)


@query(
    "q10_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))
                AS DECIMAL(22,8))) AS DECIMAL(38,6)) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: lost revenue from returned items per customer,
    top 20 — selective date filter pushed to the orders scan, nation
    broadcast, deterministic top-k tiebreak on custkey."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-07-01"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    rev = (
        dec("l_extendedprice")
        * (F.lit(1) - dec("l_discount", 8, 4)).cast("decimal(8,4)")
    ).cast("decimal(22,8)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(rev, "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_share",
    oracle="""
    SELECT l_year,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol END) AS DECIMAL(38,6))
               AS promo_revenue,
           CAST(SUM(vol) AS DECIMAL(38,6)) AS total_revenue,
           ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol
                              ELSE CAST(0 AS DECIMAL(22,8)) END) AS DOUBLE)
                 * 100.0 / CAST(SUM(vol) AS DOUBLE), 6) AS promo_pct
    FROM (
        SELECT EXTRACT(YEAR FROM l_shipdate) AS l_year, p_type,
               CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))
                 AS DECIMAL(22,8)) AS vol
        FROM lineitem JOIN part ON l_partkey = p_partkey)
    GROUP BY l_year
    """,
)
def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share per year — conditional
    aggregation over a fact-dim join; the percentage derives from two
    exact decimal sums with one double division."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    vol = (
        dec("l_extendedprice")
        * (F.lit(1) - dec("l_discount", 8, 4)).cast("decimal(8,4)")
    ).cast("decimal(22,8)")
    joined = li.join(p, li.l_partkey == p.p_partkey).select(
        F.year("l_shipdate").alias("l_year"),
        "p_type",
        vol.alias("vol"),
    )
    promo = F.when(F.col("p_type") == "PROMO", F.col("vol"))
    promo_z = F.when(F.col("p_type") == "PROMO", F.col("vol")).otherwise(
        F.lit(0).cast("decimal(22,8)")
    )
    return joined.groupBy("l_year").agg(
        dsum(promo, "promo_revenue"),
        dsum(F.col("vol"), "total_revenue"),
        F.round(
            F.sum(promo_z).cast("double") * 100.0
            / F.sum(F.col("vol")).cast("double"),
            6,
        ).alias("promo_pct"),
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           CAST(total_qty AS DECIMAL(38,6)) AS total_qty
    FROM (
        SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 400)
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold —
    aggregate-then-join: the HAVING collapses lineitem to a tiny key set
    BEFORE touching orders/customer (the join probes broadcast it)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("tq"))
        .filter(F.col("tq") > 400)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("tq").cast(AGG_DECIMAL).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot / histogram (wide-format reshaping and distributed binning)


@query(
    "q_pivot_wide",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'A'
                    THEN CAST(l_quantity AS DECIMAL(18,4)) END)
                AS DECIMAL(38,6)) AS qty_a,
           CAST(SUM(CASE WHEN l_returnflag = 'N'
                    THEN CAST(l_quantity AS DECIMAL(18,4)) END)
                AS DECIMAL(38,6)) AS qty_n,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_quantity AS DECIMAL(18,4)) END)
                AS DECIMAL(38,6)) AS qty_r,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q_pivot_wide(spark, sf_dir):
    """Wide-format pivot (long→wide reshape). With the pivot values listed
    explicitly, Spark compiles this to ONE hash aggregation with a
    conditional-sum per value — no extra pass to discover the domain, no
    second shuffle; identical cost profile to a plain groupBy at 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(dec("l_quantity")).alias("q"), F.count(F.lit(1)).alias("c"))
    )
    return wide.select(
        "l_linestatus",
        F.col("A_q").cast(AGG_DECIMAL).alias("qty_a"),
        F.col("N_q").cast(AGG_DECIMAL).alias("qty_n"),
        F.col("R_q").cast(AGG_DECIMAL).alias("qty_r"),
        (
            F.coalesce(F.col("A_c"), F.lit(0))
            + F.coalesce(F.col("N_c"), F.lit(0))
            + F.coalesce(F.col("R_c"), F.lit(0))
        ).alias("n_rows"),
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,6))
               AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark, sf_dir):
    """Distributed equi-width histogram: bucketing is a scalar projection
    (stays inside whole-stage codegen), then one partial+final hash agg —
    the canonical shape for profiling a 100 TB column in a single pass.
    IEEE double divide/floor is bit-identical across engines, so the
    bucket ids hash-match the oracle exactly."""
    o = t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("int")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(dec("o_totalprice"), "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Event-sequence analytics: sessionization (gaps-and-islands) and cohorts


@query(
    "q_sessionize",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(value AS DECIMAL(18,6)) AS val,
               CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts_us, val,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS sid
        FROM ordered
    )
    SELECT user_id, CAST(sid AS INT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           CAST(SUM(val) AS DECIMAL(38,6)) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def q_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization: a new session starts after a >30 min
    silence. One shuffle on user_id serves BOTH window passes (lag for the
    gap flag, running sum for the session id) and the final per-session
    aggregate — partitioning reuse is what keeps this a single-exchange
    plan on a 100 TB event log. event_id breaks ts ties so tied rows get a
    deterministic total order on both engines."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        dec("value", 18, 6).alias("val"),
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0).alias("is_new"),
    )
    wcum = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("sid", F.sum("is_new").over(wcum))
    return sess.groupBy("user_id", F.col("sid").cast("int").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        dsum(F.col("val"), "total_value"),
    )


@query(
    "q_retention_cohort",
    oracle="""
    WITH f AS (
        SELECT user_id,
               DATE_TRUNC('month', MIN(CAST(ts AS DATE))) AS cohort_month
        FROM events GROUP BY user_id
    ),
    a AS (
        SELECT DISTINCT user_id,
               DATE_TRUNC('month', CAST(ts AS DATE)) AS activity_month
        FROM events
    )
    SELECT CAST(cohort_month AS DATE) AS cohort_month,
           CAST(activity_month AS DATE) AS activity_month,
           COUNT(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_retention_cohort(spark, sf_dir):
    """Retention cohort triangle: users bucketed by first-activity month,
    counted in every month they return. Both the first-touch aggregate and
    the distinct-activity set shuffle on user_id, so the join between them
    is co-partitioned (no third exchange); the final cohort×month rollup
    is tiny. The classic shape for activity analysis over years of logs."""
    e = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    f = e.groupBy("user_id").agg(F.trunc(F.min("d"), "month").alias("cohort_month"))
    a = e.select("user_id", F.trunc("d", "month").alias("activity_month")).distinct()
    return a.join(f, "user_id").groupBy("cohort_month", "activity_month").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "q_funnel",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
               MIN(CASE WHEN event_type = 'click'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
           COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
               AS n_view_click_purchase
    FROM u
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase) via first-touch
    timestamps: ONE shuffle on user_id builds all three step times as
    conditional MINs in the same hash aggregate, then the funnel collapses
    to a scalar row map-side — no joins, no second shuffle, the cheapest
    correct funnel shape over a 100 TB event log. NULL step times fail the
    > comparison, so non-converting users drop out without explicit guards."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))

    def step(name):
        return F.min(F.when(F.col("event_type") == name, us)).alias(f"t_{name}")

    u = e.groupBy("user_id").agg(step("view"), step("click"), step("purchase"))
    return u.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_view_click_purchase"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction (explicit runtime-filter counterpart)


@query(
    "q_bloom_semi_join",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand IN ('Brand#23', 'Brand#45') AND p_size <= 15
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_bloom_semi_join(spark, sf_dir):
    """Q17/Q21-family fact-dim join with an explicit bloom semi-join
    reduction: the selective part dimension builds a distributed bloom
    bitmap (one-row broadcast map, operators/bloomjoin.py) that prunes
    lineitem BEFORE its join shuffle; the real join then runs on the
    survivors, so the result is exactly the unreduced join (false
    positives die in the join, false negatives are impossible). At 100 TB
    this is the shape Catalyst's own runtime bloom filter injects once the
    probe scan crosses its 10 GB threshold — here it is explicit, tested,
    and available below the threshold."""
    from personal_data_lakehouse_spark.operators.bloomjoin import bloom_semi_reduce

    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#23", "Brand#45") & (F.col("p_size") <= 15)
    )
    reduced = bloom_semi_reduce(li, part, "l_partkey", "p_partkey")
    return (
        reduced.join(F.broadcast(part), reduced.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )
