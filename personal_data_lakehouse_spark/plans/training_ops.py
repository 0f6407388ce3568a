"""Training-data pipeline extensions, wave 2 (SCD2, mixing, packing,
contamination, distributed k-means).

Each operator is something a 100 TB LLM-data or lakehouse pipeline runs
daily, expressed as pure built-in DataFrame plans (no Python UDFs) with an
exact DuckDB oracle:

- ``q_scd2_intervals``: slowly-changing-dimension type-2 build — change
  log → validity intervals via one ``lead()`` window (the standard
  medallion-silver dimension historization; reference's Delta merge layer
  stops at type-1 upserts, see SURVEY §2.3).
- ``q_pct_of_total``: ratio-to-report over grouped aggregates (window sum
  over an already-aggregated frame — zero extra shuffle since AQE reuses
  the grouped partitioning).
- ``t_pack_sequences``: sequence packing — running token cumsum chops the
  ordered corpus into fixed token-budget bins (the pre-tokenization layout
  step of every LLM training run); integer math end-to-end.
- ``t_mix_weighted``: domain-weighted corpus mixing — per-source keep
  rates applied via an md5-keyed deterministic coin so the mix is
  reproducible across engines, runs, and partition layouts.
- ``t_contamination``: benchmark-contamination scan — 3-word shingle
  overlap between the corpus and a held-out benchmark set via one
  explode + hash join; count of distinct shared shingles per doc.
- ``m_kmeans_centroids``: two unrolled Lloyd iterations over the embedding
  table, fully relational (posexplode → broadcast-join assign → groupBy
  update). All distance math is quantized to integers (floor(x·1e6)) and
  accumulated in DECIMAL(38,0), so assignment is bit-deterministic across
  engines and partition orders — the pattern that makes iterative ML
  oracle-checkable at any scale.

Scale notes inline; every shuffle is on a key whose cardinality grows with
data (doc_id/vec_id/cluster×dim), never on a driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.functions import dec
from personal_data_lakehouse_spark.functions.text import (
    token_count_whitespace,
    tokens,
    word_shingles,
)
from personal_data_lakehouse_spark.io.readers import local_frame
from personal_data_lakehouse_spark.operators.partitioning import (
    sharded_global_positions,
)
from personal_data_lakehouse_spark.plans.registry import _path_mtime, query, t
from personal_data_lakehouse_spark.plans.text_ops import _NORM, _SHINGLES, _TOKS

# ---------------------------------------------------------------------------
# SCD2 dimension build


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(o_orderdate AS DATE) AS valid_from,
           CAST(LEAD(o_orderdate) OVER w AS DATE) AS valid_to,
           (LEAD(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2_intervals(spark, sf_dir):
    """Type-2 slowly-changing dimension: each customer's order stream becomes
    validity intervals [valid_from, valid_to) with an is_current flag — one
    lead() window, one shuffle on the dimension key. ORDER BY ends in the
    unique o_orderkey so same-day changes get a deterministic interval chain.
    At 100 TB the partition key (custkey) is the natural dimension key, so
    the shuffle is the minimal one any historization must do."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = t(spark, sf_dir, "orders")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        nxt.cast("date").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Ratio-to-report


@query(
    "q_pct_of_total",
    oracle="""
    SELECT r_name, n_name, CAST(revenue AS DOUBLE) AS revenue,
           CAST(revenue AS DOUBLE) / CAST(SUM(revenue) OVER (PARTITION BY r_name) AS DOUBLE)
               AS region_share
    FROM (
        SELECT r_name, n_name,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    ) g
    """,
)
def q_pct_of_total(spark, sf_dir):
    """Ratio-to-report: each nation's share of its region's revenue. The
    window total runs over the already-aggregated frame (25 rows), so the
    expensive part is the one grouped aggregation; nation/region dims
    broadcast. Share is computed as double-over-double from exact decimal
    sums — identical bits on any engine."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(dec("o_totalprice")).alias("revenue"))
    )
    total = F.sum("revenue").over(Window.partitionBy("r_name"))
    return g.select(
        "r_name",
        "n_name",
        F.col("revenue").cast("double").alias("revenue"),
        (F.col("revenue").cast("double") / total.cast("double")).alias(
            "region_share"
        ),
    )


# ---------------------------------------------------------------------------
# Sequence packing


@query(
    "t_pack_sequences",
    oracle=f"""
    SELECT CAST((cum - tok) // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM (
        SELECT doc_id, tok,
               SUM(tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM (SELECT doc_id, len({_TOKS}) AS tok FROM documents) d
    ) c
    GROUP BY 1
    """,
)
def t_pack_sequences(spark, sf_dir):
    """Sequence packing: order the corpus by doc_id, take the running token
    count, and cut a new 512-token sequence whenever the budget fills — the
    layout step before tokenized training shards are written. seq_id =
    (cumsum - tok) div 512 assigns each doc to the bin its first token lands
    in; all integer arithmetic.

    The global cumsum is TWO-PASS (the classic distributed prefix sum), not
    a corpus-wide ``Window.orderBy`` — that form funnels every row through
    one range-partitioned task chain (the round-3 VERDICT's named
    scale-killer). Here: (1) bucket by ``doc_id div 4096`` and take
    per-bucket token sums (map-side combinable, one small shuffle);
    (2) prefix-sum the BUCKET TOTALS — the only serial window now runs over
    N/4096 rows, not N — and broadcast the per-bucket offsets back;
    (3) cumsum WITHIN each bucket (parallel across buckets) + offset.
    Bit-identical to the single-window form (all integers), but the serial
    section shrinks by the bucket width; recurse the bucketing if N/4096
    is itself too large. ``t_pack_sequences_sharded`` remains the
    preferred layout when a natural shard key exists."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", token_count_whitespace("text").alias("tok")
    )
    # persist: the bucket-sums branch and the join branch share no subplan
    # in Catalyst, so without this the corpus scan + tokenization (the
    # dominant cost) would run twice. The cached projection is 2 longs +
    # the bucket per doc; on a cluster this becomes a written intermediate.
    b = docs.withColumn("bucket", F.expr("doc_id div 4096")).persist()
    bucket_sums = b.groupBy("bucket").agg(F.sum("tok").alias("bsum"))
    prior = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        "bucket",
        F.coalesce(F.sum("bsum").over(prior), F.lit(0)).alias("offset"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = (
        b.join(F.broadcast(offsets), "bucket")
        .withColumn("cum", F.sum("tok").over(w) + F.col("offset"))
        .withColumn("seq_id", F.expr("(cum - tok) div 512"))
    )
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "t_pack_sequences_sharded",
    oracle=f"""
    SELECT source,
           CAST((cum - tok) // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM (
        SELECT doc_id, source, tok,
               SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM (SELECT doc_id, source, len({_TOKS}) AS tok FROM documents) d
    ) c
    GROUP BY 1, 2
    """,
)
def t_pack_sequences_sharded(spark, sf_dir):
    """Sequence packing, sharded: the scale path of ``t_pack_sequences``.
    The corpus-global variant's ``Window.orderBy(doc_id)`` funnels the
    cumsum through ONE range-partitioned task chain at 100 TB; here the
    window is ``partitionBy(source)`` — each shard (domain, file group,
    date bucket …) packs independently, so the cumsum parallelizes across
    as many tasks as there are shards and no single task ever sees more
    than one shard's rows. Each shard gets its own seq_id space, which is
    exactly how training shards are laid out on disk anyway (one writer
    per shard). Same integer bin math as the global variant."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_whitespace("text").alias("tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = docs.withColumn("cum", F.sum("tok").over(w)).withColumn(
        "seq_id", F.expr("(cum - tok) div 512")
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Domain-weighted mixing


@query(
    "t_mix_weighted",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 4)
          < CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                 THEN 'c000' ELSE '4000' END
    """,
)
def t_mix_weighted(spark, sf_dir):
    """Domain-weighted corpus mixing: even-numbered sources keep 75% of
    docs, odd-numbered 25% (stand-ins for per-domain mixing weights). The
    keep decision is md5(doc_id || ':mix') against a per-source threshold —
    a pure function of the row, so the mix is identical across engines,
    reruns, and partition layouts, and a doc's fate never changes as the
    corpus grows. Pushes to the scan as a filter; zero shuffles."""
    docs = t(spark, sf_dir, "documents")
    coin = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")).cast("binary")),
        1,
        4,
    )
    threshold = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit("c000")
    ).otherwise(F.lit("4000"))
    return docs.filter(coin < threshold).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Benchmark contamination


@query(
    "t_contamination",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s
        FROM (SELECT doc_id, {_TOKS} AS w FROM documents) d
    ),
    bench AS (SELECT s FROM sh WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
    SELECT c.doc_id,
           COUNT(DISTINCT c.s) AS n_shared,
           COUNT(DISTINCT c.s) >= 3 AS contaminated
    FROM corpus c
    JOIN (SELECT DISTINCT s FROM bench) b ON c.s = b.s
    GROUP BY c.doc_id
    """,
)
def t_contamination(spark, sf_dir):
    """Benchmark-contamination scan: distinct 3-word shingles shared between
    each corpus doc and a held-out benchmark set (here: doc_id % 97 = 0).
    One explode + one hash join on the shingle string + one grouped distinct
    count. At 100 TB the benchmark side is tiny and broadcast, so the scan
    cost is the corpus explode alone — the same shape production decontam
    (e.g. 13-gram overlap vs eval sets) runs. spread() fans the
    CPU-bound shingle explode across cores when the scan is one split
    (no-op at scale)."""
    from personal_data_lakehouse_spark.operators.partitioning import spread

    docs = spread(t(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_shingles(tokens("text"))).alias("s")
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    )
    corpus = sh.filter(F.col("doc_id") % 97 != 0)
    joined = corpus.join(F.broadcast(bench), "s")
    n_shared = F.countDistinct("s")
    return joined.groupBy("doc_id").agg(
        n_shared.alias("n_shared"), (n_shared >= 3).alias("contaminated")
    )


# ---------------------------------------------------------------------------
# Distributed k-means (two unrolled Lloyd iterations, bit-deterministic)

_QSCALE = 1_000_000  # comp → q integer units
_K = 4


def _vq(spark, sf_dir):
    """(vec_id, pos, q): embeddings posexploded and quantized to integers.

    q = floor(comp · 1e6). float→double is exact, the double multiply and
    floor are single correctly-rounded IEEE ops, so every engine derives the
    same q — the foundation that keeps the whole iteration exact.
    """
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "comp")
    ).select(
        "vec_id",
        "pos",
        F.floor(F.col("comp").cast("double") * _QSCALE).cast("long").alias("q"),
    )


def _assign(vq, cent):
    """Nearest centroid per vector, exact: dist = Σ (1000·q − cq)² in
    DECIMAL(38,0); ties broken by cluster_id. Centroids broadcast."""
    diff = (F.lit(1000) * F.col("q") - F.col("cq")).cast("decimal(18,0)")
    dists = (
        vq.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cluster_id")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cluster_id")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id")
    )


def _update(vq, assign):
    """New centroids as scaled integers: cq = floor(1000·Σq / n). The sum is
    exact bigint, the division one IEEE double op — same floor everywhere."""
    return (
        vq.join(assign, "vec_id")
        .groupBy("cluster_id", "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cluster_id",
            "pos",
            F.floor(F.col("s") * 1000 / F.col("n")).cast("long").alias("cq"),
            "s",
            "n",
        )
    )


@query(
    "m_kmeans_centroids",
    oracle=f"""
    WITH vq AS (
        SELECT vec_id, pos,
               CAST(FLOOR(CAST(embedding[pos + 1] AS DOUBLE) * {_QSCALE}) AS BIGINT) AS q
        FROM embeddings, range(64) r(pos)
    ),
    seeds AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id
        FROM embeddings QUALIFY cluster_id < {_K}
    ),
    c1 AS (
        SELECT s.cluster_id, v.pos, 1000 * v.q AS cq
        FROM vq v JOIN seeds s ON v.vec_id = s.vec_id
    ),
    a1 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT v.vec_id, c.cluster_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY SUM(CAST(1000 * v.q - c.cq AS DECIMAL(18,0))
                                    * CAST(1000 * v.q - c.cq AS DECIMAL(18,0))),
                                c.cluster_id) AS rn
            FROM vq v JOIN c1 c ON v.pos = c.pos
            GROUP BY v.vec_id, c.cluster_id
        ) WHERE rn = 1
    ),
    c2 AS (
        SELECT a.cluster_id, v.pos,
               CAST(FLOOR(1000.0 * SUM(v.q) / COUNT(*)) AS BIGINT) AS cq
        FROM vq v JOIN a1 a ON v.vec_id = a.vec_id
        GROUP BY a.cluster_id, v.pos
    ),
    a2 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT v.vec_id, c.cluster_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY SUM(CAST(1000 * v.q - c.cq AS DECIMAL(18,0))
                                    * CAST(1000 * v.q - c.cq AS DECIMAL(18,0))),
                                c.cluster_id) AS rn
            FROM vq v JOIN c2 c ON v.pos = c.pos
            GROUP BY v.vec_id, c.cluster_id
        ) WHERE rn = 1
    )
    SELECT a.cluster_id, v.pos,
           COUNT(*) AS n_members,
           (CAST(SUM(v.q) AS DOUBLE) / COUNT(*)) / {_QSCALE} AS centroid
    FROM vq v JOIN a2 a ON v.vec_id = a.vec_id
    GROUP BY a.cluster_id, v.pos
    """,
)
def m_kmeans_centroids(spark, sf_dir):
    """Two Lloyd iterations of k-means (k=4) over the embedding table,
    fully relational: posexplode → broadcast-join assignment → groupBy
    centroid update, repeated twice, output (cluster, dim, size, centroid).

    Bit-deterministic across engines AND partition orders: components are
    quantized to integers up front, distances accumulate in DECIMAL(38,0)
    (associative), centroid updates are exact integer sums with one floored
    IEEE division. This is the IVF-training step of s_ivf_ann_topk done as
    a Spark job: at 100 TB the (vec × dim) explode is the only large
    intermediate, shuffled on (cluster, pos) whose cardinality is k·64 —
    partial map-side aggregation shrinks it before the exchange."""
    vq = _vq(spark, sf_dir).cache()
    # Seed selection: the K smallest vec_ids. orderBy().limit(K) compiles to
    # TakeOrderedAndProject — a per-partition top-K then a K-row driver
    # merge — not the r4 shape (row_number over a corpus-global Window,
    # which funneled every row through one sorting task to keep 4). The
    # K-row collect is O(K) driver state, same class as the query-vector
    # set in similarity/vectorized.py.
    seed_ids = [
        r[0]
        for r in t(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(_K)
        .collect()
    ]
    seeds = local_frame(
        spark,
        [(v, i) for i, v in enumerate(seed_ids)],
        "vec_id long, cluster_id int",
    )
    c1 = (
        vq.join(F.broadcast(seeds), "vec_id")
        .select("cluster_id", "pos", (F.lit(1000) * F.col("q")).alias("cq"))
    )
    a1 = _assign(vq, c1)
    c2 = _update(vq, a1)
    a2 = _assign(vq, c2.select("cluster_id", "pos", "cq"))
    return (
        vq.join(a2, "vec_id")
        .groupBy("cluster_id", "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cluster_id",
            "pos",
            F.col("n").alias("n_members"),
            ((F.col("s").cast("double") / F.col("n")) / _QSCALE).alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (iterative) and its DuckDB replay

# Memoized merge tables by (corpus path, n_merges): train_bpe is
# deterministic given the corpus, and THREE registered queries (merges,
# encode, fertility) otherwise each pay the full ~2×n_merges-job training
# loop — measured 8s apiece at sf0.01, ~16s saved per full gate sweep.
# Each entry carries the corpus file's mtime and is REPLACED when it
# changes (the registry schema-cache rule), so a corpus rewritten at the
# same path retrains instead of serving the old merge table.
_BPE_MERGE_MEMO: dict[
    tuple[str, int], tuple[float, list[tuple[str, str, int]]]
] = {}


def bpe_merges_for(spark, sf_dir: str, n_merges: int = 8):
    from personal_data_lakehouse_spark.functions.bpe import train_bpe

    key = (sf_dir, n_merges)
    mt = _path_mtime(f"{sf_dir}/documents.parquet")
    if _BPE_MERGE_MEMO.get(key, (None,))[0] != mt:
        _BPE_MERGE_MEMO[key] = (
            mt,
            train_bpe(t(spark, sf_dir, "documents"), "text", n_merges=n_merges),
        )
    return _BPE_MERGE_MEMO[key][1]


# DuckDB replay of the trainer and the encoder: the 8 data-dependent
# training rounds unroll into argmax CTE stages and the greedy fold is a
# wrapped-symbol replace chain, so the gate hashes the merge list, the
# encode and t_tokenizer_fertility (round5_ops) exactly. The
# sequential-reference pytest pins (tests/test_bpe.py) remain the
# independent algebra check the differential gate can't provide.
_N_BPE_MERGES = 8

# Symbol-string representation: each symbol wrapped \x02sym\x03. A merge
# (l, r) -> lr is replace('\x02l\x03\x02r\x03' -> '\x02lr\x03'):
# left-to-right, non-overlapping, never matching inside a symbol or
# across a replacement boundary — exactly the greedy fold semantics of
# functions.bpe._merge_pair (DuckDB's replace scans left to right and
# resumes AFTER the replacement, like the fold's accumulator). Verified
# bit-equal to the Spark trainer at sf0.001/0.01/0.1.
_BPE_WRAP = (
    "chr(2) || array_to_string(string_split(w, ''), chr(3) || chr(2)) "
    "|| chr(3)"
)


def _bpe_train_blocks() -> str:
    """WITH-blocks: wd (doc_id, word), vocab, v0..vN (wrapped vocab after
    k merges), m1..mN (the k-th merge as (l, r, pc) — argmax weighted
    pair count, ties count DESC then (l, r) ASC, min_count 2)."""
    blocks = [
        f"""
    wdoc AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
             FROM documents),
    wd AS (SELECT doc_id, w FROM wdoc WHERE length(w) > 0),
    vocab AS (SELECT w, COUNT(*) AS cnt FROM wd GROUP BY w),
    v0 AS (SELECT w, cnt, {_BPE_WRAP} AS s FROM vocab)"""
    ]
    for k in range(1, _N_BPE_MERGES + 1):
        p = k - 1
        blocks.append(
            f"""
    p{k} AS (SELECT sy[i] AS l, sy[i+1] AS r, SUM(cnt) AS pc
             FROM (SELECT cnt, string_split(s[2:-2], chr(3) || chr(2))
                          AS sy FROM v{p}),
                  unnest(range(1, len(sy))) AS u(i)
             GROUP BY 1, 2 HAVING SUM(cnt) >= 2),
    m{k} AS (SELECT l, r, pc FROM p{k} ORDER BY pc DESC, l, r LIMIT 1),
    v{k} AS (SELECT w, cnt,
                    replace(s, chr(2) || m.l || chr(3) || chr(2) || m.r
                               || chr(3),
                            chr(2) || m.l || m.r || chr(3)) AS s
             FROM v{p} CROSS JOIN m{k} m)"""
        )
    return ",".join(blocks)


_BPE_ENC_BLOCKS = f"""
    enc AS (SELECT w, length(s) - length(replace(s, chr(2), ''))
                       AS n_sym
            FROM v{_N_BPE_MERGES}),
    perdoc AS (SELECT wd.doc_id, COUNT(*) AS n_words,
                      SUM(e.n_sym) AS n_bpe_tokens
               FROM wd JOIN enc e USING (w) GROUP BY wd.doc_id)"""


_BPE_MERGE_SEL = " UNION ALL ".join(
    f'SELECT {k} AS rank, l AS "left", r AS "right", '
    f"CAST(pc AS BIGINT) AS pair_count FROM m{k}"
    for k in range(1, _N_BPE_MERGES + 1)
)


@query(
    "t_bpe_merges",
    oracle=f"""
    WITH {_bpe_train_blocks()}
    SELECT * FROM ({_BPE_MERGE_SEL})
    """,
)
def t_bpe_merges(spark, sf_dir):
    """First 8 BPE merges learned from the corpus (functions/bpe.py):
    driver-coordinated iteration like m_kmeans_centroids, with all per-round
    work (pair counting, greedy merge application) running as codegen'd
    array lambdas over the distinct-word table. Rows-only through r11;
    r12 retired that — the 8 data-dependent rounds unroll into argmax CTE
    stages and the greedy fold is a wrapped-symbol replace chain (the
    replay CTEs above), so the gate hashes the merge list exactly.
    Bit-exact equivalence to a sequential reference implementation stays
    pinned in tests/test_bpe.py (the independent algebra check a
    shared-bug differential can't provide)."""
    merges = bpe_merges_for(spark, sf_dir, n_merges=8)
    return local_frame(
        spark,
        [(i + 1, left, right, cnt) for i, (left, right, cnt) in enumerate(merges)],
        "rank int, left string, right string, pair_count bigint",
    )


@query(
    "t_bpe_encode",
    oracle=f"""
    WITH {_bpe_train_blocks()},{_BPE_ENC_BLOCKS}
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
    FROM perdoc
    """,
)
def t_bpe_encode(spark, sf_dir):
    """Tokenize the corpus with the trained merges (functions/bpe.py:
    encode_bpe): per document, word count and BPE token count. The encode
    runs once per DISTINCT word and joins back — the corpus never pays the
    per-merge folds. Hashed exactly since r12 (the train+encode replay
    above); the sequential-reference equivalence stays pinned in
    tests/test_bpe.py::test_encode_bpe_matches_sequential_reference."""
    from personal_data_lakehouse_spark.functions.bpe import encode_bpe

    docs = t(spark, sf_dir, "documents")
    return encode_bpe(docs, bpe_merges_for(spark, sf_dir, n_merges=8))


@query(
    "t_sample_token_budget",
    oracle=f"""
    SELECT doc_id, tok,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM (
        SELECT doc_id, tok,
               SUM(tok) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM (SELECT doc_id, len({_TOKS}) AS tok FROM documents) d
    ) c
    WHERE cum <= 10000
    """,
)
def t_sample_token_budget(spark, sf_dir):
    """Token-budget sampling: take documents in md5-shuffled order until
    the running token count hits the budget — how a fixed-size training
    mix is drawn from a larger corpus ("give me 10B tokens of this
    source"). The md5 order is a deterministic shuffle: layout- and
    engine-independent, and stable as the corpus grows (a doc's position
    never depends on partitioning).

    The running sum is the sharded two-pass prefix sum
    (operators/partitioning.py:sharded_global_positions with a weight
    column), NOT a corpus-global ordered window: per-shard token totals →
    a 256-row prefix sum broadcast back as offsets → per-shard cumulative
    sums in parallel. Shard = 2-hex-char prefix of the md5 sort key, so
    per-shard order concatenates into exactly the global order and the
    output is bit-identical to the single-window oracle form."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_whitespace("text").alias("tok"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("_skey"),
        F.lit(0).alias("_bucket"),
    )
    cum = sharded_global_positions(
        docs, "_bucket", "_skey", "doc_id", weight_col="tok"
    )
    return (
        cum.withColumn("cum_tokens", F.col("pos").cast("long"))
        .filter(F.col("cum_tokens") <= 10000)
        .select("doc_id", "tok", "cum_tokens")
    )
