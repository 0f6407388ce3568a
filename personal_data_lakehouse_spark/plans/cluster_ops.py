"""Dedup-cluster canonicalization + deterministic sampling + repetition
quality — the pipeline steps that come AFTER near-dup pair generation in a
training-data pipeline.

- `t_dedup_clusters`: transitive closure of MinHash-LSH near-dup pairs →
  one cluster id per document (min doc_id of the component), the actual
  "which copy do we keep" decision.  Oracle: DuckDB recursive CTE over
  the same engine-neutral LSH pair SQL.
- `t_sample_bernoulli_hash` / `t_sample_stratified`: sampling that is a
  *pure function of the data* (md5 of the key), so a 100 TB re-run — or a
  different engine — selects the identical sample.  Spark's native
  `df.sample()` is seed+partitioning dependent and therefore neither
  reproducible across layouts nor oracle-checkable.
- `t_repetition_ratio`: most-frequent-bigram share per document — the
  Gopher/C4-style repetition signal for filtering low-quality generated
  text.

All pure built-in expressions (no Python UDFs); scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
from personal_data_lakehouse_spark.dedup.minhash import lsh_candidate_pairs
from personal_data_lakehouse_spark.functions.text import tokens
from personal_data_lakehouse_spark.plans.registry import query, t
from personal_data_lakehouse_spark.plans.text_ops import (
    _sig_sql,
    _SHINGLES,
    _TOKS,
)

# DuckDB replay of dedup.minhash._banded_docs (same fragments as
# t_minhash_lsh_pairs' oracle), kept as reusable CTE blocks: the sig/bands
# index stage is shared by EVERY LSH consumer (symmetric pairs here,
# batch-vs-corpus pairs in round4b_ops) so the banding scheme exists in
# exactly one SQL template.
_SIG_BANDS_CTES = f"""
    sig AS (
        SELECT doc_id, shingles, {{sig}} AS sig
        FROM (SELECT doc_id, shingles, {{xs}} AS xs
              FROM (SELECT doc_id, {_SHINGLES} AS shingles
                    FROM (SELECT doc_id, {_TOKS} AS w FROM documents)))
    ), bands AS (
        SELECT doc_id, shingles, b,
               md5(sig[b*4+1]::VARCHAR || '|' || sig[b*4+2]::VARCHAR || '|' ||
                   sig[b*4+3]::VARCHAR || '|' || sig[b*4+4]::VARCHAR) AS bucket
        FROM sig, unnest([0, 1, 2, 3]) AS u(b)
    )"""

_LSH_PAIRS_CTES = (
    _SIG_BANDS_CTES
    + """, lsh_pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
               a.shingles AS sh_a, c.shingles AS sh_b
        FROM bands a JOIN bands c
          ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id
    )
"""
)


def _fill(template: str) -> str:
    from personal_data_lakehouse_spark.plans.text_ops import _XS

    return template.replace("{sig}", _sig_sql()).replace("{xs}", _XS)


def _sig_bands_ctes() -> str:
    return _fill(_SIG_BANDS_CTES)


def _lsh_ctes() -> str:
    return _fill(_LSH_PAIRS_CTES)


# ---------------------------------------------------------------------------
# Transitive dedup clusters


@query(
    "t_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_lsh_ctes()},
    edges AS (
        SELECT id_a, id_b FROM lsh_pairs
        WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
              / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
    ), sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ), reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ), cc AS (
        SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT doc_id, cluster_id,
           doc_id = cluster_id AS is_canonical,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    """,
)
def t_dedup_clusters(spark, sf_dir):
    """Near-dup pairs (MinHash-LSH, verified Jaccard >= 0.5) closed into
    transitive clusters; every document labeled with its component's min
    doc_id.  `is_canonical` is the keep/drop dedup decision; the oracle
    computes the same closure with a recursive CTE.

    Scale: the label-propagation loop shuffles only the (sparse) edge
    list per round — the 100 TB corpus itself is touched once to seed
    labels; rounds ~ cluster diameter (≤ 4 for LSH output)."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    return dedup_clusters(docs, pairs)


# ---------------------------------------------------------------------------
# Deterministic sampling


@query(
    "t_sample_bernoulli_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000'
    """,
)
def t_sample_bernoulli_hash(spark, sf_dir):
    """~12.5% Bernoulli sample keyed on md5(doc_id) — reproducible across
    runs, engines, and partition layouts (unlike df.sample), and stable
    under corpus growth: a document's in/out decision never changes.
    The hash predicate pushes to the scan as a deterministic filter;
    no shuffle."""
    return (
        t(spark, sf_dir, "documents")
        .filter(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4)
            < "2000"
        )
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "t_sample_stratified",
    oracle="""
    SELECT doc_id, lang, CAST(rk AS INT) AS rk
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents) x
    WHERE rk <= 20
    """,
)
def t_sample_stratified(spark, sf_dir):
    """Fixed-size stratified sample: exactly min(20, |stratum|) docs per
    language, chosen by md5 rank — a deterministic 'shuffle' that equalizes
    strata regardless of their raw frequencies (the standard recipe for
    balancing a multilingual training mix).  One shuffle on lang; at scale
    the rank prunes early via WindowGroupLimit (top-k per partition
    map-side before the shuffle)."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# Repetition quality signal


@query(
    "t_repetition_ratio",
    oracle=f"""
    SELECT doc_id,
           CAST(MAX(c) AS BIGINT) AS top_bigram_count,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_share
    FROM (
        SELECT doc_id, bg, COUNT(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i+1])) AS bg
            FROM (SELECT doc_id, {_TOKS} AS w FROM documents)) e
        GROUP BY doc_id, bg) g
    GROUP BY doc_id
    """,
)
def t_repetition_ratio(spark, sf_dir):
    """Most-frequent-bigram share per document — the Gopher-style
    repetition filter for detecting degenerate/looping text.  Two
    aggregations, both keyed by doc_id (bigram explode stays within the
    doc's partition; map-side partial aggregation collapses the counts
    before the shuffle).  Documents with < 2 words produce no bigrams and
    drop out, matching the oracle's inner unnest. spread() fans the
    CPU-bound bigram explode across cores when the scan is one split
    (no-op at scale)."""
    from personal_data_lakehouse_spark.operators.partitioning import spread

    d = spread(t(spark, sf_dir, "documents"))
    w = tokens("text")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1)
            ),
        ),
    ).otherwise(F.array())
    per_bigram = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    return per_bigram.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_count"),
        F.sum("c").alias("n_bigrams"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
            "top_bigram_share"
        ),
    )


@query(
    "t_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_lsh_ctes()},
    edges AS (
        SELECT id_a, id_b FROM lsh_pairs
        WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
              / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
    ), sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ), reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ), cc AS (
        SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    ), scored AS (
        SELECT cc.doc_id, cc.cluster_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY d.n_chars DESC, cc.doc_id) AS qrnk,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM cc JOIN documents d ON cc.doc_id = d.doc_id
    )
    SELECT cluster_id, doc_id AS keep_doc, n_chars AS kept_n_chars,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM scored WHERE qrnk = 1 AND cluster_size > 1
    """,
)
def t_dedup_keep_best(spark, sf_dir):
    """Canonicalization with a QUALITY preference: within each near-dup
    cluster keep the highest-quality copy (longest text, doc_id
    tie-break) instead of t_dedup_clusters' arbitrary min-id survivor —
    the real pipeline decision (dedup keeps the best-formatted crawl of a
    page, not the first-seen one). One extra broadcast-joinable pass over
    the (sparse) cluster labels; only multi-doc clusters emit (singletons
    have nothing to decide)."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    labeled = dedup_clusters(docs, pairs)
    scored = labeled.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    return (
        scored.withColumn("qrnk", F.row_number().over(w))
        .filter((F.col("qrnk") == 1) & (F.col("cluster_size") > 1))
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc"),
            F.col("n_chars").alias("kept_n_chars"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )
