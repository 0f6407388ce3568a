"""Round-5 operator wave: stream-stream join parity, grouped rolling
quantiles, containment dedup, kNN-graph construction, cross-document
substring-duplication candidates, and linear quality-classifier inference.

Reference mapping: the reference repo (victorsabino36/personal-data-lakehouse)
stops at MERGE-style dedup and batch rollups (pipelines/stock_api/*.py,
dbt models); everything here is north-star extension surface for the
LLM-training-data pipeline (BASELINE.json), following the same
oracle-per-query contract as the earlier waves.

Scale notes inline per query; no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
from personal_data_lakehouse_spark.dedup.minhash import lsh_candidate_pairs
from personal_data_lakehouse_spark.functions.text import (
    token_count_whitespace,
    tokens,
    word_shingles,
)
from personal_data_lakehouse_spark.operators.partitioning import spread
from personal_data_lakehouse_spark.plans.cluster_ops import _lsh_ctes
from personal_data_lakehouse_spark.plans.registry import REGISTRY, query, t
from personal_data_lakehouse_spark.plans.similarity_ops import (
    _CELLS_SQL,
    _CENT_LIST,
    _cos,
)
from personal_data_lakehouse_spark.plans.text_ops import _SHINGLES, _SIMHASH_CTE, _TOKS
from personal_data_lakehouse_spark.plans.training_ops import (
    _BPE_ENC_BLOCKS,
    _bpe_train_blocks,
)

# ---------------------------------------------------------------------------
# Grouped rolling quantile (per-key rolling median over a row frame)


@query(
    "q_rolling_quantile",
    oracle="""
    SELECT event_id, user_id,
           CAST(n_in_frame AS BIGINT) AS n_in_frame,
           ROUND(med_cents / 100.0, 6) AS rolling_median
    FROM (
        SELECT event_id, user_id,
               COUNT(cents) OVER w AS n_in_frame,
               quantile_cont(cents, 0.5) OVER w AS med_cents
        FROM (SELECT event_id, user_id, ts,
                     CAST(floor(value * 100) AS BIGINT) AS cents
              FROM events)
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    """,
)
def q_rolling_quantile(spark, sf_dir):
    """Per-user rolling MEDIAN of the last 5 event amounts — the robust
    (outlier-insensitive) sibling of q_rolling_features' mean/stddev, used
    for per-entity anomaly baselines. Amounts are quantized to integer
    cents first, so the type-7 interpolation (both engines) lands on
    halves — exact in double — and the single /100 division is correctly
    rounded identically.

    Scale: one shuffle on user_id, per-key 5-row frames (bounded window
    state per task); parallelism grows with |users|. The oracle pins
    NULLS FIRST explicitly because DuckDB defaults ASC to NULLS LAST
    while Spark defaults to NULLS FIRST."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("cents").over(w).alias("n_in_frame"),
        F.round(F.percentile("cents", 0.5).over(w) / 100.0, 6).alias(
            "rolling_median"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash containment (asymmetric near-dup: snippet-inside-superset)

# The LSH band/bucket CTE chain is shared byte-identically with
# t_minhash_lsh_pairs / t_dedup_clusters via cluster_ops.


@query(
    "t_minhash_containment",
    oracle=f"""
    WITH {_lsh_ctes()}
    SELECT id_a, id_b,
           CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS n_common,
           CAST(len(list_distinct(sh_a)) AS BIGINT) AS n_a,
           CAST(len(list_distinct(sh_b)) AS BIGINT) AS n_b,
           ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / len(list_distinct(sh_a)), 6) AS containment_a,
           ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / len(list_distinct(sh_b)), 6) AS containment_b
    FROM lsh_pairs
    """,
)
def t_minhash_containment(spark, sf_dir):
    """Shingle CONTAINMENT per LSH candidate pair: |A∩B|/|A| and |A∩B|/|B|.
    Jaccard under-scores a short snippet fully contained in a long document
    (the quote/boilerplate-inclusion case every corpus dedup hits);
    containment is the asymmetric fix — C(A,B)≈1 flags A as subsumed by B
    even when J(A,B) is small.

    Scale: identical dataflow to t_minhash_lsh_pairs (one wide signature
    aggregation, id-only band join, shingle re-attach on the surviving
    pairs); the two extra divisions are map-side."""
    from personal_data_lakehouse_spark.dedup.minhash import _banded_docs

    docs, banded = _banded_docs(
        t(spark, sf_dir, "documents"), "text", "doc_id", 16, 4, 3, 42
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            docs.select(
                F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
            ),
            "id_b",
        )
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    n_a = F.size(F.array_distinct("sh_a")).cast("long")
    n_b = F.size(F.array_distinct("sh_b")).cast("long")
    return pairs.select(
        "id_a",
        "id_b",
        n_common.alias("n_common"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(n_common.cast("double") / n_a, 6).alias("containment_a"),
        F.round(n_common.cast("double") / n_b, 6).alias("containment_b"),
    )


# ---------------------------------------------------------------------------
# Linear quality-classifier inference (fastText/logreg-style scoring in SQL)

# Fixed model weights (millis): trained offline, applied at corpus scale as
# pure integer arithmetic — the inference path must be engine-exact even
# though training isn't.
_W_BIAS = -1500
_W_WORDS = 2
_W_DISTINCT = 3
_W_PUNCT = -5

_TOKS_SQL = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"


@query(
    "t_quality_logit",
    oracle=rf"""
    SELECT doc_id, n_words, punct_permille, distinct_permille,
           {_W_BIAS} + {_W_WORDS} * LEAST(n_words, 1000)
             + {_W_DISTINCT} * distinct_permille
             + {_W_PUNCT} * punct_permille AS logit_millis,
           ({_W_BIAS} + {_W_WORDS} * LEAST(n_words, 1000)
             + {_W_DISTINCT} * distinct_permille
             + {_W_PUNCT} * punct_permille) >= 0 AS keep
    FROM (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST((1000 * len(regexp_extract_all(text, '[^\w\s]')))
                    // length(text) AS BIGINT) AS punct_permille,
               CAST((1000 * len(list_distinct(w))) // len(w) AS BIGINT)
                   AS distinct_permille
        FROM (SELECT doc_id, text, {_TOKS_SQL} AS w FROM documents)
    )
    """,
)
def t_quality_logit(spark, sf_dir):
    """Linear quality-classifier INFERENCE over the corpus: the
    fastText/logistic-regression scoring stage of a training-data pipeline,
    expressed as columnar integer arithmetic (features quantized to
    permille via integer division, fixed milli-weights) so the score — and
    therefore the keep/drop decision — is bit-identical on any engine and
    partition order. The sigmoid is monotone, so thresholding the logit IS
    thresholding the probability; no transcendental is evaluated.

    Scale: map-only (one projection over the scan, whole-stage codegen,
    no shuffle) — the same pushdown-friendly shape as t_quality_filter."""
    from personal_data_lakehouse_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]")).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    # floor(double division) == integer // for these non-negative
    # magnitudes (numerator ≤ 1000·len(text), exact in double)
    punct_pm = F.floor((F.lit(1000) * n_punct) / F.length("text")).cast("long")
    distinct_pm = F.floor((F.lit(1000) * n_distinct) / n_words).cast("long")
    scored = d.select(
        "doc_id",
        n_words.alias("n_words"),
        punct_pm.alias("punct_permille"),
        distinct_pm.alias("distinct_permille"),
    )
    logit = (
        F.lit(_W_BIAS)
        + F.lit(_W_WORDS) * F.least(F.col("n_words"), F.lit(1000))
        + F.lit(_W_DISTINCT) * F.col("distinct_permille")
        + F.lit(_W_PUNCT) * F.col("punct_permille")
    ).cast("long")
    return scored.withColumn("logit_millis", logit).withColumn(
        "keep", F.col("logit_millis") >= 0
    )


# ---------------------------------------------------------------------------
# kNN graph construction (cell-blocked): every vector's top-3 neighbors


@query(
    "s_knn_graph",
    oracle=f"""
    WITH {_CELLS_SQL},
    s AS (
        SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
               {_cos('a.e', 'b.e')} AS sim
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ),
    r AS (
        SELECT src_id, nbr_id, sim,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY sim DESC, nbr_id) AS rnk
        FROM s
    )
    SELECT src_id AS vec_id, rnk, nbr_id, ROUND(sim, 6) AS cosine
    FROM r WHERE rnk <= 3
    """,
)
def s_knn_graph(spark, sf_dir):
    """k-nearest-neighbor GRAPH over the embedding corpus: each vector's
    top-3 neighbors by exact cosine, candidate generation blocked by IVF
    cell — the building block of kNN-graph dedup, graph-based ANN indexes
    (NSW seeds), and label-propagation over embeddings. Unlike
    s_ivf_ann_topk (8 external queries), EVERY corpus vector is a query
    here, so all-pairs is Σ|corpus|² and blocking is mandatory.

    Scale: one shuffle to assign cells, cell-local self-join (Σ|cell|²
    work, parallel per cell), per-vector top-3 window inside the cell's
    candidate set. At 100 TB the cell index is a written intermediate,
    and multi-probe (n>1 in assign_cells) trades recall for Σ|cell|·probes
    work — same dataflow."""
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
        _N_QUERIES,
    )
    from personal_data_lakehouse_spark.similarity.brute_force import dot_expr
    from personal_data_lakehouse_spark.similarity.ivf import (
        assign_cells,
        pick_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    members = emb.filter(F.col("vec_id") >= _N_QUERIES)
    cents = pick_centroids(emb, _CENTROID_IDS)
    # coalesce before persist: the cache keeps the assignment window's
    # shuffle partitioning (200 near-empty tasks per downstream stage
    # under a vanilla session); the self-join re-keys on `cell` anyway,
    # so no co-partitioning is lost (same idiom as ivf_topk's cell index).
    cells = (
        assign_cells(members, cents, "vec_id", "embedding", n=1)
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    a = cells.select(
        "cell",
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("va"),
        F.col("_vn").alias("_na"),
    )
    b = cells.select(
        "cell",
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("vb"),
        F.col("_vn").alias("_nb"),
    )
    sim = F.expr(dot_expr("va", "vb")) / (F.col("_na") * F.col("_nb"))
    w = Window.partitionBy("src_id").orderBy(F.desc("sim"), F.col("nbr_id"))
    return (
        a.join(b, on="cell")
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select("src_id", "nbr_id", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("src_id").alias("vec_id"),
            "rnk",
            "nbr_id",
            F.round("sim", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document substring-duplication candidates (strided 64-grams)

_GRAM_LEN = 64
# Oracle-side position superset: DuckDB's range() can't take lateral column
# bounds, so the oracle cross-joins a constant position list and filters.
# 4096 positions cover documents up to 64 + 4095 = 4,159 chars — far above
# the fixtures (≤577); the Spark side uses the unbounded sequence() and is
# the form that runs at scale.
_MAX_GRAM_POS = 4096


@query(
    "t_crossdoc_spans",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT doc_id, md5(substr(text, 1 + k, {_GRAM_LEN})) AS gh
        FROM documents, range(0, {_MAX_GRAM_POS}) r(k)
        WHERE length(text) >= {_GRAM_LEN}
          AND 1 + k <= length(text) - {_GRAM_LEN} + 1
          AND substr(md5(substr(text, 1 + k, {_GRAM_LEN})), 1, 1) = '0'
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS n_shared_grams
    FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def t_crossdoc_spans(spark, sf_dir):
    """Cross-document EXACT-substring duplication candidates via
    CONTENT-DEFINED gram sampling: every 64-char gram is hashed, and a
    gram is selected when its md5 starts with '0' (a 1/16 bucket). The
    selection travels with the content — two documents sharing a verbatim
    span select exactly the same grams inside it regardless of where the
    span sits in each document, which position-strided sampling cannot do
    (a span at offset 3 in one doc and offset 40 in the other samples
    disjoint grams). This is the MinHash-of-substrings / winnowing idea
    behind practical suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"); expected
    selected-gram gap is 16 chars, so verbatim overlaps of a few hundred
    chars escape only with probability (15/16)^(span_len-63). Only the
    16-byte hashes shuffle, never the text.

    Scale: the map stage hashes every position (the price of
    content-defined selection — same envelope as winnowing); 1/16 of the
    gram rows reach the groupBy-join. A gram shared by d documents emits
    d² pair rows, so at 100 TB add a frequency cap on viral grams
    (boilerplate) before pairing — the same hot-key guard as
    t_boilerplate_spans."""
    docs = t(spark, sf_dir, "documents").filter(
        F.length("text") >= _GRAM_LEN
    )
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("text") - F.lit(_GRAM_LEN - 1)
                )
            ).alias("p"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(
                F.expr(f"substring(text, p, {_GRAM_LEN})").cast("binary")
            ).alias("gh"),
        )
        .filter(F.substring("gh", 1, 1) == "0")
        .dropDuplicates(["doc_id", "gh"])
        # persist: the self-join consumes this subtree twice, and the gram
        # build (hash every position) is the expensive stage — one scan +
        # one hashing pass instead of two. At cluster scale this is the
        # written gram index. Coalesced first: the cache pins the
        # dropDuplicates shuffle's partitioning (measured: six 200-task
        # stages per vanilla-session run), and the self-join re-shuffles
        # on gh anyway so no co-partitioning is lost.
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    a = grams.select(F.col("doc_id").alias("id_a"), "gh")
    b = grams.select(F.col("doc_id").alias("id_b"), "gh")
    return (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# Full exact-substring dedup: anchors -> maximal shared spans -> per-doc
# removable mass (completes t_crossdoc_spans' candidate generation into the
# Lee-et-al dedup decision)

# Consecutive selected anchors within one verbatim span merge when their
# doc-A positions are at most this far apart. Content-defined selection
# picks ~1/16 of positions, so the gap between consecutive anchors inside a
# continuous shared span exceeds 256 with probability (15/16)^(256-63) ≈
# 4e-6 — a span effectively never splits; unrelated same-offset matches
# farther apart than this stay separate spans.
_SPAN_MERGE_GAP = 256
# Viral-gram guard (boilerplate): a gram occurring more than this many
# times corpus-wide is dropped before pairing — a gram shared by d
# positions emits up to d² anchor rows, so this caps the hottest join key
# at 64² = 4,096 rows whatever the corpus.
_GRAM_OCC_CAP = 64


@query(
    "t_substring_dedup",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, 1 + k AS p, md5(substr(text, 1 + k, {_GRAM_LEN})) AS gh
        FROM documents, range(0, {_MAX_GRAM_POS}) r(k)
        WHERE length(text) >= {_GRAM_LEN}
          AND 1 + k <= length(text) - {_GRAM_LEN} + 1
          AND substr(md5(substr(text, 1 + k, {_GRAM_LEN})), 1, 1) = '0'
        QUALIFY COUNT(*) OVER (PARTITION BY gh) <= {_GRAM_OCC_CAP}
    ),
    anchors AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb,
               b.p - a.p AS diff
        FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT id_b, pb,
               SUM(CASE WHEN prev IS NULL OR pa - prev > {_SPAN_MERGE_GAP}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY id_a, id_b, diff ORDER BY pa
                         ROWS UNBOUNDED PRECEDING) AS run,
               id_a, diff
        FROM (SELECT *, LAG(pa) OVER (PARTITION BY id_a, id_b, diff
                                      ORDER BY pa) AS prev
              FROM anchors)
    ),
    spans AS (
        SELECT id_b AS doc_id, MIN(pb) AS s, MAX(pb) + {_GRAM_LEN - 1} AS e
        FROM runs GROUP BY id_a, id_b, diff, run
    ),
    iv AS (SELECT DISTINCT doc_id, s, e FROM spans),
    u AS (
        SELECT doc_id, s, e,
               SUM(CASE WHEN rmax IS NULL OR s > rmax + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s, e DESC
                         ROWS UNBOUNDED PRECEDING) AS grp
        FROM (SELECT doc_id, s, e,
                     MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS rmax
              FROM iv)
    ),
    merged AS (
        SELECT doc_id, grp, MIN(s) AS lo, MAX(e) AS hi FROM u GROUP BY 1, 2
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               SUM(hi - lo + 1) AS removable_chars
        FROM merged GROUP BY 1
    )
    SELECT a.doc_id, n_spans, removable_chars,
           length(d.text) AS n_chars,
           1000 * removable_chars // length(d.text) AS removable_permille
    FROM agg a JOIN documents d ON a.doc_id = d.doc_id
    """,
)
def t_substring_dedup(spark, sf_dir):
    """Full EXACT-SUBSTRING dedup decision (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): the content-defined
    64-gram anchors of t_crossdoc_spans, kept WITH positions, are merged
    into maximal shared spans and reduced to the per-document mass of
    verbatim text removable as a duplicate of an EARLIER document.
    Dataflow: (1) sample ~1/16 of gram positions content-defined (md5
    bucket — selection travels with the text, so a span shared at
    different offsets selects the same grams); (2) drop viral grams
    (> 64 occurrences — the boilerplate hot-key guard);
    (3) self-join on gram hash into anchors (id_a < id_b); (4) anchors
    with the same (pair, offset-delta) whose positions are ≤
    256 apart merge into one span — two documents sharing a
    verbatim region agree on the delta for every anchor inside it;
    (5) spans land as intervals on the LATER doc (first occurrence
    survives), are interval-unioned per doc (classic running-max sweep),
    and summed into removable_chars / removable_permille.

    Span extents are anchor-bounded (the true shared span extends up to
    ~16 chars past the sampled anchors on each side), so the mass is a
    slight underestimate — the price of never shuffling text, only
    16-byte hashes and integer positions.

    Scale: the map stage hashes every position (winnowing's envelope);
    1/16 of gram rows shuffle once on gh (anchor join, hot keys capped at
    64² rows), once on (pair, delta) for run-merging, and
    the interval union windows run over span rows (candidate-bounded,
    thousands per billion docs), never corpus rows. No text ever leaves
    the scan stage."""
    docs = t(spark, sf_dir, "documents")
    eligible = docs.filter(F.length("text") >= _GRAM_LEN)
    grams = (
        eligible.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("text") - F.lit(_GRAM_LEN - 1)
                )
            ).alias("p"),
            "text",
        )
        .select(
            "doc_id",
            "p",
            F.md5(
                F.expr(f"substring(text, p, {_GRAM_LEN})").cast("binary")
            ).alias("gh"),
        )
        .filter(F.substring("gh", 1, 1) == "0")
        .withColumn(
            "occ", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("occ") <= _GRAM_OCC_CAP)
        .drop("occ")
        # persisted gram index: the anchor self-join reads it twice; the
        # hash-every-position stage runs once (written intermediate at
        # cluster scale). Coalesced first: a cached plan keeps its shuffle
        # partitioning, so downstream stages would otherwise inherit one
        # near-empty task per shuffle partition under a default session.
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    a = grams.select(
        F.col("doc_id").alias("id_a"), F.col("p").alias("pa"), "gh"
    )
    b = grams.select(
        F.col("doc_id").alias("id_b"), F.col("p").alias("pb"), "gh"
    )
    anchors = (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "pa", "pb",
            (F.col("pb") - F.col("pa")).alias("diff"),
        )
    )
    wd = Window.partitionBy("id_a", "id_b", "diff").orderBy("pa")
    runs = (
        anchors.withColumn("prev", F.lag("pa").over(wd))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.col("pa") - F.col("prev") > _SPAN_MERGE_GAP),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run",
            F.sum("brk").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = runs.groupBy("id_a", "id_b", "diff", "run").agg(
        F.min("pb").alias("s"),
        (F.max("pb") + F.lit(_GRAM_LEN - 1)).alias("e"),
    )
    iv = spans.select(F.col("id_b").alias("doc_id"), "s", "e").distinct()
    wu = Window.partitionBy("doc_id").orderBy("s", F.desc("e"))
    u = (
        iv.withColumn(
            "rmax",
            F.max("e").over(wu.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "brk",
            F.when(
                F.col("rmax").isNull() | (F.col("s") > F.col("rmax") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "grp",
            F.sum("brk").over(
                wu.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    merged = u.groupBy("doc_id", "grp").agg(
        F.min("s").alias("lo"), F.max("e").alias("hi")
    )
    agg = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("hi") - F.col("lo") + 1).alias("removable_chars"),
    )
    return (
        agg.join(
            docs.select("doc_id", F.length("text").alias("n_chars")),
            "doc_id",
        )
        .withColumn(
            "removable_permille",
            F.expr("1000 * removable_chars div n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join, batch-parity-proven under the oracle


@query(
    "q_stream_stream_join",
    oracle="""
    WITH pairs AS (
        SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
        FROM events c JOIN events v
          ON v.user_id = c.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
    ), per_user AS (
        SELECT user_id, COUNT(*) AS n_pairs,
               COUNT(DISTINCT click_id) AS n_clicks
        FROM pairs GROUP BY 1
    )
    SELECT user_id, n_pairs, n_clicks
    FROM per_user
    ORDER BY n_pairs DESC, user_id
    LIMIT 20
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """Stream-STREAM interval join proven batch-equal under the driver's
    hash: views and clicks are consumed as two readStream sources
    (availableNow), joined by streaming.windows.attribution_join (both
    sides watermarked, explicit event-time bound so join state expires),
    landed append-mode in a parquet FILE sink (inner stream-stream joins
    emit each match the micro-batch it forms — no watermark flush needed
    for emission), and rolled up to the top-20 users by attributed
    (click, view) pairs — which must hash-equal the batch interval-join
    SQL. Completes the streaming parity suite: windows (r2/r3), dedup +
    static enrich (r4), stream-stream join (r5).

    Scale: state per key is O(events inside the 30-min interval) — the
    watermark bound is what makes the join runnable on an unbounded
    stream; on a cluster back it with the RocksDB state store. The pair
    stream lands distributed in executor-written parquet (the memory sink
    this replaces accumulated every pair in driver memory — linear in
    stream length); only the ≤20-row rollup ever reaches the driver."""
    from personal_data_lakehouse_spark.streaming.windows import (
        attribution_join,
        drain_stream_to_parquet,
        stream_events,
        stream_work_dir,
    )

    views = stream_events(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "view"
    )
    clicks = stream_events(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "click"
    )
    joined = attribution_join(views, clicks, "30 minutes", "30 minutes")
    work = stream_work_dir("ssjoin")
    pairs = drain_stream_to_parquet(joined, work)
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("click_id").alias("n_clicks"),
        )
        .orderBy(F.desc("n_pairs"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Triangle counting over the near-dup graph (oriented 3-way join)


# Default-on out-degree cap for oriented triangle counting: a node keeps at
# most this many out-neighbors (md5-hash-sampled, so the kept set is an
# unbiased deterministic sample rather than the id-smallest neighbors). The
# oriented join's fan-out per node is then ≤ CAP², whatever the graph — the
# guard the Σd_out² bound needs against viral hubs (sf0.1 already reaches
# out-degree 797; one 10⁵-degree template hub at 100 TB would otherwise put
# 10¹⁰ rows on a single join key). Documented in SCALE.md.
_TRI_OUT_DEGREE_CAP = 256


def cap_out_degree(edges, cap: int = _TRI_OUT_DEGREE_CAP):
    """Keep ≤ *cap* out-neighbors per ``id_a``, md5-hash-sampled.

    The per-node window runs over the EDGE list (already candidate-bounded
    by LSH banding), never corpus rows; the md5 order makes the sample
    deterministic across engines and insensitive to id assignment."""
    w = Window.partitionBy("id_a").orderBy(
        F.md5(F.concat_ws(":", "id_a", "id_b").cast("binary")), "id_b"
    )
    return (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


@query(
    "m_triangle_count",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    banded AS (
        SELECT doc_id, b AS band, (simhash >> (b * 15)) & 32767 AS bandval
        FROM sk, unnest([0, 1, 2, 3]) AS u(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM banded a JOIN banded c
          ON a.band = c.band AND a.bandval = c.bandval
         AND a.doc_id < c.doc_id
    ),
    raw_edges AS (
        SELECT id_a, id_b FROM cand
        JOIN sk sa ON sa.doc_id = id_a
        JOIN sk sb ON sb.doc_id = id_b
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 4
    ),
    edges AS (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_a
                       ORDER BY md5(CAST(id_a AS VARCHAR) || ':'
                                    || CAST(id_b AS VARCHAR)), id_b
                   ) AS rn
            FROM raw_edges
        ) WHERE rn <= {_TRI_OUT_DEGREE_CAP}
    ),
    tri AS (
        SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
        FROM edges ab
        JOIN edges bc ON ab.id_b = bc.id_a
        JOIN edges ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b
    ),
    corners AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM corners GROUP BY 1
    ORDER BY n_triangles DESC, doc_id
    LIMIT 20
    """,
)
def m_triangle_count(spark, sf_dir):
    """Per-document TRIANGLE counts over the SimHash near-dup graph (top-20
    nodes): triangles are the densest duplication signal — a doc whose
    neighbors are also near-dups of each other sits inside a template
    family, not a chance collision. Classic oriented-triangle dataflow
    (edges already id_a < id_b): ab ⋈ bc on the middle vertex, closed by
    ac — each triangle {a<b<c} materializes exactly once, then one explode
    + count per corner.

    Scale: with edges oriented low→high, join fan-out is bounded by
    out-degree (Σ d_out(v)²), the standard MapReduce triangle-counting
    bound; a viral hub's edges all point OUT of lower ids, so out-degree
    is CAPPED (default-on, ``cap_out_degree``): each node keeps at most
    256 md5-sampled out-neighbors, making per-node fan-out ≤ 256²
    whatever the graph. On dense template families the count becomes a
    deterministic sample estimate — the same trade every production
    triangle counter makes on adversarial graphs (and the oracle embeds
    the identical cap, so the differential stays exact). Three shuffles
    of the edge list total; the corpus is touched only to build the
    sketches."""
    from personal_data_lakehouse_spark.dedup.simhash import (
        simhash_neardup_pairs,
    )

    # Tighter edge set than t_simhash_neardup (hamming <= 4, not 8): the
    # fixtures' dup clusters are dense, and triangle work grows O(E^1.5) —
    # strong edges keep the graph sparse while the triangles they close
    # are exactly the high-confidence template families.
    # coalesce before persist: the cached edge list keeps its shuffle
    # partitioning (AQE cannot re-coalesce a cached plan), so without this
    # every downstream join stage inherits one task per shuffle partition
    # — 200 near-empty tasks per stage under a default session.
    edges = (
        cap_out_degree(
            simhash_neardup_pairs(
                t(spark, sf_dir, "documents"), max_hamming=4
            ).select("id_a", "id_b")
        )
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    ab = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    bc = edges.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    ac = edges.select(F.col("id_a").alias("a2"), F.col("id_b").alias("c2"))
    tri = ab.join(bc, F.col("b") == F.col("b2")).join(
        ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2"))
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return (
        corners.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility (BPE evaluation) — rows-only by design


@query(
    "t_tokenizer_fertility",
    oracle=f"""
    WITH {_bpe_train_blocks()},{_BPE_ENC_BLOCKS}
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(p.n_words) AS BIGINT) AS total_words,
           CAST(SUM(p.n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           CAST(1000 * SUM(p.n_bpe_tokens) // SUM(p.n_words) AS BIGINT)
               AS fertility_millis
    FROM perdoc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def t_tokenizer_fertility(spark, sf_dir):
    """Tokenizer FERTILITY per language bucket: BPE tokens per word under
    the corpus-trained 8-merge tokenizer — the standard tokenizer-quality
    metric (a language whose fertility is 2× pays 2× the sequence length
    for the same text). Integer millis (1000·tokens div words) so the
    ratio is engine-exact. The encode is pinned bit-exact to a sequential
    reference in tests/test_bpe.py, and this rollup's internal
    consistency in tests/test_round5_ops.py.

    Oracle history: the r8 note declared the per-word LEFT-TO-RIGHT
    non-overlapping merge fold "a sequential reduction no SQL expression
    form covers" — r12 (VERDICT r11 directive #6) retired that: the fold
    IS DuckDB's left-to-right ``replace`` over a delimiter-wrapped
    symbol string, and the data-dependent training rounds unroll into
    argmax CTE stages (plans/training_ops' BPE replay blocks), so the
    gate now hashes this rollup exactly at every SF from one SQL string.

    Scale: encode runs per DISTINCT word (vocabulary-sized, not
    corpus-sized); the corpus pays one hash join + one (lang) aggregate."""
    from personal_data_lakehouse_spark.functions.bpe import encode_bpe
    from personal_data_lakehouse_spark.plans.training_ops import bpe_merges_for

    docs = t(spark, sf_dir, "documents")
    enc = encode_bpe(docs, bpe_merges_for(spark, sf_dir, n_merges=8))
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        )
        .withColumn(
            "fertility_millis",
            F.expr("CAST(1000 * total_bpe_tokens div total_words AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# Epoch-aware domain upsampling (fractional-epoch training mixes)

# Deterministic per-source epoch weights in millis: 1000 (1 epoch) to 3999,
# derived from md5 of the source name so both engines compute them
# identically and adding a new source never changes existing weights.
_UPSAMPLE_WEIGHT = (
    "1000 + CAST(('0x' || substr(md5(source), 1, 4)) AS BIGINT) % 3000"
)


@query(
    "t_mix_upsample",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source,
               {_UPSAMPLE_WEIGHT} AS weight_millis,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 1000 AS coin
        FROM documents
    )
    SELECT doc_id, source, CAST(weight_millis AS BIGINT) AS weight_millis,
           CAST(k AS BIGINT) AS epoch
    FROM w, range(0, 4) r(k)
    WHERE k < weight_millis // 1000
       OR (k = weight_millis // 1000 AND coin < weight_millis % 1000)
    """,
)
def t_mix_upsample(spark, sf_dir):
    """Epoch-aware UPSAMPLING: replicate each document ceil-or-floor of its
    domain's fractional epoch weight (e.g. 2.35 epochs → every doc appears
    twice, and a deterministic 35% md5 coin per doc adds a third copy) —
    the complement of t_mix_temperature's downsampling, used when a
    high-quality domain should be seen more than once per training run.
    Weights derive from md5(source) so the mix is a pure function of the
    data; the coin is keyed on doc_id so replication is layout- and
    engine-independent and stable as the corpus grows.

    Scale: map-side explode only — no shuffle at all; output size is
    Σ weight(domain)·|domain|, the training-mix contract. The epoch column
    feeds downstream shuffling (each epoch shard sorts/shuffles
    independently)."""
    docs = t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        (
            F.lit(1000)
            + F.pmod(
                F.conv(F.substring(F.md5(F.col("source").cast("binary")), 1, 4), 16, 10).cast("long"),
                F.lit(3000),
            )
        ).alias("weight_millis"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4
                ),
                16,
                10,
            ).cast("long"),
            F.lit(1000),
        ).alias("coin"),
    )
    return (
        w.select(
            "doc_id",
            "source",
            "weight_millis",
            F.explode(
                F.sequence(
                    F.lit(0),
                    (F.col("weight_millis") / 1000).cast("long")
                    - F.when(
                        F.col("coin") < F.pmod("weight_millis", F.lit(1000)),
                        F.lit(0),
                    ).otherwise(F.lit(1)),
                )
            ).alias("epoch"),
        )
        .select("doc_id", "source", "weight_millis", F.col("epoch").cast("long").alias("epoch"))
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (co-purchased part pairs)


@query(
    "m_copurchase_pairs",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    pairs AS (
        SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_orders
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders
    FROM pairs WHERE n_orders >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def m_copurchase_pairs(spark, sf_dir):
    """Co-occurrence mining (market-basket): part pairs appearing together
    in ≥ 2 orders, top-20 — the A-priori candidate-pair stage of
    recommendation pipelines, and the bipartite-projection primitive
    (order-part graph → part-part co-occurrence graph).

    Scale: pair generation is ORDER-LOCAL (self-join on l_orderkey after
    per-order part dedup), so work is Σ|basket|² — bounded by the basket
    size cap (≤ 13 lines in TPC-H), never |parts|². The pair aggregate
    map-side combines; a viral basket (thousands of items) would need the
    same hot-key cap as the gram pairing."""
    op = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = op.select("o", F.col("p").alias("part_a"))
    b = op.select("o", F.col("p").alias("part_b"))
    return (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Label separation audit (integer-exact silhouette ingredients)


@query(
    "s_silhouette_labels",
    oracle="""
    WITH vq AS (
        SELECT vec_id, label, pos,
               CAST(FLOOR(CAST(embedding[pos + 1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings, range(64) r(pos)
        WHERE embedding[pos + 1] IS NOT NULL
    ),
    sums AS (
        SELECT label, pos, SUM(q) AS s, COUNT(*) AS n
        FROM vq GROUP BY 1, 2
    ),
    cent AS (
        SELECT label, pos,
               CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) AS c
        FROM sums
    ),
    intra AS (
        SELECT v.label, COUNT(DISTINCT v.vec_id) AS n_members,
               SUM((v.q - c.c) * (v.q - c.c)) AS sum_intra_d2
        FROM vq v JOIN cent c ON v.label = c.label AND v.pos = c.pos
        GROUP BY 1
    ),
    inter AS (
        SELECT a.label, b.label AS other_label,
               SUM((a.c - b.c) * (a.c - b.c)) AS d2
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
        GROUP BY 1, 2
    ),
    nearest AS (
        SELECT label, other_label AS nearest_label, d2 AS inter_centroid_d2
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                           ORDER BY d2, other_label) AS rn
              FROM inter)
        WHERE rn = 1
    )
    SELECT i.label, i.n_members, i.sum_intra_d2,
           n.nearest_label, n.inter_centroid_d2
    FROM intra i JOIN nearest n ON i.label = n.label
    """,
)
def s_silhouette_labels(spark, sf_dir):
    """Label SEPARATION audit — the silhouette ingredients per class,
    all-integer so the audit is engine- and partition-order-exact:
    per label, the summed squared distance of members to their own
    centroid (cohesion) and the squared distance to the NEAREST other
    centroid (separation). A label whose sum_intra_d2/n_members
    approaches its inter_centroid_d2 is a merge/mislabel candidate —
    the embedding-space class-quality sweep run before training a
    classifier head. Centroids are floor(S/n) per dimension (exact in
    double while |S| < 2^53); all distances are BIGINT sums of squared
    integer diffs (≤ 4e12/term, ≤ ~5e17/label — headroom documented).

    Scale: one posexplode + (label, dim) aggregate; the member-distance
    pass re-joins the broadcast 640-row centroid table; the centroid-pair
    stage is |labels|²·64 rows — trivial at any corpus size. Parallelism
    follows the member pass (the only corpus-sized stage)."""
    emb = t(spark, sf_dir, "embeddings")
    vq = (
        emb.select(
            "vec_id", "label", F.posexplode("embedding").alias("pos", "comp")
        )
        .select(
            "vec_id",
            "label",
            "pos",
            F.floor(F.col("comp").cast("double") * 1_000_000)
            .cast("long")
            .alias("q"),
        )
        .filter(F.col("q").isNotNull())
        # persist: the centroid branch and the member-distance branch both
        # consume vq — one corpus scan + explode instead of two
        .persist()
    )
    sums = vq.groupBy("label", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = sums.select(
        "label",
        "pos",
        F.floor(F.col("s").cast("double") / F.col("n")).cast("long").alias("c"),
    )
    intra = (
        vq.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label")
        .agg(
            F.count_distinct("vec_id").alias("n_members"),
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias(
                "sum_intra_d2"
            ),
        )
    )
    ca = cent.select(
        F.col("label"), F.col("pos"), F.col("c").alias("ca")
    )
    cb = cent.select(
        F.col("label").alias("other_label"), F.col("pos"), F.col("c").alias("cb")
    )
    inter = (
        ca.join(cb, "pos")
        .filter(F.col("label") != F.col("other_label"))
        .groupBy("label", "other_label")
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).alias("d2")
        )
    )
    w = Window.partitionBy("label").orderBy("d2", "other_label")
    nearest = (
        inter.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.col("other_label").alias("nearest_label"),
            F.col("d2").alias("inter_centroid_d2"),
        )
    )
    return intra.join(nearest, "label").select(
        "label", "n_members", "sum_intra_d2", "nearest_label", "inter_centroid_d2"
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation (approximate vs exact ground truth, same metric)


@query(
    "s_ann_recall_eval",
    oracle=f"""
    WITH exact AS ({REGISTRY['s_cosine_topk'].oracle}),
         ivf AS ({REGISTRY['s_ivf_ann_topk'].oracle}),
         srp AS ({REGISTRY['s_srp_ann_topk'].oracle}),
         hits AS (
             SELECT 'ivf' AS method, e.qid,
                    COUNT(a.vec_id) AS n_hit
             FROM exact e LEFT JOIN ivf a
               ON a.qid = e.qid AND a.vec_id = e.vec_id
             GROUP BY e.qid
             UNION ALL
             SELECT 'srp', e.qid, COUNT(a.vec_id)
             FROM exact e LEFT JOIN srp a
               ON a.qid = e.qid AND a.vec_id = e.vec_id
             GROUP BY e.qid
         )
    SELECT method, qid, CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_hit * 200 AS BIGINT) AS recall_millis
    FROM hits
    """,
)
def s_ann_recall_eval(spark, sf_dir):
    """Recall@5 of the two ANN indexes against the exact brute-force
    cosine ground truth, per query vector — the evaluation harness every
    similarity deployment needs before trusting an index: IVF (2-probe
    cell search) and SRP-LSH (8-bit signature buckets), both scored on
    the SAME metric as the ground truth. recall_millis = 1000·|∩|/5 in
    exact integer arithmetic.

    Scale: the eval reuses the registered plans unchanged; the join is
    on (qid, vec_id) over k·|queries| rows — negligible next to the
    searches themselves. At 100 TB you run this on a sampled query set,
    which is exactly what the 8-query fixture set models."""
    from personal_data_lakehouse_spark.plans.registry import REGISTRY

    # coalesce before persist: the exact top-k ends in a qid window whose
    # 200-partition shuffle layout the cache would otherwise pin onto both
    # downstream hit-joins and the left-join refill — 200 near-empty tasks
    # per stage for 40 ground-truth rows (the measured s_ann_recall_eval
    # fix). Nothing downstream reuses the cached hash layout.
    exact = (
        REGISTRY["s_cosine_topk"].fn(spark, sf_dir)
        .select("qid", "vec_id")
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    qids = exact.select("qid").distinct()
    parts = []
    for method, name in (("ivf", "s_ivf_ann_topk"), ("srp", "s_srp_ann_topk")):
        approx = REGISTRY[name].fn(spark, sf_dir).select("qid", "vec_id")
        hits = (
            exact.join(approx, ["qid", "vec_id"])
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        parts.append(
            qids.join(hits, "qid", "left").select(
                F.lit(method).alias("method"),
                "qid",
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            )
        )
    out = parts[0].unionByName(parts[1])
    return out.withColumn(
        "recall_millis", (F.col("n_hit") * 200).cast("long")
    )


# ---------------------------------------------------------------------------
# MinHash estimator-error audit (sketch estimate vs exact Jaccard)


@query(
    "t_minhash_estimate_error",
    oracle=f"""
    WITH {_lsh_ctes()}
    SELECT p.id_a, p.id_b,
           CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
                AS BIGINT) AS n_sig_match,
           len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) / 16.0
               AS est_jaccard,
           ROUND(CAST(len(list_intersect(p.sh_a, p.sh_b)) AS DOUBLE)
                 / len(list_distinct(list_concat(p.sh_a, p.sh_b))), 6)
               AS jaccard,
           ROUND(ABS(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
                     / 16.0
                     - CAST(len(list_intersect(p.sh_a, p.sh_b)) AS DOUBLE)
                       / len(list_distinct(list_concat(p.sh_a, p.sh_b)))), 6)
               AS abs_err
    FROM lsh_pairs p
    JOIN sig a ON a.doc_id = p.id_a
    JOIN sig b ON b.doc_id = p.id_b
    """,
)
def t_minhash_estimate_error(spark, sf_dir):
    """Sketch-quality audit: for every LSH candidate pair, the MinHash
    ESTIMATE of Jaccard (fraction of agreeing signature components, k=16)
    next to the exact shingle Jaccard and the absolute error — the
    measurement that justifies (or rejects) a signature size before a
    100 TB dedup run. The estimator is unbiased with stddev
    ~sqrt(J(1-J)/k) ≈ 0.125 at k=16; the audit makes the realized error
    visible per pair.

    est_jaccard = n/16 is exact in binary, the exact Jaccard is one
    double division — both engines compute bit-identical values.

    Scale: same dataflow as t_minhash_lsh_pairs plus one broadcast-back
    of the 16-component signatures onto the surviving pairs."""
    from personal_data_lakehouse_spark.dedup.minhash import _banded_docs

    docs, banded = _banded_docs(
        t(spark, sf_dir, "documents"), "text", "doc_id", 16, 4, 3, 42
    )
    sigd = docs.select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(16)]).alias("sig"),
        "shingles",
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sigd.select(
                F.col("doc_id").alias("id_a"),
                F.col("sig").alias("sig_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "id_a",
        )
        .join(
            sigd.select(
                F.col("doc_id").alias("id_b"),
                F.col("sig").alias("sig_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "id_b",
        )
    )
    n_match = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    ).cast("long")
    raw_j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    est = n_match.cast("double") / 16.0
    return pairs.select(
        "id_a",
        "id_b",
        n_match.alias("n_sig_match"),
        est.alias("est_jaccard"),
        F.round(raw_j, 6).alias("jaccard"),
        F.round(F.abs(est - raw_j), 6).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Incremental kNN (new batch probes the persisted corpus cell index)


@query(
    "s_knn_incremental",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                   WHERE vec_id IN ({_CENT_LIST})),
    asg AS (SELECT vec_id, e, cid, {_cos('e', 'ce')} AS csim
            FROM (SELECT vec_id, embedding AS e FROM embeddings
                  WHERE vec_id % 10 <> 0) c, cents),
    cells AS (SELECT vec_id, e, cid AS cell FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY csim DESC, cid) AS crnk FROM asg)
              WHERE crnk = 1),
    qasg AS (SELECT qid, qe, cid, {_cos('qe', 'ce')} AS csim
             FROM (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                   WHERE vec_id % 10 = 0) q, cents),
    probes AS (SELECT qid, qe, cid AS cell FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY csim DESC, cid) AS crnk FROM qasg)
               WHERE crnk <= 2),
    s AS (SELECT qid, vec_id, {_cos('qe', 'e')} AS sim
          FROM cells JOIN probes USING (cell)),
    r AS (SELECT qid, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY sim DESC, vec_id) AS rnk
          FROM s)
    SELECT qid, rnk, vec_id, ROUND(sim, 6) AS cosine
    FROM r WHERE rnk <= 3
    """,
)
def s_knn_incremental(spark, sf_dir):
    """Incremental similarity ingest: vectors arriving in a new batch
    (vec_id % 10 == 0) probe the EXISTING corpus's IVF cell index for
    their top-3 nearest neighbors (2-probe, exact cosine re-rank) — the
    embedding-tier complement of t_neardup_incremental: corpus×corpus
    never re-runs, per-batch work is O(|batch| · probed-cell load).
    Downstream, cosine ≥ threshold on rank 1 is the near-dup
    admit/reject decision at ingest time.

    Scale: the corpus cell assignment is the written index (one shuffle,
    amortized over every future batch); each batch is map-assigned
    against the broadcast centroids and joins only its probed cells."""
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
    )
    from personal_data_lakehouse_spark.similarity.ivf import (
        ivf_topk,
        pick_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    batch = emb.filter((F.col("vec_id") % 10) == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    corpus = emb.filter((F.col("vec_id") % 10) != 0)
    cents = pick_centroids(emb, _CENTROID_IDS)
    return ivf_topk(batch, corpus, cents, k=3, nprobe=2)


# ---------------------------------------------------------------------------
# Contribution-capped aggregation (bounded per-user influence)


@query(
    "q_contribution_capped_agg",
    oracle="""
    WITH capped AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
            ) AS rn
            FROM events
        ) WHERE rn <= 5
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           SUM(cents) AS total_cents
    FROM capped GROUP BY 1
    """,
)
def q_contribution_capped_agg(spark, sf_dir):
    """Aggregation under BOUNDED PER-USER CONTRIBUTION: each user donates
    at most 5 events (chosen by a deterministic md5 rank — a fixed random
    sample, stable across engines, layouts, and corpus growth), then the
    per-type totals are computed over the capped set. This is the
    contribution-bounding step of DP-style aggregation and the
    author-cap dedup of training pipelines: no single heavy user can
    dominate a statistic (or a training mix) by volume.

    Scale: one shuffle on user_id for the per-user rank (state = 5 rows
    per key via WindowGroupLimit pushdown), one map-side-combined
    aggregate on the capped set. The md5 order makes the kept subset a
    uniform sample of each user's events rather than a time-biased
    prefix."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string").cast("binary")), "event_id"
    )
    capped = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )
    return capped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("cents").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Real streaming tumbling aggregation, batch-parity under the oracle


@query(
    "q_stream_tumbling_agg",
    oracle="""
    SELECT CAST(epoch_us(b) AS BIGINT) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(floor(value * 100) AS BIGINT)) AS total_cents
    FROM (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS b,
                 event_type, value
          FROM events
          WHERE ts IS NOT NULL)
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling_agg(spark, sf_dir):
    """Real STREAMING tumbling aggregation proven batch-equal: the events
    fixture is consumed via readStream (availableNow), aggregated per
    (1-hour event-time window, event_type) with a 30-minute watermark, and
    emitted in APPEND mode to a parquet FILE sink — which must hash-equal
    the batch GROUP BY. A far-future sentinel event unioned into the source
    (watermark_flush_events) pushes the final watermark past every real
    window so the bounded run finalizes them all; the sentinel's own group
    is filtered on read-back. Amounts sum as integer cents so the reduce is
    exact in any partition AND micro-batch order; NULL event times are
    filtered on BOTH sides (Spark's window agg drops them silently, the
    oracle would keep a NULL bucket).

    Scale: streaming state is one row per open (window, type) group —
    bounded by time horizon × type cardinality, not event volume. Append
    mode emits each window exactly once when it finalizes, so per-batch
    emission is bounded by the batch's time span × types and the result
    lands distributed in executor-written parquet — the driver never
    materializes the rollup (the complete-mode memory sink this replaces
    re-emitted the FULL aggregate every micro-batch into driver memory,
    linear in the stream's time span)."""
    from personal_data_lakehouse_spark.streaming.windows import (
        SENTINEL_CUTOFF_US,
        drain_stream_to_parquet,
        stream_events,
        stream_work_dir,
        watermark_flush_events,
    )

    work = stream_work_dir("stumb")
    s = stream_events(spark, f"{sf_dir}/events.parquet").filter(
        F.col("ts").isNotNull()
    )
    agg = (
        s.unionByName(watermark_flush_events(spark, s, work))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "event_type",
            "n_events",
            "total_cents",
        )
    )
    # sentinel rows are excluded by their far-future WINDOW TIME, not by
    # business keys — a real event typed '__sentinel__' would survive
    return drain_stream_to_parquet(agg, work).filter(
        F.col("window_start_us") < SENTINEL_CUTOFF_US
    )


# ---------------------------------------------------------------------------
# Real streaming SESSION-window aggregation, batch-parity under the oracle


@query(
    "q_stream_session_agg",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), m AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM e
    ), s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    ), sess AS (
        SELECT user_id, sid, COUNT(*) AS n_events FROM s GROUP BY 1, 2
    )
    SELECT n_events AS session_len, COUNT(*) AS n_sessions
    FROM sess GROUP BY 1
    """,
)
def q_stream_session_agg(spark, sf_dir):
    """Real STREAMING session windows proven batch-equal: per-user 30-min
    gap sessions assembled by the streaming engine (readStream →
    ``session_window`` aggregation, APPEND mode, availableNow), then
    histogrammed by session length — which must hash-equal the classic
    batch lag/gap/cumsum sessionization. Session windows forbid update
    mode (a merge would invalidate already-emitted rows), so append +
    sentinel watermark-flush is the one scale-safe total harness: each
    session is emitted exactly once when the watermark closes it, into a
    parquet file sink; the histogram rollup runs as a batch query over the
    sink, so the parity check covers every session boundary decision while
    the driver materializes nothing.

    Scale: streaming session state is per (user, open session) and merges
    on arrival — the canonical dynamic-gap operator; per-batch emission is
    bounded by sessions closing in that batch, never session history (the
    complete-mode memory sink this replaces re-emitted every session ever
    closed, each micro-batch, into driver memory)."""
    from personal_data_lakehouse_spark.streaming.windows import (
        SENTINEL_CUTOFF,
        drain_stream_to_parquet,
        stream_events,
        stream_work_dir,
        watermark_flush_events,
    )

    work = stream_work_dir("ssess")
    s = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    )
    sess = (
        s.unionByName(watermark_flush_events(spark, s, work))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )
    # sentinel exclusion by far-future SESSION TIME, not by user_id — a
    # real fixture user -1 would survive
    finalized = drain_stream_to_parquet(sess, work).filter(
        F.col("session_start") < F.lit(SENTINEL_CUTOFF).cast("timestamp")
    )
    return finalized.groupBy(
        F.col("n_events").alias("session_len")
    ).agg(F.count(F.lit(1)).alias("n_sessions"))


# ---------------------------------------------------------------------------
# Real streaming SLIDING-window aggregation, batch-parity under the oracle


@query(
    "q_stream_sliding_agg",
    oracle="""
    SELECT CAST(epoch_us(b) AS BIGINT) AS window_start_us,
           event_type, COUNT(*) AS n_events
    FROM (
        SELECT event_type,
               unnest([time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                           - INTERVAL 1 HOUR]) AS b
        FROM events
        WHERE ts IS NOT NULL
    )
    GROUP BY 1, 2
    """,
)
def q_stream_sliding_agg(spark, sf_dir):
    """Real STREAMING sliding-window aggregation (2-hour windows sliding
    hourly — every event lands in two windows) proven batch-equal: the
    streaming engine expands each event into its overlapping windows and
    maintains one state row per open (window, type); append mode into a
    parquet file sink, with the sentinel watermark-flush finalizing the
    trailing windows, makes the one-shot parity total against the batch
    unnest-into-buckets SQL. NULL event times are filtered on BOTH sides
    (matching q_stream_tumbling_agg). With tumbling and session windows
    this closes streaming parity over all three window types the engine
    ships.

    Scale: state rows = open windows × types (two windows per event-time
    hour); the overlap factor (window/slide) multiplies shuffle volume,
    not state retention — watermark expiry still bounds memory, append
    emission stays bounded per batch, and the driver materializes
    nothing."""
    from personal_data_lakehouse_spark.streaming.windows import (
        SENTINEL_CUTOFF_US,
        drain_stream_to_parquet,
        stream_events,
        stream_work_dir,
        watermark_flush_events,
    )

    work = stream_work_dir("sslide")
    s = stream_events(spark, f"{sf_dir}/events.parquet").filter(
        F.col("ts").isNotNull()
    )
    agg = (
        s.unionByName(watermark_flush_events(spark, s, work))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    # sentinel exclusion by far-future window time (see q_stream_tumbling_agg)
    return drain_stream_to_parquet(agg, work).filter(
        F.col("window_start_us") < SENTINEL_CUTOFF_US
    )


# ---------------------------------------------------------------------------
# Field-survivorship golden records (the MDM merge step after dedup)

_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


@query(
    "t_dedup_survivorship",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars, md5({_NORM_SQL}) AS fp FROM documents
    ),
    base AS (
        SELECT fp, MIN(doc_id) AS keep_id, MAX(n_chars) AS max_n_chars,
               COUNT(*) AS n_dups
        FROM d GROUP BY 1
    ),
    longest AS (
        SELECT fp, doc_id AS golden_text_id FROM (
            SELECT fp, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY fp
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    lang_mode AS (
        SELECT fp, lang AS golden_lang FROM (
            SELECT fp, lang,
                   ROW_NUMBER() OVER (PARTITION BY fp
                                      ORDER BY COUNT(*) DESC, lang) AS rn
            FROM d GROUP BY fp, lang
        ) WHERE rn = 1
    )
    SELECT b.fp, b.keep_id, l.golden_text_id, m.golden_lang,
           b.max_n_chars, b.n_dups
    FROM base b JOIN longest l ON b.fp = l.fp
                JOIN lang_mode m ON b.fp = m.fp
    """,
)
def t_dedup_survivorship(spark, sf_dir):
    """Golden-record SURVIVORSHIP for duplicate clusters: after exact dedup
    groups documents by fingerprint, each multi-member cluster merges into
    one record by per-field rules — keep_id = min id (stable canonical),
    golden_text_id = the member with the LONGEST raw text (most complete
    field wins, id tiebreak), golden_lang = the cluster's modal language
    (count-then-lexicographic tiebreak). This is the master-data-
    management merge step the dedup families feed: the decision of which
    VALUES survive, not just which row.

    Every fingerprint emits its golden record (singletons trivially merge
    to themselves, n_dups = 1 marks them) so the differential hash covers
    the whole rule surface even on fixtures with few exact duplicates.

    Scale: one fingerprint shuffle shared by all three rules (the rank
    windows and the mode aggregate are per-cluster, state bounded by
    cluster size); at corpus scale filter n_dups >= 2 first if only the
    merge decisions are needed downstream."""
    from personal_data_lakehouse_spark.functions.text import fingerprint

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", fingerprint("text").alias("fp")
    )
    base = (
        d.groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.max("n_chars").alias("max_n_chars"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )
    w_len = Window.partitionBy("fp").orderBy(F.desc("n_chars"), "doc_id")
    longest = (
        d.withColumn("rn", F.row_number().over(w_len))
        .filter(F.col("rn") == 1)
        .select("fp", F.col("doc_id").alias("golden_text_id"))
    )
    w_mode = Window.partitionBy("fp").orderBy(F.desc("cnt"), "lang")
    lang_mode = (
        d.groupBy("fp", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_mode))
        .filter(F.col("rn") == 1)
        .select("fp", F.col("lang").alias("golden_lang"))
    )
    return (
        base.join(longest, "fp")
        .join(lang_mode, "fp")
        .select(
            "fp", "keep_id", "golden_text_id", "golden_lang",
            "max_n_chars", "n_dups",
        )
    )


# ---------------------------------------------------------------------------
# Near-dup source matrix (which domains copy from which)


@query(
    "t_neardup_source_matrix",
    oracle=f"""
    WITH {_lsh_ctes()},
    verified AS (
        SELECT id_a, id_b FROM lsh_pairs
        WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
              / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
    ),
    src AS (
        SELECT v.id_a, v.id_b, da.source AS sa, db.source AS sb
        FROM verified v
        JOIN documents da ON da.doc_id = v.id_a
        JOIN documents db ON db.doc_id = v.id_b
    )
    SELECT LEAST(sa, sb) AS source_lo, GREATEST(sa, sb) AS source_hi,
           COUNT(*) AS n_pairs
    FROM src GROUP BY 1, 2
    """,
)
def t_neardup_source_matrix(spark, sf_dir):
    """Cross-SOURCE duplication matrix: verified near-dup pairs (LSH
    candidates, exact Jaccard ≥ 0.5) rolled up by unordered source pair —
    the diagnostic that shows which domains syndicate/mirror which
    (high off-diagonal mass = scraped copies across sites; diagonal =
    within-source boilerplate). Drives per-source dedup policy before a
    training run.

    Scale: the pair list is the expensive input and already exists
    (t_minhash_lsh_pairs dataflow); attaching two source labels is two
    broadcast-joins against the doc dimension, and the matrix aggregate
    has |sources|² bounded cardinality."""
    from personal_data_lakehouse_spark.dedup.minhash import lsh_candidate_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")),
            "id_b",
        )
    )
    return (
        labeled.select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Robust (MAD-based) anomaly detection per group


@query(
    "q_anomaly_mad",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med
        FROM e GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, ABS(e.cents - m.med) AS dev, m.med
        FROM e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(dev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           COUNT(*) AS n,
           MAX(d.med) AS med_cents,
           MAX(m.mad) AS mad_cents,
           SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    """,
)
def q_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection: per event type, the MEDIAN/MAD outlier
    rule (|x − median| > 3·MAD) — the breakdown-resistant counterpart of
    q_zscore_outliers' mean/stddev, which a single extreme value can
    poison. Exactness chain: integer cents → median lands on halves
    (type-7) → absolute deviations are exact halves → MAD lands on
    quarters → 3·MAD is an exact small multiple of 0.25 — every
    comparison is between exactly-representable doubles, so the outlier
    COUNT is bit-stable across engines.

    Shape: ONE pass over the raw events builds the (event_type, cents)
    value histogram (map-side combined, bounded by |types| × the cents
    domain). One shuffle by event_type then carries the whole chain: a
    WEIGHTED median window (F.percentile's frequency argument) over the
    type's histogram rows, the per-row deviation, a weighted MAD window
    over the same partition, and a final per-type aggregate that reuses
    the window's partitioning — two exchanges, no cache, no join.

    Scale: each window partition is one type's histogram, which a
    grouped percentile also holds in one buffer, so per-type memory is
    the cents domain, never the type's event count. Weighted type-7
    interpolation over the histogram is value-identical to row-level
    percentiles, so the oracle keeps the row-level form."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
        )
    )
    h = e.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    by_type = Window.partitionBy("event_type")
    dev = h.withColumn(
        "med", F.percentile("cents", F.lit(0.5), F.col("cnt")).over(by_type)
    ).withColumn("dev", F.abs(F.col("cents") - F.col("med")))
    mad = dev.withColumn(
        "mad", F.percentile("dev", F.lit(0.5), F.col("cnt")).over(by_type)
    )
    return mad.groupBy("event_type").agg(
        F.sum("cnt").alias("n"),
        F.max("med").alias("med_cents"),
        F.max("mad").alias("mad_cents"),
        F.sum(
            F.when(F.col("dev") > 3 * F.col("mad"), F.col("cnt")).otherwise(0)
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Wave 10: time-series autocorrelation, chi-square drift, first-touch
# attribution, importance sampling


@query(
    "q_autocorrelation",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    daily AS (
        SELECT event_type, d, SUM(cents) AS x FROM e GROUP BY 1, 2
    ),
    l AS (
        SELECT event_type, 1 AS lag, x,
               LEAD(x, 1) OVER (PARTITION BY event_type ORDER BY d) AS y
        FROM daily
        UNION ALL
        SELECT event_type, 7 AS lag, x,
               LEAD(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS y
        FROM daily
    ),
    a AS (
        SELECT event_type, lag, COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM l WHERE y IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS acf
    FROM a
    """,
)
def q_autocorrelation(spark, sf_dir):
    """Lag-k autocorrelation (k = 1, 7) of each event type's daily value
    series — the seasonality probe behind anomaly baselines and forecast
    sanity checks (lag-7 high => weekly cycle). Pearson correlation of
    (x_t, x_{t+k}) pairs computed entirely from integer sums (cents):
    n·Σxy − Σx·Σy and the two variance terms stay in exact int128 space
    (DECIMAL(38,0) / HUGEINT — at 1e12-row-per-day scale the raw BIGINT
    products wrap), with ONE cast to double and a sqrt·sqrt division at
    the end. sqrt is IEEE-correctly-rounded on both engines; the op chain
    is identical, so the rounded value hashes bit-equal.

    Scale: one grouped aggregate to daily grain (map-side combined — the
    ONLY pass over the raw events), then windows/joins over (types ×
    days) rows, bounded cardinality. Degenerate series (zero variance)
    yield NULL acf via the guard, not a division error."""
    d19 = "decimal(19,0)"
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("d"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("cents").alias("x"))
    w = Window.partitionBy("event_type").orderBy("d")
    # Both leads from ONE window pass, unpivoted with stack — a UNION of
    # per-lag branches would scan and re-aggregate the raw events once per
    # lag (caught by .explain during this query's plan audit).
    both = daily.select(
        "event_type",
        "x",
        F.lead("x", 1).over(w).alias("y1"),
        F.lead("x", 7).over(w).alias("y7"),
    )
    lagged = both.selectExpr(
        "event_type", "stack(2, 1, x, y1, 7, x, y7) AS (lag, x, y)"
    )
    xd = F.col("x").cast(d19)
    yd = F.col("y").cast(d19)
    a = (
        lagged.filter(F.col("y").isNotNull())
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yd).alias("sy"),
            F.sum(xd * F.col("x")).alias("sxx"),
            F.sum(yd * F.col("y")).alias("syy"),
            F.sum(xd * F.col("y")).alias("sxy"),
        )
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = n * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = n * F.col("syy") - F.col("sy") * F.col("sy")
    return a.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        n.cast("long").alias("n_pairs"),
        F.when(
            (d1 > 0) & (d2 > 0),
            F.round(
                num.cast("double")
                / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
                6,
            ),
        ).alias("acf"),
    )


@query(
    "q_drift_chisq",
    oracle="""
    WITH e AS (
        SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
               substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' AS in_a
        FROM events
    ),
    b AS (
        SELECT bucket,
               SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS n_b
        FROM e GROUP BY 1
    ),
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM b)
    SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(CAST(CAST(n_a AS HUGEINT) * tb - CAST(n_b AS HUGEINT) * ta
                        AS DOUBLE)
                 * CAST(CAST(n_a AS HUGEINT) * tb - CAST(n_b AS HUGEINT) * ta
                        AS DOUBLE)
                 / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
                    * CAST(n_a + n_b AS DOUBLE)), 6) AS chisq_term
    FROM b, tot
    """,
)
def q_drift_chisq(spark, sf_dir):
    """Two-sample chi-square drift, per bucket — the companion statistic
    to q_drift_tvd's total-variation distance. Where TVD weights every
    bucket's probability gap equally, the chi-square term
    (n_a·t_b − n_b·t_a)² / (t_a·t_b·(n_a+n_b)) amplifies divergence in
    rare buckets — the tail shifts TVD under-reports. (Derivation from
    (o−e)²/e with pooled expectations collapses to exactly this — the
    invariant test pins it against the textbook contingency form, which
    caught an off-by-N factor both engines shared.) Emitting the
    PER-BUCKET contributions (not just the scalar) is deliberate: at
    drift-triage time the question is WHICH slice moved. Float discipline:
    the difference n_a·t_b − n_b·t_a is exact int128 (its square would
    overflow even int128 at 1e13-count scale, so the square happens in
    double: cast-then-multiply, identical op order both engines, no
    order-dependent reduction anywhere).

    Scale: one grouped count over the stream (map-side combined), a 1-row
    totals broadcast, per-bucket arithmetic. Same shape as q_drift_tvd —
    the only full-data pass is the histogram."""
    d19 = "decimal(19,0)"
    e = t(spark, sf_dir, "events").select(
        F.floor(F.col("value") / 50).cast("long").alias("bucket"),
        (
            F.substring(
                F.md5(F.col("event_id").cast("string").cast("binary")), 1, 1
            )
            < "8"
        ).alias("in_a"),
    )
    b = e.groupBy("bucket").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("n_b"),
    )
    tot = b.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    j = b.crossJoin(F.broadcast(tot))
    diff = (
        F.col("n_a").cast(d19) * F.col("tb").cast(d19)
        - F.col("n_b").cast(d19) * F.col("ta").cast(d19)
    ).cast("double")
    term = (
        diff
        * diff
        / (
            F.col("ta").cast("double")
            * F.col("tb").cast("double")
            * (F.col("n_a") + F.col("n_b")).cast("double")
        )
    )
    return j.select(
        "bucket", "n_a", "n_b", F.round(term, 6).alias("chisq_term")
    )


@query(
    "q_first_touch_attribution",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    f AS (
        SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER w IS NULL
                         OR ts_us - LAG(ts_us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST)
    ),
    s AS (
        SELECT *, SUM(is_new) OVER (
                   PARTITION BY user_id
                   ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM f
    ),
    g AS (
        SELECT user_id, sid,
               MAX(CASE WHEN is_new = 1 THEN event_type END) AS first_touch,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS n_purch,
               SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
                   AS purch_cents
        FROM s GROUP BY 1, 2
    )
    SELECT first_touch,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converting,
           CAST(SUM(n_purch) AS BIGINT) AS n_purchases,
           ROUND(SUM(purch_cents) / 100.0, 6) AS attributed_value
    FROM g GROUP BY 1
    """,
)
def q_first_touch_attribution(spark, sf_dir):
    """First-touch attribution: sessionize (30-min silence rule, same as
    q_sessionize), then credit every purchase in a session to the
    session's FIRST event type — the entry channel. The trick that keeps
    this single-shuffle: the session's first event is by construction the
    row whose is_new flag is 1, so first_touch is a plain conditional MAX
    in the per-session aggregate — no second ranking window, no
    (user, session) re-sort. And because hash(user_id) partitioning
    already co-locates every (user_id, sid) group, the session aggregate
    needs no new exchange after the window pass (ClusteredDistribution is
    satisfied by subset partitioning); only the final ~|event_types|-row
    rollup shuffles again. Purchase value rides as integer cents; one
    division at the end."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    f = e.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
    )
    s = f.withColumn(
        "sid",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    g = s.groupBy("user_id", "sid").agg(
        F.max(
            F.when(F.col("is_new") == 1, F.col("event_type"))
        ).alias("first_touch"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purch"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
        ).alias("purch_cents"),
    )
    return g.groupBy("first_touch").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_purch") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_converting"),
        F.sum("n_purch").cast("long").alias("n_purchases"),
        F.round(F.sum("purch_cents") / 100.0, 6).alias("attributed_value"),
    )


@query(
    "t_sample_importance",
    oracle="""
    SELECT doc_id, source, LEAST(n_chars, 2000) AS weight,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS hash_u32
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) * 2000
          < LEAST(n_chars, 2000) * 4294967296
    """,
)
def t_sample_importance(spark, sf_dir):
    """Importance (weighted Bernoulli) sampling: each document is kept
    with probability weight/2000 where weight = min(n_chars, 2000) — the
    standard quality/length-proportional downsampling step in a training
    mix, generalizing t_sample_bernoulli_hash's uniform coin. The accept
    test is pure integer arithmetic — u32(md5) · w_max < 2^32 · w — so
    the decision is exact, engine-independent, reproducible across runs
    and partition layouts, and stable under corpus growth (a document's
    fate never changes as neighbors arrive). The predicate is a
    deterministic per-row filter: no shuffle, no state, pushes into the
    scan stage at any scale."""
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    wgt = F.least(F.col("n_chars"), F.lit(2000))
    return (
        t(spark, sf_dir, "documents")
        .filter(u * 2000 < wgt * F.lit(4294967296))
        .select(
            "doc_id",
            "source",
            wgt.alias("weight"),
            u.alias("hash_u32"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget waterfilling: source-balanced allocation under a global cap

# The cap-search SQL, shared verbatim between the registered oracle and the
# hypothesis property test (tests/test_properties.py) which runs it over
# random (counts, budget) tables in DuckDB against a brute-force reference —
# the fixture only ever exercises budget = total//2, the template gets the
# edge cases (budget 0, budget >= total, all-equal counts, one source).
# Expects CTEs `c(source, c_tokens)` and `tot(total, m, budget)` upstream.
WATERFILL_CAP_SQL = """
    r AS (
        SELECT c.source, c.c_tokens, t.budget, t.total, t.m,
               ROW_NUMBER() OVER w AS i,
               COALESCE(SUM(c_tokens) OVER (
                   ORDER BY c_tokens NULLS FIRST, source NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS p_prev,
               COALESCE(LAG(c_tokens) OVER w, 0) AS c_prev
        FROM c, tot t
        WINDOW w AS (ORDER BY c_tokens NULLS FIRST, source NULLS FIRST)
    ),
    seg AS (
        SELECT *, CASE WHEN budget >= p_prev
                       THEN (budget - p_prev) // (m - i + 1) END AS t_cand
        FROM r
    ),
    cap AS (
        SELECT MAX(t_cand) AS t_star
        FROM seg
        WHERE t_cand IS NOT NULL AND t_cand >= c_prev AND t_cand < c_tokens
    )
    SELECT r.source, CAST(r.c_tokens AS BIGINT) AS c_tokens,
           CAST(r.budget AS BIGINT) AS budget,
           CAST(cap.t_star AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN cap.t_star IS NULL THEN r.c_tokens
                     ELSE LEAST(r.c_tokens, cap.t_star) END AS BIGINT)
               AS alloc_tokens,
           (cap.t_star IS NOT NULL AND r.c_tokens > cap.t_star) AS capped
    FROM r, cap
"""


@query(
    "t_mix_waterfill",
    oracle=f"""
    WITH c AS (
        SELECT source,
               SUM(CAST(len({_TOKS}) AS BIGINT)) AS c_tokens
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT SUM(c_tokens) AS total, COUNT(*) AS m,
               SUM(c_tokens) // 2 AS budget
        FROM c
    ),
    {WATERFILL_CAP_SQL}
    """,
)
def t_mix_waterfill(spark, sf_dir):
    """Token-budget waterfilling — the source-balancing allocator for a
    training mix: given per-source token counts c_s and a global budget
    B (here: half the corpus), find the LARGEST integer cap T with
    Σ min(c_s, T) ≤ B. Small sources keep everything; large sources are
    clipped to T — the standard way to stop one crawl domain from eating
    the budget while still filling it. Closed form, no iteration: sort
    sources by c ascending; in the segment where sources 1..i−1 are fully
    granted, T = (B − P_{i−1}) div (m−i+1); exactly one segment satisfies
    c_{i−1} ≤ T < c_i. Pure integer arithmetic (div = DuckDB // on the
    non-negative operands the budget guard ensures), so the allocation is
    bit-stable across engines.

    Scale: ONE corpus pass (per-source token-count aggregate, map-side
    combined); every window/join after it runs on |sources| rows — the
    global Window.orderBy is over that bounded spine, never rows. The
    1-row cap table broadcasts back."""
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(token_count_whitespace("text").cast("long")).alias("c_tokens")
        )
    )
    tot = c.agg(
        F.sum("c_tokens").alias("total"),
        F.count(F.lit(1)).alias("m"),
        F.expr("sum(c_tokens) div 2").alias("budget"),
    )
    w = Window.orderBy("c_tokens", "source")
    r = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(w))
        .withColumn(
            "p_prev",
            F.coalesce(
                F.sum("c_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("c_prev", F.coalesce(F.lag("c_tokens").over(w), F.lit(0)))
    )
    seg = r.withColumn(
        "t_cand",
        F.when(
            F.col("budget") >= F.col("p_prev"),
            F.expr("(budget - p_prev) div (m - i + 1)"),
        ),
    )
    cap = seg.filter(
        F.col("t_cand").isNotNull()
        & (F.col("t_cand") >= F.col("c_prev"))
        & (F.col("t_cand") < F.col("c_tokens"))
    ).agg(F.max("t_cand").alias("t_star"))
    return r.crossJoin(F.broadcast(cap)).select(
        "source",
        "c_tokens",
        "budget",
        F.col("t_star").alias("cap_tokens"),
        F.when(F.col("t_star").isNull(), F.col("c_tokens"))
        .otherwise(F.least(F.col("c_tokens"), F.col("t_star")))
        .alias("alloc_tokens"),
        (
            F.col("t_star").isNotNull()
            & (F.col("c_tokens") > F.col("t_star"))
        ).alias("capped"),
    )


# ---------------------------------------------------------------------------
# Rolling distinct active users (DAU / WAU / stickiness)


@query(
    "q_rolling_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    wau AS (
        SELECT w_day, COUNT(DISTINCT user_id) AS wau
        FROM (SELECT user_id, d + CAST(k AS INT) AS w_day
              FROM ud, range(0, 7) r(k))
        GROUP BY 1
    ),
    dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY 1)
    SELECT CAST(dau.d AS DATE) AS active_day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON wau.w_day = dau.d
    """,
)
def q_rolling_active_users(spark, sf_dir):
    """Rolling engagement curve: for every observed day, DAU (distinct
    users that day) and WAU (distinct users over the trailing 7 days),
    plus the DAU/WAU stickiness ratio. Distinct-over-a-sliding-window
    does NOT decompose into per-day partials (distinct is not algebraic),
    so the standard scale shape is: dedup to the (user, day) activity
    grid first — ONE corpus-sized distinct, after which everything is
    bounded by |users|·|days| — then explode each activity day into the
    ≤7 window days it serves and count distinct per window day. The
    trailing window direction (day d serves windows d..d+6) means each
    activity row fans out exactly 7×, independent of window length
    semantics. The DAU/WAU join is day-keyed and tiny.

    Stickiness is one double division, rounded — no float reduction."""
    # persist the activity grid: both the DAU and WAU branches consume it,
    # and without the persist each re-derives it from a full corpus scan.
    # The grid is |users|·|active days| — the whole point of dedup-first is
    # that it's orders of magnitude smaller than the event log. Coalesced
    # so the cached plan doesn't pin one near-empty task per shuffle
    # partition under a default session (AQE cannot re-coalesce a cached
    # plan).
    ud = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("w_day"),
    )
    wau = contrib.groupBy("w_day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau["d"] == wau["w_day"])
        .select(
            F.col("d").alias("active_day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dedup savings accounting: per-source duplicate mass


@query(
    "t_dedup_cluster_stats",
    oracle=f"""
    WITH clusters AS ({REGISTRY['t_dedup_clusters'].oracle}),
    d AS (SELECT doc_id, source, n_chars FROM documents)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.is_canonical THEN 1 ELSE 0 END) AS BIGINT)
               AS n_canonical,
           CAST(SUM(CASE WHEN c.is_canonical THEN 0 ELSE 1 END) AS BIGINT)
               AS n_redundant,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN c.is_canonical THEN 0 ELSE d.n_chars END)
                AS BIGINT) AS chars_redundant,
           CASE WHEN SUM(d.n_chars) > 0
                THEN ROUND(CAST(SUM(CASE WHEN c.is_canonical THEN 0
                                         ELSE d.n_chars END) AS DOUBLE)
                           / SUM(d.n_chars), 6) END AS dup_mass_pct
    FROM clusters c JOIN d USING (doc_id)
    GROUP BY 1
    """,
)
def t_dedup_cluster_stats(spark, sf_dir):
    """Dedup savings accounting — the policy input a 100 TB ingest needs
    before turning dedup ON: per source, how many documents (and how much
    character mass) the near-dup closure marks redundant. Reuses the
    registered cluster closure (t_dedup_clusters) unchanged, joins the
    labels back to (source, n_chars), and aggregates; the oracle EMBEDS
    the registered t_dedup_clusters oracle verbatim, composed at
    decoration, so the two queries cannot drift.

    Scale: inherits t_dedup_clusters' shape (label propagation over the
    sparse edge-incident subgraph; the corpus is touched once by the
    label join); the stats rollup adds one doc_id-keyed join and a
    |sources|-row aggregate. Integer sums, one division at the end."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    cl = dedup_clusters(docs, pairs)
    joined = cl.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    red_chars = F.sum(
        F.when(F.col("is_canonical"), 0).otherwise(F.col("n_chars"))
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_canonical"), 1).otherwise(0))
        .cast("long")
        .alias("n_canonical"),
        F.sum(F.when(F.col("is_canonical"), 0).otherwise(1))
        .cast("long")
        .alias("n_redundant"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        red_chars.cast("long").alias("chars_redundant"),
        F.when(
            F.sum("n_chars") > 0,
            F.round(red_chars.cast("double") / F.sum("n_chars"), 6),
        ).alias("dup_mass_pct"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much genuinely-new content each document adds


@query(
    "t_ngram_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s
        FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
    ),
    first_seen AS (
        SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty_pct
    FROM sh JOIN first_seen f USING (s)
    GROUP BY 1
    """,
)
def t_ngram_novelty(spark, sf_dir):
    """Content novelty curve: per document, the fraction of its distinct
    3-word shingles that first appear in THAT document (first-seen =
    minimum doc_id over the corpus — in production, ingestion order).
    The curation signal behind "is this crawl adding anything": a source
    whose novelty collapses toward 0 is re-serving content the corpus
    already holds, and dedup thresholds alone miss partial-overlap decay.
    Documents with no 3-word shingle (< 3 tokens) are absent from the
    output, matching the oracle's unnest-of-empty-list semantics.

    Scale: one shingle explode (the corpus pays |docs|·|shingles/doc|
    rows), a map-side-combinable MIN per shingle, and a shingle-keyed
    join back — the join reuses the first-seen aggregate's hash
    partitioning on s, so the chain is two exchanges over the exploded
    set plus the final doc_id rollup. Hot (boilerplate) shingles fan the
    join but not the aggregate; at 100 TB cap them with the
    t_boilerplate_spans hot-gram guard first."""
    # spread(): shingle construction is CPU-bound string work; a
    # single-row-group input file would otherwise pin it to one core
    # (no-op when the scan already splits — see operators/partitioning)
    sh = (
        spread(t(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.explode(word_shingles(tokens("text"))).alias("s"),
        )
    )
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty_pct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocation mining (log-free: exact lift ratio)


@query(
    "t_pmi_collocations",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    uni AS (
        SELECT tok, COUNT(*) AS c_tok
        FROM (SELECT unnest(w) AS tok FROM w)
        GROUP BY 1
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(w)),
                                     i -> struct_pack(x := w[i],
                                                      y := w[i + 1]))) AS p
        FROM w WHERE len(w) >= 2
    ),
    bc AS (
        SELECT p.x AS x, p.y AS y, COUNT(*) AS c_xy
        FROM pairs GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(c_xy) AS n FROM bc)
    SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(ux.c_tok AS BIGINT) AS c_x,
           CAST(uy.c_tok AS BIGINT) AS c_y,
           ROUND(CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)
                 / (CAST(ux.c_tok AS DOUBLE) * CAST(uy.c_tok AS DOUBLE)),
                 6) AS lift
    FROM bc
    JOIN uni ux ON ux.tok = bc.x
    JOIN uni uy ON uy.tok = bc.y, tot
    WHERE c_xy >= 5
    ORDER BY CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)
             / (CAST(ux.c_tok AS DOUBLE) * CAST(uy.c_tok AS DOUBLE)) DESC,
             x, y
    LIMIT 50
    """,
)
def t_pmi_collocations(spark, sf_dir):
    """Collocation mining: the top-50 adjacent word pairs by PMI lift
    N·c(x,y) / (c(x)·c(y)) with min support c(x,y) ≥ 5 — the corpus-level
    "these words belong together" signal behind tokenizer-vocab seeding
    and phrase normalization. Log-free on purpose: PMI's log is monotone
    in the lift, so ranking by the lift ratio gives the identical top-k
    without a transcendental in a hashed output. The lift division runs
    on exact integer counts with ONE double expression, op-order matched
    on both engines, so the selected top-50 set (tie-broken on the pair)
    is engine-identical.

    Scale: unigram and bigram counts are map-side-combined aggregates
    over the token stream (the corpus pays one tokenize+explode, spread()
    across cores for unsplittable inputs); both count tables are
    vocab-sized (zipf-truncated by the support filter) so the two
    enrichment joins broadcast; the final rank is a 50-row
    TakeOrderedAndProject, never a global sort."""
    docs = spread(t(spark, sf_dir, "documents"))
    w = docs.select(tokens("text").alias("w"))
    uni = (
        w.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_tok"))
    )
    pairs = (
        w.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS x, "
                    "element_at(w, i + 1) AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
    )
    bc = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    tot = bc.agg(F.sum("c_xy").alias("n"))
    ux = uni.select(F.col("tok").alias("x"), F.col("c_tok").alias("c_x"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c_tok").alias("c_y"))
    lift = (
        F.col("n").cast("double")
        * F.col("c_xy").cast("double")
        / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
    )
    return (
        bc.filter(F.col("c_xy") >= 5)
        .join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(tot))
        .orderBy(lift.desc(), "x", "y")
        .limit(50)
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            F.round(lift, 6).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Revenue concentration profile (Pareto curve at log2-bucket resolution)


@query(
    "q_revenue_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                        AS BIGINT)) AS rev_cents
        FROM orders GROUP BY 1
    ),
    h AS (
        SELECT length(bin(rev_cents)) - 1 AS bucket,
               COUNT(*) AS n_cust,
               SUM(rev_cents) AS bucket_cents
        FROM rev WHERE rev_cents > 0 GROUP BY 1
    ),
    tot AS (SELECT SUM(n_cust) AS tc, SUM(bucket_cents) AS trev FROM h)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(n_cust AS BIGINT) AS n_cust,
           CAST(bucket_cents AS BIGINT) AS bucket_cents,
           CAST(SUM(n_cust) OVER w AS BIGINT) AS cum_cust_from_top,
           CAST(SUM(bucket_cents) OVER w AS BIGINT) AS cum_cents_from_top,
           ROUND(CAST(SUM(n_cust) OVER w AS DOUBLE) / tc, 6)
               AS cum_cust_share,
           ROUND(CAST(SUM(bucket_cents) OVER w AS DOUBLE) / trev, 6)
               AS cum_rev_share
    FROM h, tot
    WINDOW w AS (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_revenue_concentration(spark, sf_dir):
    """Revenue concentration (Pareto) profile: customers bucketed by
    floor(log2(lifetime revenue)), with cumulative customer and revenue
    shares reading from the richest bucket down — "the top X% of
    customers hold Y% of revenue" at power-of-two resolution. The exact
    per-customer rank curve would need a corpus-global ordered window
    over per-customer SUMS (whose domain is as large as the customer
    count — the decile-histogram trick does NOT apply to sums); the
    log2-bucket profile is the scale-honest version: one grouped
    aggregate to per-customer revenue, one ~40-row histogram, windows
    only over the histogram. floor(log2) via length(bin()) — integer-
    exact on both engines, no float log. Cumulative sums are integer;
    the two shares are single divisions, rounded."""
    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            # DOUBLE money -> DECIMAL(18,4) bridge before *100: a raw
            # double*100 truncates differently across engines near
            # representation boundaries (repo-wide money convention)
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,4)") * 100).cast(
                    "long"
                )
            ).alias("rev_cents")
        )
    )
    h = (
        rev.filter(F.col("rev_cents") > 0)
        .groupBy(
            (F.length(F.bin("rev_cents")) - 1).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("rev_cents").alias("bucket_cents"),
        )
    )
    tot = h.agg(
        F.sum("n_cust").alias("tc"), F.sum("bucket_cents").alias("trev")
    )
    w = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return h.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_cust",
        "bucket_cents",
        F.sum("n_cust").over(w).alias("cum_cust_from_top"),
        F.sum("bucket_cents").over(w).alias("cum_cents_from_top"),
        F.round(
            F.sum("n_cust").over(w).cast("double") / F.col("tc"), 6
        ).alias("cum_cust_share"),
        F.round(
            F.sum("bucket_cents").over(w).cast("double") / F.col("trev"), 6
        ).alias("cum_rev_share"),
    )


# ---------------------------------------------------------------------------
# Funnel latency distribution (time-to-convert histogram)


@query(
    "q_funnel_latency",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purchase
        FROM events GROUP BY user_id
    ),
    lat AS (
        SELECT (t_purchase - t_view) // 1000000 AS lat_s
        FROM u WHERE t_purchase > t_view
    ),
    h AS (
        SELECT CASE WHEN lat_s = 0 THEN -1
                    ELSE length(bin(lat_s)) - 1 END AS bucket,
               COUNT(*) AS n_users,
               MIN(lat_s) AS min_s, MAX(lat_s) AS max_s
        FROM lat GROUP BY 1
    ),
    tot AS (SELECT SUM(n_users) AS tn FROM h)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(min_s AS BIGINT) AS min_s,
           CAST(max_s AS BIGINT) AS max_s,
           ROUND(CAST(n_users AS DOUBLE) / tn, 6) AS share
    FROM h, tot
    """,
)
def q_funnel_latency(spark, sf_dir):
    """Time-to-convert distribution — the companion to q_funnel's counts:
    for every user whose first purchase follows their first view, the
    view→purchase latency in whole seconds, histogrammed on log2 buckets
    (bucket k covers [2^k, 2^(k+1)) seconds; sub-second converts land in
    bucket −1). Same first-touch MIN-per-step semantics as q_funnel, so
    the two queries tell one coherent story. floor(log2) via
    length(bin()) — integer-exact on both engines; the share is one
    division.

    Scale: one grouped aggregate to per-user step times (map-side
    combined, the only corpus pass), then a ≤~27-row histogram (2^27 s
    ≈ 4 years) and a 1-row total broadcast."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "view", F.unix_micros(F.col("ts"))
                )
            ).alias("t_view"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.unix_micros(F.col("ts")),
                )
            ).alias("t_purchase"),
        )
    )
    lat = u.filter(F.col("t_purchase") > F.col("t_view")).select(
        F.expr("(t_purchase - t_view) div 1000000").alias("lat_s")
    )
    h = lat.groupBy(
        F.when(F.col("lat_s") == 0, F.lit(-1))
        .otherwise(F.length(F.bin("lat_s")) - 1)
        .cast("int")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("lat_s").alias("min_s"),
        F.max("lat_s").alias("max_s"),
    )
    tot = h.agg(F.sum("n_users").alias("tn"))
    return h.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_users",
        "min_s",
        "max_s",
        F.round(F.col("n_users").cast("double") / F.col("tn"), 6).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# Running z-score anomaly flags (sequential baseline, integer-exact)


@query(
    "q_running_zscore_flags",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, x,
               COUNT(x) OVER w AS n,
               SUM(CAST(x AS HUGEINT)) OVER w AS sx,
               SUM(CAST(x AS HUGEINT) * x) OVER w AS sxx
        FROM e
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_scored,
           CAST(SUM(CASE WHEN n >= 10
                          AND (x * n - sx) * (x * n - sx)
                              > 9 * (n * sxx - sx * sx)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM r GROUP BY 1
    """,
)
def q_running_zscore_flags(spark, sf_dir):
    """Sequential anomaly detection — the batch replay of a streaming
    monitor: each event is scored against ITS USER'S OWN prior history
    (running count/sum/sum-of-squares over a 1-PRECEDING frame, so the
    baseline never includes the point being judged), flagged when
    |x − μ| > 3σ with ≥10 prior observations. The 3σ test runs as the
    cross-multiplied INTEGER inequality (x·n − Σx)² > 9·(n·Σx² − (Σx)²)
    — no sqrt, no float, no order-dependent reduction. Headroom: the
    binding term is the squared deviation; int128 holds while
    x_max·n_user < ~1.3e19 (max cents × one user's history length — at
    1e4-cent values that is 1e15 events per single user; beyond it,
    score in windows or bump the comparison to the double path like
    q_drift_chisq). Rolled up to per-type flag counts so the output
    stays bounded.

    Scale: ONE shuffle on user_id; the cumulative window is per user
    (parallelism = |users|, per-partition work = user history — the
    per-type variant would funnel the corpus through |types| tasks).
    The same arithmetic drops into applyInPandasWithState for the live
    streaming path with (n, Σx, Σx²) as the state triple."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.floor(F.col("value") * 100).cast("long").alias("x"),
        )
    )
    d19 = "decimal(19,0)"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    xd = F.col("x").cast(d19)
    r = e.select(
        "event_type",
        "x",
        F.count("x").over(w).alias("n"),
        F.sum(xd).over(w).alias("sx"),
        F.sum(xd * F.col("x")).over(w).alias("sxx"),
    )
    dev = F.col("x").cast(d19) * F.col("n") - F.col("sx")
    var_n2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    flagged = (F.col("n") >= 10) & (dev * dev > 9 * var_n2)
    return r.groupBy("event_type").agg(
        F.sum(F.when(F.col("n") >= 10, 1).otherwise(0))
        .cast("long")
        .alias("n_scored"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("long").alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit


_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}
_BENFORD_SQL = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD.items())
    + " END"
)


@query(
    "q_benford_digits",
    oracle=f"""
    WITH v AS (
        SELECT CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS cents
        FROM orders
    ),
    d AS (
        SELECT CAST(substr(CAST(CAST(cents AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM v WHERE cents >= 1
    ),
    h AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT SUM(n) AS tn FROM h)
    SELECT CAST(digit AS INT) AS digit,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / tn, 6) AS share,
           CAST({_BENFORD_SQL} AS DOUBLE) AS benford_expected,
           ROUND(CAST(n AS DOUBLE) / tn
                 - CAST({_BENFORD_SQL} AS DOUBLE), 6) AS deviation
    FROM h, tot
    """,
)
def q_benford_digits(spark, sf_dir):
    """Benford first-digit audit over order totals — the classic
    fabricated-data / unit-mixup signal: naturally-occurring money
    amounts spread across orders of magnitude follow
    P(d) = log10(1 + 1/d), and a column that deviates hard (uniform
    digits, spikes at 5/9) was generated, truncated, or corrupted.
    The first digit is extracted via string head of the integer cents
    (exact on both engines — no float log10 in the bucketing), counts
    are integers, and the nine Benford expectations are shared
    hard-coded literals, so the only arithmetic is two rounded
    divisions. (The fixture's synthetic uniform-ish totals deviate from
    Benford, which is exactly what the audit should report.)

    Scale: one map-side-combined 9-bucket histogram over the scan + a
    1-row total broadcast. Nothing else."""
    cents = F.col("o_totalprice").cast("decimal(18,4)") * 100
    d = (
        t(spark, sf_dir, "orders")
        .select(cents.alias("cents"))
        .filter(F.col("cents") >= 1)
        .select(
            F.substring(
                F.col("cents").cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
    )
    h = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = h.agg(F.sum("n").alias("tn"))
    expected = F.col("digit")
    benford = None
    for dig, p in _BENFORD.items():
        benford = (
            F.when(expected == dig, F.lit(p))
            if benford is None
            else benford.when(expected == dig, F.lit(p))
        )
    share = F.col("n").cast("double") / F.col("tn")
    return h.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        benford.alias("benford_expected"),
        F.round(share - benford, 6).alias("deviation"),
    )
