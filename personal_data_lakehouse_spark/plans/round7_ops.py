"""Round-7 registered queries: the raw-text corpus on-ramp proven
end-to-end, and the streaming exact-substring probe proven batch-equal.

Both close round-6 verdict items: `read_text_docs` (io/readers.py) had
pytest coverage but no driver-hashed row wiring a raw text directory
through the intake funnel, and the streaming substring-anchor probe
(dedup/substring.py) was pytest-pinned but never oracle-hashed.

Reference capability: the reference ingests API/CSV payloads into bronze
with content-keyed MERGE dedup (pipelines/stock_api/ingest_stocks.py:61-100);
the raw-text on-ramp is the LLM-corpus analogue of that bronze intake
(files → content-addressed ids → dedup → quality gate), and the streaming
probe is the online form of the Lee-et-al substring dedup extension
(BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from personal_data_lakehouse_spark.plans.registry import query, t
from personal_data_lakehouse_spark.plans.similarity_ops import (
    _CELLS_SQL,
    _CENTROID_IDS,
    _cos,
    _N_QUERIES,
    _NEARDUP_THRESHOLD,
)

# --- shared DuckDB fragments (mirror functions.text exactly) ---------------
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

# Intake gates (documented policy, mirrored verbatim in the oracle):
# long enough to train on, enough whitespace tokens to be prose, and at
# least half the characters ASCII-alphabetic (a deliberately latin-script
# gate — the fixtures' zh documents exercise the reject path).
_MIN_CHARS = 100
_MIN_TOKENS = 10


@query(
    "q_text_intake",
    oracle=rf"""
    WITH lines AS (
        SELECT translate(text, chr(10) || chr(13), '  ') AS text
        FROM documents WHERE text IS NOT NULL
    ),
    d AS (
        SELECT md5(text) AS doc_id, text, COUNT(*) AS n_copies
        FROM lines WHERE length(text) > 0 GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len({_TOKS}) AS INT) AS n_tokens_ws,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INT)
               AS n_alpha,
           (length(text) >= {_MIN_CHARS}
            AND len({_TOKS}) >= {_MIN_TOKENS}
            AND 2 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                >= length(text)) AS admitted
    FROM d
    """,
)
def q_text_intake(spark, sf_dir):
    """Raw-text corpus intake funnel, END-TO-END from actual text FILES:
    the documents fixture is materialized as a plain-text directory (one
    doc per line, newlines collapsed — the most common LLM-training-data
    input shape), read back through ``read_text_docs`` (content-addressed
    md5 ids, provenance column, blank-line drop), exact-deduped on the
    content id, and scored through the intake quality gates
    (length / whitespace-token / latin-alpha ratios). One row per UNIQUE
    document: its duplicate count and admit/reject decision.

    The oracle recomputes the same funnel from the ``documents`` view
    directly — valid precisely BECAUSE the reader's ids are
    content-addressed: md5(line) is reproducible from the source rows,
    independent of file layout, listing order, or the temp directory
    path (nothing path-derived is emitted).

    Scale: the text source is splittable in line mode (files chop at
    maxPartitionBytes); the md5 id is a map-side expression; the funnel
    is one groupBy on the id plus map-side gate expressions — no second
    corpus shuffle, no window, no UDF. The write stage exists only to
    manufacture the file fixture, ONCE per process per sf
    (``source_fixture_dir`` — r7 verdict item 7: warm bench runs now
    time the read-side intake, not ``write.text``); a real deployment
    points ``read_text_docs`` at the crawl directory. Integer gate
    arithmetic (2·n_alpha ≥ n_chars), so no float crosses an engine
    boundary.

    Reference parity: ingest_stocks.py:61-100 (content-keyed bronze
    intake with dedup); SURVEY.md §2 S6+ (raw-text reader)."""
    from personal_data_lakehouse_spark.io.readers import read_text_docs

    raw = read_text_docs(
        spark, text_fixture(spark, sf_dir), one_doc_per="line"
    )
    return text_intake_rollup(raw)


def text_fixture(spark, sf_dir: str) -> str:
    """Manufacture-once raw-text source fixture (documents, one per line,
    newlines collapsed), SHARED by the batch and streaming intake
    queries — same path, same bytes by construction, so their parity is
    over the identical input directory (the ``jsonl_fixture`` pattern)."""
    from personal_data_lakehouse_spark.streaming.windows import (
        source_fixture_dir,
    )

    src, ready = source_fixture_dir("textintake_txt", sf_dir)
    if not ready:
        (
            t(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select(F.translate("text", "\n\r", "  ").alias("value"))
            # deterministic multi-file layout (hash of the content itself)
            # so the read-back exercises a real multi-file directory scan;
            # the output is layout-independent either way
            .repartition(8, F.col("value"))
            .write.mode("overwrite")
            .text(src)
        )
    return src


def text_intake_rollup(raw):
    """Exact dedup + quality gates over content-addressed text rows
    (``doc_id``, ``text``) — the funnel both the batch and streaming
    text-intake queries roll up through; the groupBy is on the
    content-addressed id, so the rollup is independent of how the rows
    arrived (one batch scan or many micro-batches)."""
    from personal_data_lakehouse_spark.functions.text import (
        token_count_whitespace,
    )

    per_doc = raw.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_copies"),
        # all copies of a content-addressed id carry identical text;
        # MIN is a deterministic representative pick
        F.min("text").alias("text"),
    )
    n_toks = token_count_whitespace("text")
    n_alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast(
        "int"
    )
    return per_doc.select(
        "doc_id",
        "n_copies",
        F.length("text").cast("int").alias("n_chars"),
        n_toks.alias("n_tokens_ws"),
        n_alpha.alias("n_alpha"),
        (
            (F.length("text") >= _MIN_CHARS)
            & (n_toks >= _MIN_TOKENS)
            & (n_alpha * 2 >= F.length("text"))
        ).alias("admitted"),
    )


# ---------------------------------------------------------------------------
# Streaming exact-substring probe, batch-parity-proven under the oracle

# Mirrors dedup.substring (GRAM_LEN/OCC_CAP) and the t_substring_dedup
# span algebra; the oracle enumerates positions with the same constant
# range() bound (guarded by
# tests/test_round5_ops.test_fixture_docs_stay_under_oracle_gram_pos_bound).
_SS_STREAM_PRED = "doc_id % 10 = 0"


def _stream_spans_oracle() -> str:
    from personal_data_lakehouse_spark.dedup.substring import (
        GRAM_LEN,
        OCC_CAP,
    )
    from personal_data_lakehouse_spark.plans.round5_ops import (
        _MAX_GRAM_POS,
        _SPAN_MERGE_GAP,
    )

    gram = (
        f"SELECT doc_id, 1 + k AS p, "
        f"md5(substr(text, 1 + k, {GRAM_LEN})) AS gh "
        f"FROM documents, range(0, {_MAX_GRAM_POS}) r(k) "
        f"WHERE {{pred}} AND length(text) >= {GRAM_LEN} "
        f"AND 1 + k <= length(text) - {GRAM_LEN} + 1 "
        f"AND substr(md5(substr(text, 1 + k, {GRAM_LEN})), 1, 1) = '0'"
    )
    return f"""
    WITH g AS (
        {gram.format(pred=f"NOT ({_SS_STREAM_PRED})")}
        QUALIFY COUNT(*) OVER (PARTITION BY gh) <= {OCC_CAP}
    ),
    q AS (
        {gram.format(pred=_SS_STREAM_PRED)}
    ),
    anchors AS (
        SELECT q.doc_id AS batch_id, g.doc_id AS corpus_id,
               q.p AS pb, g.p AS pa, q.p - g.p AS diff
        FROM q JOIN g USING (gh)
    ),
    runs AS (
        SELECT batch_id, corpus_id, diff, pb,
               SUM(CASE WHEN prev IS NULL OR pb - prev > {_SPAN_MERGE_GAP}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY batch_id, corpus_id, diff ORDER BY pb
                         ROWS UNBOUNDED PRECEDING) AS run
        FROM (SELECT *, LAG(pb) OVER (PARTITION BY batch_id, corpus_id,
                                      diff ORDER BY pb) AS prev
              FROM anchors)
    ),
    spans AS (
        SELECT batch_id, MIN(pb) AS s, MAX(pb) + {GRAM_LEN - 1} AS e
        FROM runs GROUP BY batch_id, corpus_id, diff, run
    ),
    iv AS (SELECT DISTINCT batch_id, s, e FROM spans),
    u AS (
        SELECT batch_id, s, e,
               SUM(CASE WHEN rmax IS NULL OR s > rmax + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY batch_id ORDER BY s, e DESC
                         ROWS UNBOUNDED PRECEDING) AS grp
        FROM (SELECT batch_id, s, e,
                     MAX(e) OVER (PARTITION BY batch_id ORDER BY s, e DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS rmax
              FROM iv)
    ),
    merged AS (
        SELECT batch_id, grp, MIN(s) AS lo, MAX(e) AS hi FROM u GROUP BY 1, 2
    )
    SELECT batch_id AS doc_id,
           COUNT(*) AS n_spans,
           SUM(hi - lo + 1) AS removable_chars
    FROM merged GROUP BY 1
    """


@query("q_stream_substring_spans", oracle=_stream_spans_oracle())
def q_stream_substring_spans(spark, sf_dir):
    """STREAMING exact-substring dedup probe proven batch-equal under the
    driver's hash: every 10th document arrives as a LIVE STREAM
    (readStream, availableNow) and is probed against the static,
    viral-capped corpus gram index (``dedup.substring.gram_index`` over
    the other 90%); the stateless anchor stream (generate/map + a
    stream-static join — state empty at any stream length) lands
    append-mode in a parquet FILE sink, and the sink's anchors are
    assembled by ``spans_from_anchors`` (run-merge on (pair,
    offset-delta), per-doc interval union) into the per-incoming-doc
    removable character mass. Must hash-equal the pure-batch SQL over the
    same stream/corpus split — every anchor selection, viral-cap, merge
    and union decision is differentially checked.

    This is online crawl dedup: documents are scored against the corpus
    AT INGEST, before admission — the streaming sibling of
    t_substring_dedup exactly as neardup_candidate_stream is to
    t_minhash_lsh_pairs.

    Scale: per-event work is O(|doc|) map-side hashing; the index join
    fans out ≤ occ_cap rows per gram by construction; anchors land
    distributed in executor-written parquet; the span-assembly windows
    run over anchor/span rows only (candidate-bounded, never corpus
    rows). In production the assembly runs per micro-batch in
    foreachBatch (anchors of one doc always share a batch — pinned by
    tests/test_streaming.py); assembling the bounded run's sink
    afterwards computes the identical result.

    Reference capability: online form of the Lee-et-al substring dedup
    north star (BASELINE.json); streaming MERGE intake parity with
    ingest_stocks.py:61-100."""
    from personal_data_lakehouse_spark.dedup.substring import (
        gram_index,
        spans_from_anchors,
        substring_anchor_stream,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_to_parquet,
        source_fixture_dir,
        stream_work_dir,
    )

    work = stream_work_dir("sspans")
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    pred = F.expr(_SS_STREAM_PRED)
    idx = gram_index(docs.filter(~pred))

    # stream SOURCE fixture is pure-function-of-fixture content: written
    # once per process per sf (the sink/checkpoint dirs above stay wiped
    # per call — a reused checkpoint would see no new data)
    src, ready = source_fixture_dir("sspans_src", sf_dir)
    if not ready:
        docs.filter(pred).write.mode("overwrite").parquet(src)
    stream_docs = spark.readStream.schema(
        "doc_id bigint, text string"
    ).parquet(src)
    anchors = drain_stream_to_parquet(
        substring_anchor_stream(stream_docs, idx), work
    )
    return spans_from_anchors(anchors).withColumnRenamed(
        "batch_id", "doc_id"
    )

# ---------------------------------------------------------------------------
# JSONL corpus on-ramp, proven end-to-end (parse + quarantine + metadata)

# Deliberately-malformed lines injected into the written fixture to prove
# the PERMISSIVE quarantine path differentially (they are not valid JSON,
# so they can never collide with a to_json output line). The oracle embeds
# their count and total length as computed constants.
_BAD_JSONL_LINES = ("{oops", "not json at all", "[3,")


@query(
    "q_jsonl_intake",
    oracle=rf"""
    WITH d AS (
        SELECT COALESCE(lang, '__null__') AS lang_bucket,
               doc_id,
               length(text) AS chars,
               len({_TOKS}) AS toks
        FROM documents
    )
    SELECT lang_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(chars) AS BIGINT) AS chars_total,
           CAST(SUM(toks) AS BIGINT) AS tokens_total
    FROM d GROUP BY 1
    UNION ALL
    SELECT '__corrupt__',
           CAST({len(_BAD_JSONL_LINES)} AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST({sum(len(b) for b in _BAD_JSONL_LINES)} AS BIGINT),
           CAST(NULL AS BIGINT)
    """,
)
def q_jsonl_intake(spark, sf_dir):
    """JSONL corpus intake, END-TO-END from actual .jsonl FILES — the
    standard LLM-training-data interchange format (one JSON object per
    line). The documents fixture is serialized with ``to_json`` (embedded
    newlines/quotes survive as escapes — the structural win over the
    raw-text on-ramp, whose line mode must collapse them), three
    deliberately-malformed lines are injected, and the directory is read
    back through ``read_jsonl_docs`` (explicit DDL schema — NO inference
    pass — PERMISSIVE parse, quarantine column). Output: the per-language
    intake rollup (doc count, id checksum, character and whitespace-token
    mass) plus the ``__corrupt__`` quarantine bucket.

    The oracle recomputes the rollup from the ``documents`` view directly
    — valid because JSON serialization is lossless for these fields — and
    embeds the injected reject lines' count/length as constants; a parser
    that dropped, duplicated, or mis-escaped ANY line (or silently
    swallowed a reject) hash-mismatches. ``id_sum`` pins the BIGINT field
    round-trip, not just the text.

    Scale: JSONL is line-splittable; parsing is JVM-side Jackson inside
    the scan; the funnel is one groupBy on a ≤|langs|+2-key bucket — no
    second corpus pass, no window, no UDF. The write stage exists only to
    manufacture the fixture, ONCE per process per sf
    (``source_fixture_dir`` — r7 verdict item 7: warm bench runs time the
    Jackson scan + rollup, not the fixture write); a real deployment
    points ``read_jsonl_docs`` at the dump directory. Reference parity:
    ingest_stocks.py:61-100 (bronze intake + quarantine gate analogue);
    SURVEY.md §2 S6+.
    """
    from personal_data_lakehouse_spark.io.readers import read_jsonl_docs

    raw = read_jsonl_docs(
        spark, jsonl_fixture(spark, sf_dir), JSONL_DOC_SCHEMA
    )
    return jsonl_intake_rollup(jsonl_doc_projection(raw))


JSONL_DOC_SCHEMA = "doc_id bigint, lang string, text string"


def jsonl_fixture(spark, sf_dir: str) -> str:
    """Manufacture-once JSONL source fixture (documents serialized with
    ``to_json`` + the injected malformed lines), SHARED by the batch and
    streaming intake queries — same path, same bytes by construction, so
    their parity is over the identical input directory."""
    from personal_data_lakehouse_spark.streaming.windows import (
        source_fixture_dir,
    )

    src, ready = source_fixture_dir("jsonlintake_jsonl", sf_dir)
    if not ready:
        jl = t(spark, sf_dir, "documents").select(
            F.to_json(F.struct("doc_id", "lang", "text")).alias("value")
        )
        bad = spark.createDataFrame(
            [(b,) for b in _BAD_JSONL_LINES], "value string"
        )
        # deterministic multi-file layout (hash of the line itself) so the
        # read-back exercises a real multi-file directory scan
        jl.unionByName(bad).repartition(8, F.col("value")).write.mode(
            "overwrite"
        ).text(src)
    return src


def jsonl_doc_projection(raw):
    """Per-row (STATELESS — runs identically in a micro-batch) intake
    projection over a PERMISSIVE-parsed JSONL frame: quarantine/lang
    bucket, id, char and whitespace-token mass."""
    from personal_data_lakehouse_spark.functions.text import (
        token_count_whitespace,
    )

    bucket = F.when(
        F.col("_corrupt").isNotNull(), F.lit("__corrupt__")
    ).otherwise(F.coalesce(F.col("lang"), F.lit("__null__")))
    return raw.select(
        bucket.alias("lang_bucket"),
        "doc_id",
        F.length(F.coalesce("text", "_corrupt")).alias("chars"),
        # explicit null guard: size(NULL) is -1 under ansi=false but
        # NULL under ansi=true, so the bare token count would be
        # SESSION-dependent on quarantined rows (caught by the strict
        # differential under the tuned session vs the vanilla driver)
        F.when(
            F.col("text").isNotNull(), token_count_whitespace("text")
        ).alias("toks"),
    )


def jsonl_intake_rollup(proj):
    """Per-language-bucket rollup over the projected rows (one groupBy;
    shared between the batch query and the streaming sink assembly)."""
    return proj.groupBy("lang_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("chars").cast("long").alias("chars_total"),
        F.sum("toks").cast("long").alias("tokens_total"),
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup decision over the embedding corpus


@query(
    "t_semdedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CELLS_SQL},
    edges AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND({_cos('a.e', 'b.e')}, 6) >= {_NEARDUP_THRESHOLD}
    ), sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ), reach(src, dst) AS (
        SELECT vec_id, vec_id FROM embeddings WHERE vec_id >= {_N_QUERIES}
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ), cc AS (
        SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT vec_id, cluster_id,
           vec_id = cluster_id AS is_canonical,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    """,
)
def t_semdedup_clusters(spark, sf_dir):
    """SEMANTIC dedup decision (the SemDeDup shape, Abbas et al. 2023):
    cluster the embedding space coarsely (IVF cells as the k-means
    stand-in), generate exact-cosine near-dup pairs ONLY within a cell,
    close them transitively, and keep one representative per semantic
    cluster — one row per corpus vector with its cluster id, the
    keep/drop flag (`is_canonical` = min vec_id of the component), and
    the cluster size. This is the embedding-space sibling of
    `t_dedup_clusters` exactly as `t_embed_neardup` is of
    `t_minhash_lsh_pairs` — pair generation and closure both reused
    unchanged, so the three dedup families (lexical LSH, semantic
    embedding, exact substring) all end in the same canonicalization
    contract.

    Scale: pair generation is cell-local (Σ|cell|², parallel per cell,
    never corpus²); the label-propagation closure shuffles only the
    edge-incident subgraph (two hops per materialized round); the corpus
    is touched once by the final labeling join. The oracle computes the
    identical closure with a recursive CTE over the same cell/cosine SQL
    the t_embed_neardup oracle uses — composed at decoration, so the
    pair predicate cannot drift between the two queries."""
    from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
    from personal_data_lakehouse_spark.similarity.ivf import (
        ivf_blocked_neardup,
        pick_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    candidates = emb.filter(F.col("vec_id") >= _N_QUERIES)
    cents = pick_centroids(emb, _CENTROID_IDS)
    pairs = ivf_blocked_neardup(
        candidates, cents, threshold=_NEARDUP_THRESHOLD
    ).select("id_a", "id_b")
    return dedup_clusters(
        candidates.select("vec_id"), pairs, id_col="vec_id"
    ).select("vec_id", "cluster_id", "is_canonical", "cluster_size")
