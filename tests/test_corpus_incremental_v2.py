"""Semantic-stage incremental corpus pipeline (a corpus_incremental.
CorpusState built with embeddings): the merged seven-table end state must
equal a full v2 recompute over the union, a replayed batch must change
nothing, the closure must merge clusters ACROSS the lexical and semantic
edge families, and the batch-only work claims must hold in the executed
plan — the lexical suite's proof technique applied to the semantic
stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from personal_data_lakehouse_spark.corpus_incremental import (
    STATE_KEYS,
    CorpusState,
    apply_increment,
    build_state,
    init_state_tables,
    run_increment,
    stage_names,
    state_rollup,
)
from personal_data_lakehouse_spark.plans.registry import t
from personal_data_lakehouse_spark.plans.similarity_ops import _CENTROID_IDS
from personal_data_lakehouse_spark.similarity.ivf import pick_centroids
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _build(docs, emb, cents):
    return build_state(docs, emb, cents).state


def _apply(state, batch, emb, cents):
    return apply_increment(state, batch, emb, cents).state


def _rollup(state):
    return state_rollup(state).rollup


def _fixture(spark, thr: int):
    docs = t(spark, SF_DIR, "documents")
    emb = t(spark, SF_DIR, "embeddings")
    cents = pick_centroids(emb, _CENTROID_IDS)
    return (
        docs.filter(F.col("doc_id") < thr),
        docs.filter(F.col("doc_id") >= thr),
        docs,
        emb,
        cents,
    )


def test_v2_increment_equals_full_recompute(spark):
    base, batch, docs, emb, cents = _fixture(spark, 400)
    merged = _apply(
        _build(base, emb, cents),
        batch,
        # the batch's vectors pre-filtered to the batch range, as the
        # registered query passes them (values identical either way —
        # the cell builder inner-joins survivor ids)
        emb.filter(F.col("vec_id") >= 400),
        cents,
    )
    rebuild = _build(docs, emb, cents)
    assert _rows(_rollup(merged)) == _rows(_rollup(rebuild))


def test_v2_increment_replay_is_noop(spark):
    """Re-applying the SAME batch inserts nothing in any of the SEVEN
    stage tables — the replayed batch's fingerprints are all in the
    ledger, so no survivor reaches the semantic stage either."""
    base, batch, _, emb, cents = _fixture(spark, 400)
    emb_b = emb.filter(F.col("vec_id") >= 400)
    once = _apply(_build(base, emb, cents), batch, emb_b, cents)
    frames_once = {n: _rows(f) for n, f in once.items()}
    assert set(frames_once) == set(STATE_KEYS)
    twice = _apply(once, batch, emb_b, cents)
    for name, frame in twice.items():
        assert _rows(frame) == frames_once[name], name


def test_v2_chained_increments_match_rebuild(spark):
    """Two successive v2 increments land on the rebuild end state: the
    second batch probes a cell index that already contains the first
    batch's survivors (batch2×batch1 semantic pairs — the case one
    increment never exercises)."""
    docs = t(spark, SF_DIR, "documents")
    emb = t(spark, SF_DIR, "embeddings")
    cents = pick_centroids(emb, _CENTROID_IDS)
    base = docs.filter(F.col("doc_id") < 300)
    b1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    b2 = docs.filter(F.col("doc_id") >= 400)
    s1 = _apply(
        _build(base, emb, cents),
        b1,
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        cents,
    )
    s2 = _apply(s1, b2, emb.filter(F.col("vec_id") >= 400), cents)
    rebuild = _build(docs, emb, cents)
    assert _rows(_rollup(s2)) == _rows(_rollup(rebuild))


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string").select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.length("text").alias("n_chars"),
        F.lit("web").alias("source"),
    )


def _mk_emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_v2_closure_bridges_lexical_and_semantic_families(spark):
    """A doc lexically near A and semantically near B must fuse A's and
    B's clusters — the cross-family merge only the UNIFIED closure sees
    (lexical-only gives {1,2}+{10}; semantic-only gives {2,10}+{1}).

    Fixture: docs 1 and 2 are text near-dups (the pinned a-block family
    from test_corpus_incremental — identical shingle sets, every band
    collides); doc 10's text is unrelated; embeddings put 2 and 10 at
    cosine ≈ 0.994 (≥ 0.3) while 1 is orthogonal to both; one synthetic
    centroid puts everything in one cell."""
    a_blk = (
        "kiwi elder mango umber banana cherry raisin damson lemon "
        "spruce zinnia quince "
    )
    docs = _mk_docs(
        spark,
        [
            (1, a_blk * 20),
            (2, a_blk * 21),
            (10, "unrelated words entirely different content here okay " * 12),
        ],
    )
    emb = _mk_emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (10, [0.0, 0.9, 0.1, 0.0]),
            (99, [1.0, 1.0, 1.0, 1.0]),  # the one-cell codebook vector
        ],
    )
    cents = pick_centroids(emb, [99])
    state = _build(docs, emb, cents)

    assert _rows(state["edges"]) == [(1, 2)]
    assert _rows(state["sem_edges"]) == [(2, 10)]

    from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters

    merged_edges = state["edges"].unionByName(state["sem_edges"])
    labels = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(
            state["skeleton"].select("doc_id"), merged_edges
        ).collect()
    }
    assert labels == {1: (1, True), 2: (1, False), 10: (1, False)}, labels


def test_v2_batch_can_bridge_semantic_clusters(spark):
    """A BATCH doc semantically near members of TWO existing (semantic)
    singleton clusters merges them — a previously-canonical base doc
    loses the flag, proving the semantic closure is recomputed from the
    merged sparse state, never stored as append-stable."""
    blk1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 2
    blk2 = "lambda mu nu xi omicron pi rho sigma tau upsilon " * 2
    blk3 = "phi chi psi omega aleph beth gimel daleth he waw " * 2
    base = _mk_docs(spark, [(1, blk1 * 10), (10, blk2 * 10)])
    batch = _mk_docs(spark, [(100, blk3 * 10)])
    emb = _mk_emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (10, [0.0, 1.0, 0.0, 0.0]),  # cos(1,10) = 0 < 0.3
            (100, [1.0, 0.9, 0.1, 0.0]),  # cos ≈ .74 / .67 to both
            (99, [1.0, 1.0, 1.0, 1.0]),
        ],
    )
    cents = pick_centroids(emb, [99])

    from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters

    state = _build(base, emb, cents)
    assert _rows(state["sem_edges"]) == []  # two semantic singletons

    merged = _apply(state, batch, emb, cents)
    assert _rows(merged["sem_edges"]) == [(1, 100), (10, 100)]
    labels = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(
            merged["skeleton"].select("doc_id"),
            merged["edges"].unionByName(merged["sem_edges"]),
        ).collect()
    }
    # the bridge fused everything into cluster 1; base doc 10 lost the flag
    assert labels == {1: (1, True), 10: (1, False), 100: (1, False)}, labels
    # and the merged end state equals the v2 rebuild over the union
    rebuild = _build(base.unionByName(batch), emb, cents)
    assert _rows(_rollup(merged)) == _rows(_rollup(rebuild))


def test_v2_increment_matches_rebuild_on_random_corpora(spark):
    """Property (seeded): random duplicate-dense corpora with random
    clustered embeddings — split at random points (including the
    degenerate ends) and check increment == rebuild plus replay-noop.
    Covers split boundaries the fixture split never hits, with BOTH edge
    families active (template texts → lexical dups; template directions
    + noise → semantic near/far mixes)."""
    import random

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(30)]
    dirs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.7, 0.7, 0.0, 0.0],
    ]

    def rand_doc(i):
        tmpl = rng.randrange(6)
        words = [vocab[(tmpl * 5 + k) % len(vocab)] for k in range(12)]
        txt = (" ".join(words) + " ") * rng.randrange(8, 14)
        if rng.random() < 0.5:
            txt += vocab[rng.randrange(len(vocab))] + " extra tail"
        return (i, txt, "en", rng.choice(["web", "books", "code"]))

    def rand_vec(i):
        d = dirs[rng.randrange(len(dirs))]
        return (i, [x + rng.uniform(-0.2, 0.2) for x in d])

    for trial in range(2):
        n = rng.randrange(12, 30)
        docs = spark.createDataFrame(
            [rand_doc(i) for i in range(n)],
            "doc_id bigint, text string, lang string, source string",
        ).select(
            "doc_id", "text", "lang", F.length("text").alias("n_chars"), "source"
        )
        emb = _mk_emb(
            spark,
            [rand_vec(i) for i in range(n)]
            + [(1000, [1.0, 1.0, 0.0, 0.0]), (1001, [0.0, 0.0, 1.0, 1.0])],
        )
        cents = pick_centroids(emb, [1000, 1001])
        rebuild = _build(docs, emb, cents)
        for cut in {0, rng.randrange(n + 1), n}:
            base = docs.filter(F.col("doc_id") < cut)
            batch = docs.filter(F.col("doc_id") >= cut)
            merged = _apply(
                _build(base, emb, cents), batch, emb, cents
            )
            assert _rows(_rollup(merged)) == _rows(
                _rollup(rebuild)
            ), (trial, cut)
            again = _apply(merged, batch, emb, cents)
            for name, frame in again.items():
                assert _rows(frame) == _rows(merged[name]), (
                    trial,
                    cut,
                    name,
                )


def test_v2_incremental_plan_reads_only_batch_text_and_vectors(spark):
    """The v2 scale claims pinned mechanically: in every MERGED STATE
    frame's executed plan (the artifact-backed increment — base data is
    served by the seven materialized stage tables), every documents scan
    carries the batch-side pushed filter (doc_id >= 400) and every
    embeddings scan carries either the batch-range filter (vec_id >= 400
    — only batch vectors are read/assigned) or the 8-id codebook filter
    (the broadcast centroids). Asserted on the state frames rather than
    the registered query's rollup because the adaptive closure COLLECTS
    the sparse edge table at plan build (driver union-find → broadcast
    LocalTableScan), which correctly removes the probe lineage from the
    returned plan."""
    import re

    import __spark_entry__  # noqa: F401 — registers round9_ops
    from personal_data_lakehouse_spark.plans import round9_ops
    from personal_data_lakehouse_spark.plans.registry import t as t_

    docs = t_(spark, SF_DIR, "documents")
    emb = t_(spark, SF_DIR, "embeddings")
    cents = pick_centroids(emb, _CENTROID_IDS)
    base = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    state = round9_ops._materialized_base_state(
        spark, SF_DIR, base, emb, cents
    )
    merged = _apply(state, batch, emb.filter(F.col("vec_id") >= 400), cents)
    saw_doc_scan = saw_emb_scan = False
    for name, frame in merged.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "FileScan" not in line:
                continue
            if "documents.parquet" in line:
                saw_doc_scan = True
                assert re.search(r"doc_id#\d+L? >= 400", line), (
                    name,
                    line[:300],
                )
            if "embeddings.parquet" in line:
                saw_emb_scan = True
                assert re.search(r"vec_id#\d+L? >= 400", line) or re.search(
                    r"vec_id#\d+L? IN \(", line
                ), (name, line[:300])
    assert saw_doc_scan, "expected at least one batch-side documents scan"
    assert saw_emb_scan, "expected at least one embeddings scan"


def test_v2_stream_increments_match_full_recompute(spark):
    """The registered v2 STREAM query (three chained foreachBatch
    increments over the checkpointed seven-table state) lands exactly on
    the full-recompute sibling's rows — the Spark-side half of the
    shared-oracle claim, pinned engine-vs-engine so a stream-specific
    regression (checkpoint reconstruction, delivery order, per-batch
    probe) fails here without needing the differential driver."""
    import __spark_entry__  # noqa: F401 — registers round10_ops
    from personal_data_lakehouse_spark.plans.registry import REGISTRY

    streamed = REGISTRY["t_stream_corpus_increments_v2"].fn(spark, SF_DIR)
    rebuilt = REGISTRY["t_corpus_pipeline_sem_e2e"].fn(spark, SF_DIR)
    assert _rows(streamed) == _rows(rebuilt)


def test_v2_managed_table_increment_and_replay(spark):
    """The warehouse flavor of the SEMANTIC state: init the seven base
    tables, MERGE one increment, check the rollup equals the full v2
    recompute; replay the batch and check every stage table — including
    cells and sem_edges — is row-identical (insert-only MERGE found
    nothing new)."""
    base, batch, docs, emb, cents = _fixture(spark, 400)
    emb_batch = emb.filter(F.col("vec_id") >= 400)
    init_state_tables(spark, base, emb, cents, namespace="corpinc2_t")
    counts1 = run_increment(
        spark, batch, emb_batch, cents, namespace="corpinc2_t"
    )

    def tables():
        return CorpusState(
            {
                n: spark.read.table(f"corpinc2_t.{n}")
                for n in stage_names(True)
            }
        )

    rebuild = _build(docs, emb, cents)
    assert _rows(_rollup(tables())) == _rows(_rollup(rebuild))

    before = {n: _rows(f) for n, f in tables().items()}
    counts2 = run_increment(
        spark, batch, emb_batch, cents, namespace="corpinc2_t"
    )
    assert counts2 == counts1
    after = {n: _rows(f) for n, f in tables().items()}
    assert after == before
