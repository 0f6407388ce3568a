"""Incremental corpus-pipeline runs (corpus_incremental.py): the merged
end state must equal a full recompute over the union, a replayed batch
must change NOTHING (idempotent MERGE), and the managed-table flavor
must survive both properties through real table swaps."""

from __future__ import annotations

from pyspark.sql import functions as F

from personal_data_lakehouse_spark.corpus import (
    dedup_exact_stage,
    dedup_near_stage,
    intake,
    packed_docs,
    pipeline_rollup,
    rebalance_stage,
    split_stage,
)
from personal_data_lakehouse_spark.corpus_incremental import (
    CorpusState,
    apply_increment,
    build_state,
    init_state_tables,
    run_increment,
    stage_names,
    state_rollup,
)
from personal_data_lakehouse_spark.plans.registry import t
from tests.conftest import SF_DIR


def _full_recompute_rollup(docs):
    staged = split_stage(
        rebalance_stage(dedup_near_stage(dedup_exact_stage(intake(docs))))
    )
    return pipeline_rollup(packed_docs(staged))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _build(docs):
    return build_state(docs).state


def _apply(state, batch):
    return apply_increment(state, batch).state


def _rollup(state):
    return state_rollup(state).rollup


def _split(spark, thr: int):
    docs = t(spark, SF_DIR, "documents")
    return (
        docs.filter(F.col("doc_id") < thr),
        docs.filter(F.col("doc_id") >= thr),
        docs,
    )


def test_increment_equals_full_recompute(spark):
    base, batch, docs = _split(spark, 400)
    merged = _apply(_build(base), batch)
    assert _rows(_rollup(merged)) == _rows(_full_recompute_rollup(docs))


def test_increment_replay_is_noop(spark):
    """Re-applying the SAME batch to the already-merged state inserts
    nothing in any of the five stage tables — the MERGE idempotency the
    reference's dedup-on-append contract promises."""
    base, batch, _ = _split(spark, 400)
    once = _apply(_build(base), batch)
    frames_once = {n: _rows(f) for n, f in once.items()}
    twice = _apply(once, batch)
    for name, frame in twice.items():
        assert _rows(frame) == frames_once[name], name


def test_increment_can_bridge_existing_clusters(spark):
    """A batch doc near-dup to members of TWO existing clusters must merge
    them — previously-canonical base docs LOSE the flag (the reason the
    closure is recomputed from the merged sparse state, never stored as
    append-stable).

    Fixture construction: two 12-word blocks sharing 7 words (their
    cyclic shingle sets overlap enough that the A-prefix+B-suffix bridge
    clears Jaccard 0.5 against BOTH pure-block texts, while A-vs-B stays
    below it); each cluster's pair differs by one extra repetition so it
    survives exact dedup with an IDENTICAL shingle set (every LSH band
    collides — deterministic edges). The bridge's band collisions against
    both clusters were verified once against the seed-pinned hash family
    and are deterministic forever after."""
    a_blk = (
        "kiwi elder mango umber banana cherry raisin damson lemon "
        "spruce zinnia quince "
    )
    b_blk = (
        "kiwi elder mango umber banana cherry raisin grape tulip "
        "yucca xenia olive "
    )

    def mk(rs):
        return spark.createDataFrame(rs, "doc_id bigint, text string").select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.length("text").alias("n_chars"),
            F.lit("web").alias("source"),
        )

    base = mk(
        [
            (1, a_blk * 20),
            (2, a_blk * 21),
            (10, b_blk * 20),
            (11, b_blk * 21),
            (20, "unrelated words entirely different content here okay " * 12),
        ]
    )
    batch = mk([(100, a_blk * 10 + b_blk * 10)])

    from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters

    state = _build(base)
    base_labels = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(
            state["skeleton"].select("doc_id"), state["edges"]
        ).collect()
    }
    assert base_labels[1] == (1, True) and base_labels[2] == (1, False)
    assert base_labels[10] == (10, True) and base_labels[11] == (10, False)

    merged = _apply(state, batch)
    labels = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(
            merged["skeleton"].select("doc_id"), merged["edges"]
        ).collect()
    }
    # THE MERGE: all of 1, 2, 10, 11, 100 now share one cluster id …
    assert {labels[i][0] for i in (1, 2, 10, 11, 100)} == {1}, labels
    # … and doc 10, canonical in the base state, lost the flag
    assert labels[10] == (1, False)
    # the merged end state still equals the full recompute over the union
    full = _full_recompute_rollup(base.unionByName(batch))
    assert _rows(_rollup(merged)) == _rows(full)


def test_managed_table_increment_and_replay(spark):
    """The warehouse flavor: init base tables, MERGE one increment, check
    the rollup equals the full recompute; replay the batch and check every
    stage table is row-identical (insert-only MERGE found nothing new)."""
    base, batch, docs = _split(spark, 400)
    init_state_tables(spark, base, namespace="corpinc_t")
    counts1 = run_increment(spark, batch, namespace="corpinc_t")

    def tables():
        return CorpusState(
            {
                n: spark.read.table(f"corpinc_t.{n}")
                for n in stage_names(False)
            }
        )

    assert _rows(_rollup(tables())) == _rows(_full_recompute_rollup(docs))

    before = {n: _rows(f) for n, f in tables().items()}
    counts2 = run_increment(spark, batch, namespace="corpinc_t")
    assert counts2 == counts1
    after = {n: _rows(f) for n, f in tables().items()}
    assert after == before


def test_increment_matches_rebuild_on_random_corpora(spark):
    """Property (seeded): on random small-vocab corpora — duplicate-dense
    so every stage's decision branch fires — splitting at a random point
    and incrementing must reproduce the full-recompute rollup, and a
    replay must change nothing. Catches split-boundary classes the
    fixture split never hits (empty batch, batch-only corpus, all-dup
    batch)."""
    import random

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(30)]

    def rand_doc(i):
        # heavy duplication: half the docs are near-copies of a template
        base = rng.randrange(6)
        words = [vocab[(base * 5 + k) % len(vocab)] for k in range(12)]
        reps = rng.randrange(8, 14)
        txt = (" ".join(words) + " ") * reps
        if rng.random() < 0.5:
            txt += vocab[rng.randrange(len(vocab))] + " extra tail"
        return (i, txt, "en", rng.choice(["web", "books", "code"]))

    # two trials keep the wall cost ~3 min; the rng seed is fixed, so
    # widening coverage later is a one-character change
    for trial in range(2):
        n = rng.randrange(12, 30)
        rows = [rand_doc(i) for i in range(n)]
        docs = spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        ).select(
            "doc_id", "text", "lang", F.length("text").alias("n_chars"), "source"
        )
        # split points include the degenerate ends: empty batch (n) and
        # everything-in-batch (0 — an empty BASE state)
        for cut in {0, rng.randrange(n + 1), n}:
            base = docs.filter(F.col("doc_id") < cut)
            batch = docs.filter(F.col("doc_id") >= cut)
            merged = _apply(_build(base), batch)
            assert _rows(_rollup(merged)) == _rows(
                _full_recompute_rollup(docs)
            ), (trial, cut)
            again = _apply(merged, batch)
            for name, frame in again.items():
                assert _rows(frame) == _rows(merged[name]), (
                    trial,
                    cut,
                    name,
                )


def test_incremental_plan_reads_only_batch_text(spark):
    """The headline scale claim — the increment never re-reads base
    text — pinned mechanically: EVERY documents-parquet scan in the
    registered query's RETURNED plan carries the batch-side pushed
    filter (doc_id >= threshold); the base corpus is served by the
    materialized state artifacts, never re-scanned. (At sf0.001 the
    threshold is 400: ids 0..499, batch = top 20% of the range.)"""
    import re

    import __spark_entry__  # noqa: F401 — registers round9_ops
    from personal_data_lakehouse_spark.plans.registry import REGISTRY

    df = REGISTRY["t_corpus_pipeline_incremental"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "documents.parquet" in ln
    ]
    assert scans, "expected at least one batch-side documents scan"
    for line in scans:
        assert re.search(r"doc_id#\d+L? >= 400", line), line[:300]


def test_chained_increments_match_rebuild(spark):
    """Two SUCCESSIVE increments (the multi-day delta sequence) must land
    on the full-recompute end state: the second batch probes a band
    index that already contains the first batch's survivors, and its
    candidates include batch2×batch1 pairs — the case a single-increment
    test never exercises."""
    docs = t(spark, SF_DIR, "documents")
    base = docs.filter(F.col("doc_id") < 300)
    b1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    b2 = docs.filter(F.col("doc_id") >= 400)
    merged = _apply(_apply(_build(base), b1), b2)
    assert _rows(_rollup(merged)) == _rows(_full_recompute_rollup(docs))
