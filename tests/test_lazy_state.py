"""Lazily-constructed merged-state frames must (a) build identical frames
to the eager merges, (b) defer construction of tables a consumer never
reads — the rollup resolves only skeleton + edges (+ sem_edges) — and
(c) keep the full-read paths (items(), the stream loop, the MERGE)
working unchanged. Plus the rollup release handles."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.corpus_incremental import (
    CorpusState,
    apply_increment,
    build_state,
    state_rollup,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def split(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    row = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    thr = int(row["hi"]) - (int(row["hi"]) - int(row["lo"])) // 5
    return (
        docs.filter(F.col("doc_id") < thr),
        docs.filter(F.col("doc_id") >= thr),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_lazy_fields_defer_and_memoize(spark):
    calls = {"fp": 0, "skeleton": 0}
    base = spark.range(1).selectExpr("id AS doc_id")

    def mk(name):
        def thunk():
            calls[name] += 1
            return base

        return thunk

    st = CorpusState(
        {
            "fp": mk("fp"),
            "shingles": base,
            "bands": base,
            "edges": base,
            "skeleton": mk("skeleton"),
        }
    )
    assert calls == {"fp": 0, "skeleton": 0}  # nothing built yet
    assert "fp" in st and "cells" not in st  # membership resolves nothing
    assert calls == {"fp": 0, "skeleton": 0}
    _ = st["skeleton"]
    assert calls == {"fp": 0, "skeleton": 1}  # only the accessed field
    _ = st["skeleton"]
    assert calls["skeleton"] == 1  # memoized
    assert set(dict(st)) == {"fp", "shingles", "bands", "edges", "skeleton"}
    assert calls == {"fp": 1, "skeleton": 1}  # a full read forces the rest


def test_state_rejects_unknown_stage_sets(spark):
    base = spark.range(1).selectExpr("id AS doc_id")
    with pytest.raises(ValueError):
        CorpusState({"fp": base, "edges": base})
    lexical = CorpusState(
        {n: base for n in ("fp", "shingles", "bands", "edges", "skeleton")}
    )
    # a lexical state takes no embeddings (and a semantic one needs them)
    with pytest.raises(ValueError):
        apply_increment(lexical, base, base, base)


def test_increment_lazy_equals_eager_merges(spark, split):
    base, batch = split
    built = build_state(base)
    inc = apply_increment(built.state, batch)
    # force every lazy field and compare against a fresh eager recompute
    # over the union (the module's own parity contract)
    full = build_state(base.unionByName(batch))
    for name, frame in inc.state.items():
        assert _rows(frame) == _rows(full.state[name]), name
    assert _rows(state_rollup(inc.state).rollup) == _rows(
        state_rollup(full.state).rollup
    )
    inc.release()
    built.release()
    full.release()
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "semantic", [False, True], ids=["lexical", "semantic"]
)
def test_rollup_resolves_only_skeleton_and_edges(spark, split, semantic):
    """The rollup over an applied increment resolves the merged skeleton
    and edges (+ sem_edges for a semantic state) and never constructs the
    fp/shingles/bands/cells merges."""
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
    )
    from personal_data_lakehouse_spark.similarity.ivf import pick_centroids

    base, batch = split
    emb = cents = None
    if semantic:
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cents = pick_centroids(emb, _CENTROID_IDS)
    built = build_state(base, emb, cents)
    inc = apply_increment(built.state, batch, emb, cents)
    res = state_rollup(inc.state)
    resolved = {
        n for n, f in inc.state._frames.items() if not callable(f)
    }
    expect = {"skeleton", "edges"} | ({"sem_edges"} if semantic else set())
    assert resolved == expect
    res.release()
    inc.release()
    built.release()
    spark.catalog.clearCache()


def test_rollup_release_path(spark, split):
    base, _batch = split
    built = build_state(base)
    res = state_rollup(built.state)
    n_before = len(
        [r for r in res.persisted if r.storageLevel.useMemory]
    )
    assert n_before == 2  # merged skeleton + canonical survivors
    res.rollup.write.format("noop").mode("overwrite").save()
    res.release()
    assert all(not f.storageLevel.useMemory for f in res.persisted)
    built.release()
    spark.catalog.clearCache()
