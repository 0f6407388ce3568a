"""Incremental corpus-pipeline runs: MERGE a new-docs batch through the
full intake → exact-dedup → near-dedup funnel against EXISTING stage
tables, with the merged end state provably equal to a full recompute
over the union.

This is the reference's defining semantic — watermark-incremental
processing (pipelines/stock_api/transforme_stock_silver.py:41-97) and
dedup-on-append MERGE (ingest_stocks.py:84-100) — applied to the
capstone ``corpus.corpus_pipeline``: a daily crawl delta must flow
through the same gates and dedup decisions WITHOUT re-shingling or
re-fingerprinting the existing corpus.

The persisted state is ONE ``CorpusState``: a mapping from stage name
(``STATE_KEYS``) to its table. The five LEXICAL stages are always
present:

* ``fp``        — (fp, keep_id): the exact-dedup fingerprint ledger;
* ``shingles``  — (doc_id, shingles): the LSH Jaccard-verify side;
* ``bands``     — (doc_id, band, bucket): the LSH band probe index;
* ``edges``     — (id_a, id_b): verified near-dup edges (id_a < id_b);
* ``skeleton``  — (doc_id, source, tok): exact-kept survivors with
  their stored whitespace-token counts — every downstream stage
  (closure, rebalance, split, pack, rollup) runs on this id+int
  skeleton, never re-reading text.

The two SEMANTIC stages are present exactly when the caller passes
embeddings and centroids to ``build_state`` (and then to every
``apply_increment``):

* ``cells``     — (doc_id, e array<float>, _vn double, cell): the IVF
  cell index over exact-kept survivors' embeddings — vector + its
  precomputed norm stored WITH the cell id, exactly what the probe needs
  (the online admit loop's sink carries the same columns,
  round9_ops._V2_DEC_SCHEMA);
* ``sem_edges`` — (id_a, id_b): verified semantic near-dup edges
  (rounded cosine ≥ ``SEM_THRESHOLD``, id_a < id_b); the derived
  closure then runs over lexical ∪ semantic edges.

Incrementality contract (the append-only id invariant): every batch
doc_id must EXCEED every id already in the state. Under that invariant
the merged state equals the state a full rebuild over (base ∪ batch)
would produce, because every pipeline decision is a min-id/threshold
function that appends cannot retro-flip at the STAGE-TABLE level:

* exact dedup keeps MIN doc_id per fingerprint — a later id can never
  displace a stored keeper, so the ledger only gains rows (insert-only
  MERGE), and a batch doc whose fp is already in the ledger is dropped
  exactly as the full rebuild drops it;
* LSH banding and cell assignment are pure per-document functions — the
  stored band/cell rows for base docs are what a rebuild would
  recompute; new candidate pairs are exactly the pairs a rebuild would
  add (batch×corpus via the stored index, batch×batch via self-join),
  so both edge tables also only gain rows;
* what CAN flip is the DERIVED canonical decision (a batch doc bridging
  two existing clusters — lexical, semantic, or one of each — merges
  them, re-pointing cluster minima) and the rebalance thresholds
  (global per-source counts move) — so those are recomputed from the
  merged SPARSE state (edge closure + skeleton counts) per run, never
  stored as if append-stable.

Work per increment: O(batch text) for gates/fingerprints/shingles,
O(batch vectors) for cell assignment, O(new candidate pairs) for
verification, O(total edges) for the closure (the adaptive
``dedup_clusters`` closure — edges are the sparse edge-incident subgraph,
not the corpus), O(survivor ids) for rebalance/split/pack. The 100 TB
corpus' TEXT and vectors are touched exactly once per document, at the
increment that ingested it.

Reference parity: transforme_stock_silver.py:41-97 (incremental filter),
ingest_stocks.py:84-100 (MERGE dedup-on-append); SURVEY.md §2 P3/J1/J2
composed with the LLM-pipeline extension family.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.corpus import (
    dedup_exact_stage,
    intake,
    packed_docs,
    pipeline_rollup,
    rebalance_stage,
    split_stage,
)
from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
from personal_data_lakehouse_spark.dedup.exact import exact_dedup
from personal_data_lakehouse_spark.dedup.minhash import lsh_index
from personal_data_lakehouse_spark.functions.text import (
    token_count_whitespace,
)
from personal_data_lakehouse_spark.operators.merge import merge_insert_only

NEAR_THRESHOLD = 0.5  # verified-Jaccard keep bound, same as corpus.py

SEM_THRESHOLD = 0.3
"""Rounded-cosine keep bound for semantic edges. 0.3 (vs the standalone
``t_semdedup_clusters``' 0.4) so the fixture exercises BOTH incremental
pair generators naturally at both differential-gate SFs — measured over
the exact-kept survivors: batch×corpus bridges 46 (sf0.001) / 48
(sf0.01) and batch×batch pairs 5 / 5 at 0.3, versus 5 / 3 bridges and
ZERO batch×batch pairs at 0.4 (the v2-admit threshold precedent,
plans/round9_ops.py:157)."""

# MERGE keys per stage table (all insert-only: see module docstring for
# why the stored tables only ever gain rows under the append-only id
# invariant — derived decisions that CAN flip are recomputed, not
# stored). The lexical stages come first; the semantic ones start at
# ``cells`` (see ``stage_names``).
STATE_KEYS: dict[str, list[str]] = {
    "fp": ["fp"],
    "shingles": ["doc_id"],
    "bands": ["doc_id", "band"],
    "edges": ["id_a", "id_b"],
    "skeleton": ["doc_id"],
    "cells": ["doc_id"],
    "sem_edges": ["id_a", "id_b"],
}


def stage_names(semantic: bool) -> list[str]:
    """The stages a state carries: all of ``STATE_KEYS`` when it has the
    semantic stage, the lexical prefix before ``cells`` otherwise."""
    names = list(STATE_KEYS)
    return names if semantic else names[: names.index("cells")]


class CorpusState(Mapping[str, DataFrame]):
    """The persisted stage tables of an incremental corpus deploy, keyed
    by stage name — the lexical five, plus ``cells``/``sem_edges`` for a
    semantic state.

    A value may be a ZERO-ARG THUNK, resolved and memoized on first read.
    Every DataFrame operation pays Catalyst analysis at construction, so
    building all merged-state frames per increment would charge
    consumers that read only a subset: the rollup reads skeleton + edges
    (+ sem_edges), never fp/shingles/bands/cells. Consumers that read
    everything (``items()`` — the stream loop's checkpoint barrier, the
    managed-table MERGE) resolve each thunk once."""

    def __init__(
        self, frames: Mapping[str, DataFrame | Callable[[], DataFrame]]
    ):
        if list(frames) not in (stage_names(False), stage_names(True)):
            raise ValueError(f"not a corpus state: {list(frames)}")
        self._frames = dict(frames)

    def __getitem__(self, name: str) -> DataFrame:
        frame = self._frames[name]
        if callable(frame):
            frame = self._frames[name] = frame()
        return frame

    def __contains__(self, name: object) -> bool:
        # membership must not resolve a thunk (Mapping's default does)
        return name in self._frames

    def __iter__(self):
        return iter(self._frames)

    def __len__(self) -> int:
        return len(self._frames)


@dataclass
class IncrementResult:
    """A built or merged state plus the INTERNAL frames it persisted
    (gated corpus / exact-kept survivors / LSH doc aggregate / cell
    index), so callers can ``unpersist()`` them once the state has been
    materialized — a loop of increments on an unbounded stream otherwise
    accretes one cached frame set per batch."""

    state: CorpusState
    persisted: list[DataFrame]

    def release(self) -> None:
        """Unpersist the internal caches. Call only AFTER the state has
        been materialized (localCheckpoint / table write) — the state's
        frames' lineage reads through these caches."""
        for frame in self.persisted:
            frame.unpersist()


@dataclass
class RollupResult:
    """``state_rollup``'s return: the rollup frame plus the derived-stage
    chain's internal persists (merged skeleton + canonical survivors),
    releasable once the caller has materialized the rollup. Registered
    queries rely on the harness clearCache contract; LOOPING callers
    must ``release()`` after their barrier or one cached frame pair
    accretes per call."""

    rollup: DataFrame
    persisted: list[DataFrame]

    def release(self) -> None:
        for frame in self.persisted:
            frame.unpersist()


def _skeleton(kept: DataFrame) -> DataFrame:
    return kept.select(
        "doc_id",
        "source",
        token_count_whitespace("text").alias("tok"),
    )


def _band_pairs(banded: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs of documents in ``banded`` that
    collide in some LSH band bucket."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
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
    )


def _verified_pairs(
    pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (id_a, id_b) pairs,
    id_a's shingles looked up in ``sh_a`` and id_b's in ``sh_b`` — the
    same round-then-compare expression ``dedup_near_stage`` filters on,
    so incremental and full-rebuild edges agree bit-exactly."""
    cand = pairs.join(
        sh_a.select(
            F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
        ),
        "id_a",
    ).join(
        sh_b.select(
            F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    j = F.round(inter.cast("double") / union, 6)
    return cand.filter(j >= F.lit(threshold)).select("id_a", "id_b")


def _doc_cells(
    kept: DataFrame, emb: DataFrame, cents: DataFrame
) -> DataFrame:
    """PERSISTED cell-index rows for the given survivors: join doc_id ↔
    the embeddings table's vec_id (the fixture's 1:1 document-embedding
    key), then the standard nearest-centroid assignment (broadcast
    codebook, ``similarity.ivf.assign_cells`` — norms materialized
    once). Persisted (coalesce-first) because the pair self-join reads
    it twice and the cells MERGE once more. Documents without an
    embedding row simply contribute no semantic edges."""
    from personal_data_lakehouse_spark.similarity.ivf import assign_cells

    vecs = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("e")
    ).join(kept.select("doc_id"), "doc_id")
    npart = kept.sparkSession.sparkContext.defaultParallelism
    return assign_cells(vecs, cents, "doc_id", "e").coalesce(npart).persist()


def _sem_pairs(a_cells: DataFrame, b_cells: DataFrame) -> DataFrame:
    """Cell-local verified semantic pairs between two cell-index frames
    (id_a from ``a_cells`` < id_b from ``b_cells``): one dot per pair
    against the stored norms, round(·, 6) ≥ SEM_THRESHOLD — the same
    arithmetic contract as ``ivf_blocked_neardup`` and the DuckDB
    oracle's ``_cos`` fragment."""
    from personal_data_lakehouse_spark.similarity.brute_force import dot_expr

    a = a_cells.select(
        "cell",
        F.col("doc_id").alias("id_a"),
        F.col("e").alias("va"),
        F.col("_vn").alias("_na"),
    )
    b = b_cells.select(
        "cell",
        F.col("doc_id").alias("id_b"),
        F.col("e").alias("vb"),
        F.col("_vn").alias("_nb"),
    )
    sim = F.round(
        F.expr(dot_expr("va", "vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= F.lit(SEM_THRESHOLD))
        .select("id_a", "id_b")
    )


def build_state(
    docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> IncrementResult:
    """Full pipeline run over the BASE corpus, returning the stage tables
    an incremental deployment persists. One-time (or backfill) cost.

    With ``emb``/``cents`` the state also carries the semantic stages:
    the cell index over the exact-kept survivors and their base×base
    semantic edges. ``persisted`` holds the build's internal caches —
    release them after the tables are written/checkpointed."""
    # persist the gated corpus and the exact-kept survivors — ``base``
    # feeds the fingerprint ledger branch AND both sides of the
    # exact-dedup join-back, ``kept`` feeds the LSH index build, the
    # skeleton and the cell assignment; unpersisted, each branch re-ran
    # the corpus intake/fingerprint text work
    base = intake(docs).persist()
    fp = exact_dedup(base).select("fp", "keep_id")
    kept = dedup_exact_stage(base).persist()
    lsh_docs, banded = lsh_index(kept)
    shingles = lsh_docs.select("doc_id", "shingles")
    frames = {
        "fp": fp,
        "shingles": shingles,
        "bands": banded.select("doc_id", "band", "bucket"),
        # verified base×base edges from the same single index build
        "edges": _verified_pairs(
            _band_pairs(banded), shingles, shingles, NEAR_THRESHOLD
        ),
        "skeleton": _skeleton(kept),
    }
    persisted = [lsh_docs, base, kept]
    if emb is not None:
        cells = _doc_cells(kept, emb, cents)
        frames.update(cells=cells, sem_edges=_sem_pairs(cells, cells))
        persisted.append(cells)
    return IncrementResult(state=CorpusState(frames), persisted=persisted)


def apply_increment(
    state: Mapping[str, DataFrame],
    batch_docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
    threshold: float = NEAR_THRESHOLD,
) -> IncrementResult:
    """Process ONE new-docs batch against the existing state and return
    the MERGED state (every stage table via insert-only MERGE) plus the
    increment's internal persists (see ``IncrementResult``).

    Only the batch's text is gated/fingerprinted/shingled; the corpus
    side is the stored index. A semantic state (one with ``cells``)
    needs the batch's ``emb`` and the ``cents`` codebook: the batch's
    exact-kept survivors are assigned cells and probed against the
    STORED cell index (batch×corpus, cell-local) and against themselves
    (batch×batch); corpus vectors are never re-read — their stored
    (vector, norm, cell) rows ARE the probe side.

    Idempotent: re-applying a batch whose fingerprints are already in
    the ledger inserts nothing anywhere (the replay property
    ``tests/test_corpus_incremental.py`` pins)."""
    from personal_data_lakehouse_spark.functions.text import fingerprint

    if ("cells" in state) != (emb is not None):
        raise ValueError(
            "pass emb/cents exactly when the state has the semantic stages"
        )
    b_in = intake(batch_docs)
    # exact dedup vs the ledger: fingerprints already present keep their
    # stored (smaller-id) keeper; genuinely new fingerprints keep the
    # batch-min id — together exactly the union's min-id-per-fp rule.
    b_fpd = b_in.withColumn("fp", fingerprint("text"))
    # persist the anti-joined batch: the fp-ledger merge (via b_keep)
    # and the survivor join both consume it, and each unpersisted
    # consumer re-ran the batch intake gates + text fingerprint + ledger
    # anti-join
    b_new = b_fpd.join(state["fp"].select("fp"), "fp", "left_anti").persist()
    b_keep = b_new.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    # persist the batch's exact-kept survivors — consumed by the LSH
    # index build, the skeleton merge and the cell assignment;
    # unpersisted, each consumer re-ran the batch text work
    b_kept = (
        b_new.join(b_keep.select(F.col("keep_id").alias("doc_id")), "doc_id")
        .drop("fp")
        .persist()
    )

    # LSH: index the batch survivors only; probe stored bands for
    # batch×corpus candidates, self-join for batch×batch.
    b_docs, b_banded = lsh_index(b_kept)
    b_sh = b_docs.select("doc_id", "shingles")
    bc = (
        state["bands"].select(
            F.col("doc_id").alias("id_a"), "band", "bucket"
        )
        .join(
            b_banded.select(F.col("doc_id").alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        # under the append-only contract every stored id < every batch id,
        # so this filter is a no-op — it is defense in depth against a
        # CONTRACT VIOLATION (a replayed/overlapping batch whose ids are
        # already in the band index) manufacturing self-edges
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # bc (corpus id_a) and the batch×batch pairs are disjoint by the
    # append-only id invariant, so plain unionByName — no dedup shuffle
    new_edges = _verified_pairs(
        bc.unionByName(_band_pairs(b_banded)),
        state["shingles"].unionByName(b_sh),
        b_sh,
        threshold,
    )

    # per-stage insert thunks; each merged frame is a thunk too, so a
    # consumer pays Catalyst analysis only for the tables it reads
    inserts: dict[str, Callable[[], DataFrame]] = {
        "fp": lambda: b_keep,
        "shingles": lambda: b_sh,
        "bands": lambda: b_banded.select("doc_id", "band", "bucket"),
        "edges": lambda: new_edges,
        "skeleton": lambda: _skeleton(b_kept),
    }
    persisted = [b_docs, b_new, b_kept]
    if emb is not None:
        b_cells = _doc_cells(b_kept, emb, cents)
        # batch×corpus (the stored index is the id_a side — every stored
        # id is smaller under the append-only invariant; the id_a < id_b
        # filter doubles as the contract-violation defense above) and
        # batch×batch. Disjoint by the invariant → plain union, no dedup.
        inserts["cells"] = lambda: b_cells
        inserts["sem_edges"] = lambda: _sem_pairs(
            state["cells"], b_cells
        ).unionByName(_sem_pairs(b_cells, b_cells))
        persisted.append(b_cells)
    merged = CorpusState(
        {
            n: lambda n=n, ins=ins: merge_insert_only(
                state[n], ins(), STATE_KEYS[n]
            )
            for n, ins in inserts.items()
        }
    )
    return IncrementResult(state=merged, persisted=persisted)


def state_rollup(
    state: Mapping[str, DataFrame], budget: int = 512
) -> RollupResult:
    """Recompute the DERIVED pipeline decisions from the merged state and
    roll up the end state per (source, split) — the same hashed surface
    as ``t_corpus_pipeline_e2e`` (``corpus.pipeline_rollup``).

    Derived per run because appends CAN flip them: the near-dup closure
    (a batch doc may bridge two existing clusters, re-pointing cluster
    minima — previously-canonical base docs lose the flag) and the
    temperature-rebalance thresholds (global per-source counts moved).
    The closure runs over the lexical edges, unioned (distinct — a pair
    can be near in both senses) with ``sem_edges`` when the state has
    them; the rest runs on the id+int skeleton — no text and no vectors
    are read, and fp/shingles/bands/cells are never resolved."""
    # persist the merged skeleton — both the closure's roster (the
    # corpus-side left join in dedup_clusters) and the survivor join
    # consume it, and each consumer's merge subtree otherwise re-scans
    # the skeleton artifact; id+int rows, survivor-count-sized
    skel = state["skeleton"].persist()
    edges = state["edges"]
    if "sem_edges" in state:
        edges = edges.unionByName(state["sem_edges"]).dropDuplicates(
            ["id_a", "id_b"]
        )
    labels = dedup_clusters(skel.select("doc_id"), edges)
    # persist the canonical-survivor skeleton — rebalance consumes it
    # twice (count + keep-join branches), and unpersisted the chain
    # re-executed the merged-skeleton subtree once per branch
    survivors = skel.join(
        labels.filter(F.col("is_canonical")).select("doc_id"), "doc_id"
    ).persist()
    staged = split_stage(rebalance_stage(survivors))
    return RollupResult(
        rollup=pipeline_rollup(
            packed_docs(staged, budget=budget, tok_col="tok")
        ),
        persisted=[skel, survivors],
    )


# ---------------------------------------------------------------------------
# Managed-table flavor: the reference's MERGE-into-warehouse shape


def init_state_tables(
    spark: SparkSession,
    base_docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
    namespace: str = "corpus_inc",
) -> None:
    """Materialize the base state as managed stage tables under
    ``namespace`` (the production backfill) — seven tables when
    ``emb``/``cents`` are given, five otherwise."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", namespace):
        raise ValueError(f"invalid namespace {namespace!r}")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {namespace}")
    built = build_state(base_docs, emb, cents)
    for name, frame in built.state.items():
        frame.write.mode("overwrite").saveAsTable(f"{namespace}.{name}")
    built.release()  # tables written: drop the backfill's internal caches


def run_increment(
    spark: SparkSession,
    batch_docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
    namespace: str = "corpus_inc",
) -> dict[str, int]:
    """MERGE one batch into the persisted stage tables and return the
    per-table row counts after the merge (the increment's funnel). Pass
    ``emb``/``cents`` exactly when the tables were initialized with them.

    Uses ``merge_into_table`` per stage table — the reference's
    ingest_stocks.py:84-100 MERGE shape (Delta-native when delta-spark is
    on the classpath, staged-swap parquet otherwise). Idempotent: a
    replayed batch inserts nothing (every key already present).

    Cache invalidation is SCOPED to this run's own persists (an
    entry-point ``clearCache()`` would drop every cached frame
    process-wide): the only CacheManager entries an increment creates
    are its internal persists (``IncrementResult.persisted``), and
    entries of that class are the stale-plan bug — a later run's
    structurally-identical plan matched the previous run's cached entry,
    which held pre-swap file listings of the stage tables. Releasing
    them after the localCheckpoint barrier (lineage severed, so the
    merged frames no longer read through them) leaves nothing for the
    next increment to collide with, and unrelated caches the caller
    holds survive. Table-direct caches are already handled by
    ``merge_into_table``'s post-swap ``refreshTable``. With Delta on the
    classpath the transactional MERGE invalidates through its own log
    and both mechanisms are no-op safeguards.

    What the Delta path strengthens (when ``session.delta_available()``):
    (1) the staged-swap's crash window (two renames) becomes one atomic
    commit, so a concurrent reader can never observe the table under its
    ``__old``/``__staging`` name; (2) the eager source-read inside MERGE
    makes the pre-swap localCheckpoint a no-op safeguard instead of a
    correctness requirement; (3) time travel would let the replay test
    assert version N == version N+1 instead of row-set equality. The SEMANTICS
    proven here (insert-only keyed MERGE, idempotent replay, increment
    == rebuild) are identical on both paths."""
    from personal_data_lakehouse_spark.operators.merge import merge_into_table

    state = CorpusState(
        {
            n: spark.read.table(f"{namespace}.{n}")
            for n in stage_names(emb is not None)
        }
    )
    inc = apply_increment(state, batch_docs, emb, cents)
    # Sever lineage BEFORE any table swap: the merged frames read the
    # stage tables lazily BY NAME, so swapping table 1 would silently
    # change what frames 2..n compute (e.g. the edge frame re-reading an
    # already-updated fp ledger finds no new fingerprints). With Delta on
    # the classpath the native transactional MERGE reads the source
    # eagerly inside one commit and this is a no-op safeguard.
    frames = {n: f.localCheckpoint() for n, f in inc.state.items()}
    inc.release()  # checkpoint barrier passed: drop this run's caches
    counts: dict[str, int] = {}
    for name, frame in frames.items():
        # the merged frame = stored table ∪ inserts; re-merging it keyed on
        # the table's keys writes exactly the insert-only MERGE result
        merge_into_table(
            spark,
            f"{namespace}.{name}",
            frame,
            STATE_KEYS[name],
            insert_only=True,
        )
        counts[name] = spark.read.table(f"{namespace}.{name}").count()
    return counts
