"""Round-10 registered queries: the SEMANTIC (embedding) stage landed in
the incremental corpus state — closing r9 VERDICT "What's missing #1".

A lexical-only incremental state (fingerprint ledger + LSH index) left
a daily-delta deployment wanting SemDeDup in the funnel to
re-embed-and-re-pair the whole corpus even though the ONLINE form of
semantic index maintenance already existed
(``round9_ops.online_semdedup_admit``). A semantic ``corpus_incremental.
CorpusState`` (built with embeddings and centroids) persists exactly the
artifacts the online loop maintains per-batch — the vector cell index
and the verified semantic edge table — and ``apply_increment`` with the
batch's embeddings runs embed-probe-verify for the BATCH only, with the
derived closure merging lexical ∪ semantic edges.

Proof technique is r9's verbatim: ONE composed full-recompute oracle
(the r8 e2e oracle extended with the semantic edge CTEs via
``round8_ops.corpus_pipeline_oracle``, composed at decoration — zero
drift) shared by the full-recompute query, the incremental query and
the stream query, plus idempotent-replay / cross-family-bridge / increment-equals-
rebuild pytests (tests/test_corpus_incremental.py).

Reference parity: the incremental-semantic generalization of
transforme_stock_silver.py:41-97 (watermark increment) +
ingest_stocks.py:84-100 (MERGE-maintained dedup key set), with the
dedup key set now a VECTOR index.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# round9_ops must be imported FIRST: this module shares its incremental
# fixtures (the materialized base state + the 80/20 id split)
import personal_data_lakehouse_spark.plans.round9_ops as round9_ops  # noqa: E501
from personal_data_lakehouse_spark.plans.registry import (
    REGISTRY,
    query,
    t,
)

# ---------------------------------------------------------------------------
# Full-recompute sibling: the v2 pipeline as ONE hashed rollup


def _sem_pipeline_oracle() -> str:
    """ONE composed oracle for the three v2 parity queries (the other two
    read it back from REGISTRY): the r8 full-recompute pipeline oracle
    with (a) the semantic cell/edge CTEs spliced in — built from the same
    ``_cos``/centroid fragments as the ``s_*`` oracles — and (b) the
    closure re-pointed at lexical ∪ semantic (UNION dedupes, matching the
    Spark side's dropDuplicates)."""
    from personal_data_lakehouse_spark.corpus_incremental import (
        SEM_THRESHOLD,
    )
    from personal_data_lakehouse_spark.plans.round8_ops import (
        corpus_pipeline_oracle,
    )
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENT_LIST,
        _cos,
    )

    extra = f"""
    sem_cells AS (
        SELECT vec_id, e, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, cid) AS crnk
            FROM (SELECT s.vec_id, s.e, c.cid, {_cos('s.e', 'c.ce')} AS csim
                  FROM (SELECT e.vec_id, e.embedding AS e FROM embeddings e
                        JOIN exact_kept k ON e.vec_id = k.doc_id) s,
                       (SELECT vec_id AS cid, embedding AS ce
                        FROM embeddings
                        WHERE vec_id IN ({_CENT_LIST})) c))
        WHERE crnk = 1
    ),
    sem_edges AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sem_cells a JOIN sem_cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND({_cos('a.e', 'b.e')}, 6) >= {SEM_THRESHOLD}
    ),
    all_edges AS (
        SELECT id_a, id_b FROM edges
        UNION
        SELECT id_a, id_b FROM sem_edges
    ),"""
    return corpus_pipeline_oracle(extra_ctes=extra, edges_src="all_edges")


@query("t_corpus_pipeline_sem_e2e", oracle=_sem_pipeline_oracle())
def t_corpus_pipeline_sem_e2e(spark, sf_dir):
    """END-TO-END corpus pipeline WITH THE SEMANTIC DEDUP STAGE, hashed as
    one rollup — the full-recompute sibling ``t_corpus_pipeline_
    incremental_v2`` must land on exactly: intake gates → exact dedup →
    LEXICAL near-dup edges (MinHash-LSH, verified Jaccard ≥ 0.5) AND
    SEMANTIC near-dup edges (survivors' embeddings IVF-cell-blocked,
    rounded cosine ≥ 0.3) → ONE transitive closure over the merged edge
    set (a doc lexically near A and semantically near B fuses A's and
    B's clusters — the cross-family merge only a unified closure sees) →
    keep cluster minima → temperature rebalance → 80/10/10 split →
    sequence packing → per-(source, split) rollup.

    This is the SemDeDup shape (Abbas et al. 2023) composed INTO the
    funnel rather than run beside it (``t_semdedup_clusters`` is the
    standalone decision): the closure unions ``corpus.dedup_near_stage``
    edges with ``corpus_incremental._sem_pairs`` edges and everything
    downstream is the shared ``state_rollup`` (the lexical and semantic
    pipelines cannot drift in the derived stages).

    Scale: inherits the audited v1 shape; the semantic addition is one
    broadcast-codebook cell assignment over survivors (map-side), Σ|cell|²
    cell-local pair work (never corpus²), and a sparse-edge union into
    the same closure. The oracle recomputes the whole composition —
    ``round8_ops.corpus_pipeline_oracle`` extended with the semantic
    CTEs built from the SAME ``_cos``/centroid fragments the ``s_*``
    oracles use.

    Reference parity: pipelines/run_pipeline.py composition +
    transforme_stock_silver.py:41-97 semantics; SURVEY §2 G1/G4 × the
    dedup/similarity extension families.
    """
    from personal_data_lakehouse_spark.corpus_incremental import (
        build_state,
        state_rollup,
    )
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
    )
    from personal_data_lakehouse_spark.similarity.ivf import pick_centroids

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    cents = pick_centroids(emb, _CENTROID_IDS)
    return state_rollup(build_state(docs, emb, cents).state).rollup


# ---------------------------------------------------------------------------
# The incremental v2 run against a materialized seven-table state

# the v2 full-recompute oracle, shared verbatim
@query(
    "t_corpus_pipeline_incremental_v2",
    oracle=REGISTRY["t_corpus_pipeline_sem_e2e"].oracle,
)
def t_corpus_pipeline_incremental_v2(spark, sf_dir):
    """INCREMENTAL corpus-pipeline run WITH THE SEMANTIC STAGE, hashed
    equal to the v2 FULL RECOMPUTE (``t_corpus_pipeline_sem_e2e``'s
    oracle, shared verbatim): the base corpus (bottom ~80% of the id
    range) is a one-time materialized SEVEN-table state — the five
    lexical tables (shared artifacts with the lexical incremental query)
    plus the vector cell index and the semantic edge table; the new-docs
    batch (top ~20%) flows through intake → exact dedup (ledger
    anti-join) → lexical near-dup (batch-only shingling, stored-band
    probe) → SEMANTIC near-dup (batch-only cell assignment, STORED cell
    index probe for batch×corpus pairs + batch×batch self-join, exact
    rounded-cosine verify) — insert-only MERGE into all seven tables —
    and the derived decisions recompute from the merged sparse state
    with the closure over lexical ∪ semantic edges. A missed semantic
    bridge (a batch doc whose vector is near an existing cluster while
    its TEXT is not), a stale cell row, or a double-counted edge all
    move the hash; both incremental pair generators fire NATURALLY at
    both gate SFs (measured: 48 batch×corpus + 5 batch×batch semantic
    pairs at sf0.01; see ``corpus_incremental.SEM_THRESHOLD``).

    Scale: the lexical contract extended to vectors — only batch text is
    read AND only batch vectors are assigned; corpus vectors are touched once
    per document lifetime (their stored (vector, norm, cell) rows ARE
    the probe side). Batch×corpus candidates are cell-local against the
    stored index (broadcast at fixture scale, hash join on cell at
    100 TB); the closure still runs on a sparse edge union. A 0.1%
    daily delta with SemDeDup in the funnel costs ~0.1% of rebuild
    embed+pair work plus sparse-state maintenance.

    Reference parity: transforme_stock_silver.py:41-97 +
    ingest_stocks.py:84-100, the dedup key set generalized to a vector
    index; the persisted artifacts are the ones the ONLINE admit loop
    (round9_ops.online_semdedup_admit) maintains per-batch.
    """
    from personal_data_lakehouse_spark.corpus_incremental import (
        apply_increment,
        state_rollup,
    )
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
    )
    from personal_data_lakehouse_spark.similarity.ivf import pick_centroids

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    thr = round9_ops._inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    cents = pick_centroids(emb, _CENTROID_IDS)
    state = round9_ops._materialized_base_state(
        spark, sf_dir, base, emb, cents
    )
    # the batch's vectors arrive WITH the batch in production; here the
    # shared embeddings fixture stands in for them, pre-filtered to the
    # batch id range so the scan is parquet-pruned (PushedFilters) — the
    # O(batch) vector claim is plan-pinned alongside the text claim
    # (tests/test_corpus_incremental.py)
    emb_batch = emb.filter(F.col("vec_id") >= thr)
    inc = apply_increment(state, batch, emb_batch, cents)
    return state_rollup(inc.state).rollup


# ---------------------------------------------------------------------------
# The v2 capstone as a LIVE DELTA STREAM — completing the v1 ↔ v2 symmetry


# base + the streamed deltas = all documents, and chained v2 increments
# must land on the rebuild end state — the sem-e2e full-recompute oracle,
# shared verbatim (three v2 parity queries, one claim, zero drift — the v1
# trio's technique)
@query(
    "t_stream_corpus_increments_v2",
    oracle=REGISTRY["t_corpus_pipeline_sem_e2e"].oracle,
)
def t_stream_corpus_increments_v2(spark, sf_dir):
    """The SEMANTIC corpus pipeline run as a LIVE STREAM OF DELTAS — the
    semantic sibling of ``t_stream_corpus_increments``, replaying the
    IDENTICAL three-file delivery (``round9_ops.delta_stream``, shared
    fixture: mtime order = id order under ``maxFilesPerTrigger=1``)
    against the seven-table base state, with every micro-batch MERGEd
    through the full lexical funnel AND the semantic stage
    (``corpus_incremental.apply_increment`` with the batch's embeddings:
    batch-only shingling + stored-band probe, batch-only cell assignment
    + STORED cell-index probe, insert-only MERGE into all seven tables).
    ``streaming.windows.carry_state_stream`` checkpoints the carried
    state per batch (seven eager checkpoints submitted concurrently —
    ~one job barrier of wall) so neither the logical plans nor executor
    storage grow with stream length (the batch LSH aggregate and batch
    cell index release after the barrier). The final state's rollup must
    hash-equal the v2 FULL-RECOMPUTE oracle over all documents: three
    chained increments, each probing band AND cell indexes that already
    contain the previous batches' survivors, land exactly on the rebuild
    end state — a missed cross-batch semantic bridge moves the hash.

    Scale: per-batch work is O(batch) text + O(batch) vectors (corpus
    vectors are probe-side stored rows, touched once per document
    lifetime); the carried state is the sparse seven-table skeleton,
    checkpoint-bounded per batch; at warehouse scale the state lives as
    managed tables and the body becomes
    ``corpus_incremental.run_increment`` (the MERGE-per-batch shape,
    replay-idempotent). The batch's vectors arrive WITH the batch in
    production; here the shared embeddings fixture stands in,
    pre-filtered at plan time to the delta id range (parquet-pruned) —
    ``_doc_cells``'s join to the batch's exact-kept survivors then
    restricts assignment to exactly the batch.

    Reference parity: ingest_stocks.py:61-111 (incremental bronze MERGE)
    composed with transforme_stock_silver.py:41-97 as ONE streaming
    loop, the dedup key set generalized to a vector index; SURVEY §2
    S6+/P3/J1 × the §2.9 streaming extension × the similarity family.
    """
    from personal_data_lakehouse_spark.corpus_incremental import (
        apply_increment,
        state_rollup,
    )
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
    )
    from personal_data_lakehouse_spark.similarity.ivf import pick_centroids
    from personal_data_lakehouse_spark.streaming.windows import (
        carry_state_stream,
        stream_work_dir,
    )

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    thr = round9_ops._inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch_docs = docs.filter(F.col("doc_id") >= thr)
    cents = pick_centroids(emb, _CENTROID_IDS)
    emb_delta = emb.filter(F.col("vec_id") >= thr)

    def step(state, batch):
        inc = apply_increment(state, batch, emb_delta, cents)
        return inc.state, inc.persisted

    # the SAME materialized seven-table base state the semantic
    # incremental query reads, and the SAME delta files the lexical
    # stream replays
    final = carry_state_stream(
        round9_ops.delta_stream(spark, sf_dir, batch_docs),
        stream_work_dir("corpincstream2"),
        round9_ops._materialized_base_state(spark, sf_dir, base, emb, cents),
        step,
    )
    return state_rollup(final).rollup


# ---------------------------------------------------------------------------
# Codebook scaling, driver-hashed: k is a PARAMETER of the IVF operators

_SWEEP_KS = (4, 8)

# Cell-index cache for the two codebook queries (r10 ADVICE): the
# internally-persisted cell frame previously had no release path — one
# cached frame accreted per invocation in a driver that never
# clearCaches. The fix keeps ONE frame per (query, sf) slot and REUSES
# it across invocations (the production shape: the cell index is a
# persisted corpus-side artifact, not a per-query rebuild — and the r10
# warm numbers already relied on the implicit CacheManager plan-match
# hit between runs; an unpersist-per-rebuild ledger measured a 5× warm
# regression by forcing the assignment recompute every run). Stale
# entries (fixture mtime change) are unpersisted and replaced; a frame
# evicted by a harness clearCache is simply re-persisted (same plan).
# The key includes the Spark applicationId (r12, r11 ADVICE): a frame is
# bound to the session that built it, and a process that stops/recreates
# its session with the fixture unchanged would otherwise hit the
# fresh-path storageLevel call on a dead session's frame.
_CELLS_CACHE: dict[tuple[str, str], tuple[float, list]] = {}


def _cached_cells(spark, slot: str, mt: float, build) -> list:
    """Return the slot's persisted cell frames, building (and persisting)
    them via *build* () -> list[DataFrame] only when absent or stale."""
    key = (spark.sparkContext.applicationId, slot)
    ent = _CELLS_CACHE.get(key)
    if ent is not None and ent[0] == mt:
        frames = ent[1]
        for f in frames:
            if not f.storageLevel.useMemory:
                f.persist()  # re-register after a harness clearCache
        return frames
    if ent is not None:
        for f in ent[1]:
            try:
                f.unpersist()
            except Exception:
                pass
    frames = build()
    _CELLS_CACHE[key] = (mt, frames)
    return frames


def _codebook_sweep_oracle() -> str:
    """Per-k replay of the ``_CELLS_SQL`` assignment + cell-local pair
    generation, unioned and aggregated — generated from the SAME
    ``_cos``/centroid-id fragments the ``s_*`` oracles use."""
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
        _N_QUERIES,
        _NEARDUP_THRESHOLD,
        _cos,
    )

    blocks, sels = [], []
    for k in _SWEEP_KS:
        ids = ", ".join(str(i) for i in _CENTROID_IDS[:k])
        blocks.append(
            f"""
    cells{k} AS (SELECT vec_id, e, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid) AS crnk
        FROM (SELECT c.vec_id, c.e, n.cid, {_cos('c.e', 'n.ce')} AS csim
              FROM (SELECT vec_id, embedding AS e FROM embeddings
                    WHERE vec_id >= {_N_QUERIES}) c,
                   (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                    WHERE vec_id IN ({ids})) n))
        WHERE crnk = 1),
    pairs{k} AS (SELECT {k} AS k, ROUND({_cos('a.e', 'b.e')}, 6) AS sim
                 FROM cells{k} a JOIN cells{k} b
                   ON a.cell = b.cell AND a.vec_id < b.vec_id)"""
        )
        sels.append(f"SELECT * FROM pairs{k}")
    union = " UNION ALL ".join(sels)
    return f"""
    WITH {",".join(blocks)}
    SELECT k, COUNT(*) AS cand_pairs,
           CAST(SUM(CASE WHEN sim >= {_NEARDUP_THRESHOLD} THEN 1 ELSE 0
                    END) AS BIGINT) AS verified_pairs
    FROM ({union}) GROUP BY k ORDER BY k
    """


@query("s_ivf_codebook_sweep", oracle=_codebook_sweep_oracle())
def s_ivf_codebook_sweep(spark, sf_dir):
    """IVF cell-blocking at TWO codebook sizes over the same corpus, one
    hashed result — the driver-gate pin for the codebook-scaling story
    (r10, VERDICT r9 "what's wrong #1"): k is a PARAMETER of every IVF
    operator, never a constant. For k ∈ {4, 8} (prefixes of the
    seed-pinned codebook): assign each candidate its nearest cell, count
    the cell-local candidate pairs (the Σ|cell|² work the pair
    generators actually do) and the verified near-dup pairs at the
    standard threshold. Doubling k roughly halves cand_pairs on the
    fixture — a hard-wired cell count anywhere in the assignment or
    pair path moves the hash (and fails the
    ``test_ivf_pair_work_scales_inversely_with_codebook_size``
    property).

    Scale: each branch is one map-side broadcast-codebook assignment +
    one cell-local self-join feeding a two-group aggregate; the
    deployment rule is k ∝ √N for balanced cells (SCALE.md), so
    Σ|cell|² pair work stays ~N^1.5 total while this query's shape —
    assignment cost O(N·k), pair cost Σ|cell|² — is unchanged at any k.

    Reference parity: engine-internal (the reference delegates
    similarity to its warehouse); SURVEY §2 similarity extension.
    """
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
        _N_QUERIES,
        _NEARDUP_THRESHOLD,
    )
    from personal_data_lakehouse_spark.plans import registry
    from personal_data_lakehouse_spark.similarity.ivf import (
        assign_cells,
        blocked_pairs_from_cells,
        pick_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    cand = emb.filter(F.col("vec_id") >= _N_QUERIES)
    npart = spark.sparkContext.defaultParallelism

    def _build():
        # the persisted per-k cell indexes: the self-join consumes each
        # subtree twice, and reuse across invocations keeps exactly one
        # frame pair live per (query, sf) — see _cached_cells
        return [
            assign_cells(
                cand, pick_centroids(emb, _CENTROID_IDS[:k]),
                "vec_id", "embedding", n=1,
            )
            .coalesce(npart)
            .persist()
            for k in _SWEEP_KS
        ]

    mt = registry._path_mtime(f"{sf_dir}/embeddings.parquet")
    cell_frames = _cached_cells(spark, f"sweep:{sf_dir}", mt, _build)
    per_k = [
        # threshold=-1 keeps every cell-local pair (cosine ≥ −1 always),
        # exposing the candidate set
        blocked_pairs_from_cells(cells, threshold=-1.0).select(
            F.lit(k).alias("k"), F.col("cosine").alias("sim")
        )
        for k, cells in zip(_SWEEP_KS, cell_frames)
    ]
    return (
        per_k[0]
        .unionByName(per_k[1])
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cand_pairs"),
            F.sum(
                F.when(
                    F.col("sim") >= F.lit(_NEARDUP_THRESHOLD), 1
                ).otherwise(0)
            ).alias("verified_pairs"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# The k ∝ √N rule as an operator: the codebook AUTO-SIZES with the corpus

_AUTO_CB_CACHE: dict[str, tuple[float, int, list[int]]] = {}


def _auto_codebook_oracle() -> str:
    """DuckDB replay of ``similarity.ivf.auto_codebook`` + the blocked
    pair generation: k = ceil(sqrt(N)) (both engines' sqrt is the IEEE
    correctly-rounded double of an exact integer — identical), codebook
    = the k lowest candidate ids via ROW_NUMBER (DuckDB's LIMIT takes no
    lateral parameter), then the standard assignment/pair CTEs."""
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _N_QUERIES,
        _NEARDUP_THRESHOLD,
        _cos,
    )

    return f"""
    WITH cand AS (SELECT vec_id, embedding AS e FROM embeddings
                  WHERE vec_id >= {_N_QUERIES}),
         kk AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k
                FROM cand),
         cents AS (SELECT vec_id AS cid, e AS ce FROM (
                       SELECT vec_id, e,
                              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                       FROM cand)
                   WHERE rn <= (SELECT k FROM kk)),
         cells AS (SELECT vec_id, e, cid AS cell FROM (
                       SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY csim DESC, cid) AS crnk
                       FROM (SELECT c.vec_id, c.e, n.cid,
                                    {_cos('c.e', 'n.ce')} AS csim
                             FROM cand c, cents n))
                   WHERE crnk = 1),
         pairs AS (SELECT ROUND({_cos('a.e', 'b.e')}, 6) AS sim
                   FROM cells a JOIN cells b
                     ON a.cell = b.cell AND a.vec_id < b.vec_id)
    SELECT (SELECT k FROM kk) AS k, COUNT(*) AS cand_pairs,
           CAST(SUM(CASE WHEN sim >= {_NEARDUP_THRESHOLD} THEN 1 ELSE 0
                    END) AS BIGINT) AS verified_pairs
    FROM pairs
    """


@query("s_ivf_auto_codebook", oracle=_auto_codebook_oracle())
def s_ivf_auto_codebook(spark, sf_dir):
    """IVF near-dup pair generation under an AUTO-SIZED codebook
    (``similarity.ivf.auto_codebook``: k = ceil(sqrt(N)), the k ∝ √N
    deployment rule as an operator) — k itself is in the hashed output,
    so the SAME registered query runs with a GENUINELY DIFFERENT
    codebook as the corpus grows (k = 23 over the 492-candidate
    sf0.001/0.01 embeddings, 45 over sf0.1's 1992): the differential
    gate exercises "k grows with the corpus" end-to-end rather than
    trusting the parameter plumbing.

    Scale: the auto-sizing is one O(1) count + one O(k) collect at plan
    build (the watermark/codebook scalar envelope); assignment is
    map-side against the broadcast k-row codebook; pair work is
    Σ|cell|² ~ N^1.5 under balanced cells — the blow-up a fixed-k
    deployment suffers is exactly what this operator removes.

    Reference parity: engine-internal (the reference delegates
    similarity to its warehouse); SURVEY §2 similarity extension.
    """
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _N_QUERIES,
        _NEARDUP_THRESHOLD,
    )
    from personal_data_lakehouse_spark.plans import registry
    from personal_data_lakehouse_spark.similarity.ivf import (
        assign_cells,
        auto_codebook,
        blocked_pairs_from_cells,
        pick_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    cand = emb.filter(F.col("vec_id") >= _N_QUERIES)
    # the two scalar jobs (count + O(k) id collect) run once per
    # (sf_dir, process) — the _inc_threshold caching precedent, with
    # the entry mtime-validated and REPLACED on change like the registry
    # schema cache (r9 ADVICE class: a regenerated fixture at the same
    # path must not serve a stale k/codebook). auto_codebook hands back
    # the ids it already collected (r10 ADVICE: re-collecting them from
    # the codebook frame was one redundant scalar job per cold build).
    mt = registry._path_mtime(f"{sf_dir}/embeddings.parquet")
    if _AUTO_CB_CACHE.get(sf_dir, (None,))[0] != mt:
        k, ids, _ = auto_codebook(cand)
        _AUTO_CB_CACHE[sf_dir] = (mt, k, ids)
    _, k, ids = _AUTO_CB_CACHE[sf_dir]
    cents = pick_centroids(emb, ids)
    npart = spark.sparkContext.defaultParallelism

    def _build():
        return [
            assign_cells(cand, cents, "vec_id", "embedding", n=1)
            .coalesce(npart)
            .persist()
        ]

    (cells,) = _cached_cells(spark, f"auto:{sf_dir}", mt, _build)
    return (
        blocked_pairs_from_cells(cells, threshold=-1.0)
        .agg(
            F.count(F.lit(1)).alias("cand_pairs"),
            F.sum(
                F.when(
                    F.col("cosine") >= F.lit(_NEARDUP_THRESHOLD), 1
                ).otherwise(0)
            ).alias("verified_pairs"),
        )
        .select(
            F.lit(k).cast("long").alias("k"), "cand_pairs", "verified_pairs"
        )
    )
