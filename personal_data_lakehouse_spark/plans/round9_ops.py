"""Round-9 registered queries: the INCREMENTAL corpus-pipeline run
(new-docs batch MERGEd through the full funnel, hash-equal to a full
recompute), the online SemDeDup admission loop CLOSED (admitted vectors
feed the index before the next micro-batch probes), the multimodal
kernels composed with the ANN stack into a driver-hashed near-dup
decision, and the late-round fusion of the first two —
``t_stream_corpus_increments``, the capstone pipeline consuming a live
stream of deltas via per-micro-batch MERGE.

Closes r8 verdict items 1/3/5: the capstone pipeline only ran
full-recompute while the reference's defining semantic is incremental
(transforme_stock_silver.py:41-97 watermark filter, ingest_stocks.py:
84-100 dedup-on-append MERGE); `q_stream_semdedup_admit` admitted
intra-stream duplicates by contract (stream-vs-corpus only); and the
multimodal family's kernels never met the similarity stack in a hashed
query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# round8_ops must be imported FIRST: this module reads its composed
# e2e-pipeline oracle from REGISTRY at decoration
import personal_data_lakehouse_spark.plans.round8_ops  # noqa: F401
from personal_data_lakehouse_spark.plans.registry import (
    REGISTRY,
    _path_mtime,
    query,
    read_parquet_cached,
    t,
)

# ---------------------------------------------------------------------------
# Incremental corpus-pipeline run (VERDICT r8 item 1)

# Base/batch split for the parity query: the batch is the TOP ~20% of the
# doc_id RANGE — the append-only id invariant corpus_incremental requires
# (new docs arrive with ids above everything already ingested, exactly
# the reference's monotonically-growing ingest keys). An O(1) min/max agg,
# cached per sf_dir so warm plan builds run zero eager jobs; the entry
# carries documents.parquet's mtime and is REPLACED when it changes, so a
# corpus rewritten at the same path gets a fresh threshold.
_INC_T: dict[str, tuple[float, int]] = {}


def _inc_threshold(spark, sf_dir, docs) -> int:
    mt = _path_mtime(f"{sf_dir}/documents.parquet")
    if _INC_T.get(sf_dir, (None,))[0] != mt:
        row = docs.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).first()
        lo, hi = int(row["lo"]), int(row["hi"])
        _INC_T[sf_dir] = (mt, hi - (hi - lo) // 5)
    return _INC_T[sf_dir][1]


def _materialized_base_state(
    spark, sf_dir, base_docs, emb=None, cents=None, tag="corpinc"
):
    """The stage tables of the BASE corpus, materialized once per
    (sf, process) as parquet — the honesty split:
    production keeps exactly these tables on disk between increments, so
    warm invocations time the INCREMENT, not a from-scratch base rebuild.
    The stage set is ``corpus_incremental.stage_names``: the lexical
    five, plus the semantic ``cells``/``sem_edges`` when ``emb``/``cents``
    are given (the lexical artifacts are then shared with the lexical
    queries). Pure functions of the fixture split ⇒ a complete artifact
    is byte-identical; _SUCCESS + the FIXTURE_GEN dir tag gate reuse.

    *tag* namespaces the artifact dirs: a caller materializing a
    DIFFERENT base split (bench.py's loaded semantic measurement) must
    not collide with the registry queries' canonical 80/20 artifacts —
    the _SUCCESS gate checks completeness, not which split wrote it."""
    from personal_data_lakehouse_spark.corpus_incremental import (
        CorpusState,
        build_state,
        stage_names,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        source_fixture_dir,
    )

    names = stage_names(emb is not None)
    dirs: dict[str, str] = {}
    missing: list[str] = []
    for n in names:
        d, ready = source_fixture_dir(f"{tag}_{n}", sf_dir)
        dirs[n] = d
        if not ready:
            missing.append(n)
    if missing:
        built = build_state(base_docs, emb, cents)
        npart = spark.sparkContext.defaultParallelism
        for n in missing:
            built.state[n].coalesce(npart).write.mode("overwrite").parquet(
                dirs[n]
            )
        # stage tables on parquet: the backfill's corpus-text caches are
        # dead weight past this write barrier
        built.release()
    return CorpusState({n: read_parquet_cached(spark, dirs[n]) for n in names})


# base ∪ batch = documents, and the merged end state must equal the full
# recompute — so the e2e composed oracle IS the incremental oracle, shared
# VERBATIM (the no-drift composition: the two parity queries cannot
# diverge in what they claim).
@query(
    "t_corpus_pipeline_incremental",
    oracle=REGISTRY["t_corpus_pipeline_e2e"].oracle,
)
def t_corpus_pipeline_incremental(spark, sf_dir):
    """INCREMENTAL corpus-pipeline run, driver-hashed equal to a FULL
    RECOMPUTE: the base corpus (bottom ~80% of the doc_id range) is a
    one-time materialized five-table state (fingerprint ledger, LSH
    shingle/band index, verified edge set, survivor skeleton —
    ``corpus_incremental.build_state``); the new-docs batch (top ~20%)
    is then processed through intake → exact dedup (anti-join the
    ledger) → near dedup (batch-only shingling, batch×corpus band probe
    + batch×batch self-join, exact-Jaccard verify) with insert-only
    MERGE into all five tables, and the DERIVED decisions — near-dup
    closure, temperature rebalance, split, packing — recomputed from the
    merged SPARSE state. The rollup (``corpus.pipeline_rollup``) must
    hash-equal ``t_corpus_pipeline_e2e``'s full-recompute oracle over
    ALL documents: a batch doc wrongly kept/dropped, a missed
    batch-bridges-two-clusters merge (base docs LOSING canonical
    status), or a stale rebalance threshold all move the hash.

    This is the reference's defining semantic applied to the capstone:
    watermark-incremental processing (transforme_stock_silver.py:41-97)
    + dedup-on-append MERGE (ingest_stocks.py:84-100). Idempotent-replay
    is pinned separately (tests/test_corpus_incremental.py: re-applying
    the same batch inserts nothing in any table).

    Scale: the batch's text is the only text read — gates, fingerprints,
    shingles, minhashes are O(batch); candidate verification is O(new
    band collisions); the closure runs the adaptive
    ``dedup_clusters`` closure over the merged sparse EDGE table (never
    the corpus); rebalance/split/pack run on the id+int survivor
    skeleton. A daily 0.1% delta into a 100 TB corpus costs ~0.1% of the
    full-rebuild text work plus sparse-state maintenance.
    """
    from personal_data_lakehouse_spark.corpus_incremental import (
        apply_increment,
        state_rollup,
    )

    docs = t(spark, sf_dir, "documents")
    thr = _inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    state = _materialized_base_state(spark, sf_dir, base)
    return state_rollup(apply_increment(state, batch).state).rollup


# ---------------------------------------------------------------------------
# Online SemDeDup v2: index maintenance on admit (VERDICT r8 item 3)

# v2 stream/corpus split and threshold: a WIDER stream slice (~20%) and a
# LOWER near-dup bound than v1, chosen so intra-stream near-dups occur
# NATURALLY in the fixture (7 same-cell stream pairs ≥ 0.3 at sf0.01, 173
# at sf0.1 — measured) — the v2 semantics (reject against earlier admits)
# must be exercised by the driver hash, not only by the synthetic pytest.
_V2_STREAM_PRED = "vec_id >= 16 AND vec_id % 10 IN (3, 7)"
_V2_THRESHOLD = 0.3


# decisions sink schema: the four hashed columns PLUS the admit-index
# columns (cell, embedding, _vn) — so the decisions dir doubles as the
# admitted-vector index the next micro-batch probes, and each batch costs
# exactly ONE Spark action (one parquet append), no separate index write
_V2_DEC_SCHEMA = (
    "vec_id bigint, admitted boolean, cluster_id bigint, "
    "n_matches bigint, cell bigint, embedding array<float>, _vn double"
)


def _v2_greedy(threshold: float):
    """Per-cell sequential admission resolver (applyInPandas).

    Self-contained closure (stdlib/pandas only) so cloudpickle ships it
    by value. Arithmetic contract: the dot product is the same LEFT FOLD
    in double precision as ``similarity.brute_force.dot_expr`` (float32
    elements widen exactly), norms are the SPARK-COMPUTED ``_vn`` carried
    on each row (never recomputed here), and rounding replays Spark's
    ``round(x, 6)`` exactly — BigDecimal.valueOf(double) parses the
    SHORTEST decimal string, which is Python's repr(), then HALF_UP.

    r13 fusion (guide §2.4/§4, VERDICT r12 directive #3): the input is
    the UNION of the cell's arrival rows (``is_arr``) and its
    Spark-filtered external match rows (arrival vec_id + matched
    ``ext_cl``) — the per-arrival ext aggregation (match count, min
    matched cluster) now happens HERE, inside the per-cell pass the
    batch already pays, instead of a separate groupBy("vec_id")
    exchange plus a join back onto the arrivals. Integer count/min over
    the identical Spark-filtered match set — bit-equal to the old
    aggregate; the cosine filter itself stays Spark-side, so nothing
    beyond the match rows crosses Arrow.
    """
    thr = float(threshold)

    def greedy(pdf):
        import pandas as _pd
        from decimal import ROUND_HALF_UP, Decimal

        def _dot(u, v):
            acc = 0.0
            for p, q in zip(u, v):
                acc = acc + float(p) * float(q)
            return acc

        def _round6(x):
            return float(
                Decimal(repr(x)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

        arr = pdf[pdf["is_arr"]]
        ext = pdf[~pdf["is_arr"]]
        ext_n_by_id = ext.groupby("vec_id").size().to_dict()
        ext_mcl_by_id = ext.groupby("vec_id")["ext_cl"].min().to_dict()
        rows = arr.sort_values("vec_id").to_dict("records")
        admitted_sofar = []  # [(vec_id, embedding, _vn)] in arrival order
        out = []
        for r in rows:
            vid, vec, vn = int(r["vec_id"]), r["embedding"], float(r["_vn"])
            cell = int(r["cell"])
            intra = [
                uid
                for uid, uvec, uvn in admitted_sofar
                if _round6(_dot(uvec, vec) / (uvn * vn)) >= thr
            ]
            ext_n = int(ext_n_by_id.get(vid, 0))
            mcl = ext_mcl_by_id.get(vid)
            ext_mcl = int(mcl) if mcl is not None and _pd.notna(mcl) else None
            n_matches = ext_n + len(intra)
            admit = n_matches == 0
            if admit:
                cluster = vid
                admitted_sofar.append((vid, vec, vn))
            else:
                cands = ([ext_mcl] if ext_mcl is not None else []) + intra
                cluster = min(cands)
            out.append((vid, admit, cluster, n_matches, cell, vec, vn))
        return _pd.DataFrame(
            out,
            columns=[
                "vec_id",
                "admitted",
                "cluster_id",
                "n_matches",
                "cell",
                "embedding",
                "_vn",
            ],
        )

    return greedy


def online_semdedup_admit(
    spark,
    stream_vecs,
    idx_static,
    cents,
    work_dir: str,
    threshold: float,
):
    """Run the online-admission stream to completion and return the
    decisions frame — the reusable core of ``q_stream_semdedup_admit_v2``
    (the synthetic-duplicate pytest drives it directly).

    ``idx_static``: the corpus index (cand_id, ce_v, _cn, cell,
    cluster_id). Per micro-batch: assign cells, probe corpus index +
    admitted-so-far rows (the decisions sink doubles as the admit index),
    resolve same-batch arrivals sequentially per cell, ONE parquet write.

    Exactly-once sink contract: each micro-batch OVERWRITES its own
    epoch-keyed subdir (``decisions/b<batch_id>``) instead of appending —
    the standard foreachBatch idempotency pattern (Spark replays a batch
    after a failure under the same batch_id, so a replay rewrites
    identical files rather than double-counting decisions and
    double-feeding the admit index). Pinned by the rerun test in
    tests/test_streaming.py: re-draining the same source through the
    same sink yields byte-identical decisions.
    """
    import os

    from personal_data_lakehouse_spark.similarity.brute_force import (
        dot_expr,
    )
    from personal_data_lakehouse_spark.similarity.ivf import assign_cells
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_foreach,
    )

    out_dir = os.path.join(work_dir, "decisions")
    # seed the sink empty so batch 0's index read binds (schema'd)
    spark.createDataFrame([], _V2_DEC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "seed"))
    greedy = _v2_greedy(threshold)

    def _read_sink(bs):
        return (
            bs.read.schema(_V2_DEC_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(out_dir)
        )

    def process_batch(batch, bid):
        bs = batch.sparkSession
        asg = assign_cells(batch, cents, "vec_id", "embedding", n=1)
        # the decisions dir IS the admit index: earlier batches' admitted
        # rows carry (cell, embedding, _vn); an admit founded its own
        # cluster. One read + one epoch-keyed write per batch.
        # The index reads STRICTLY EARLIER epochs only — a batch replayed
        # after a post-write crash would otherwise see its own failed
        # attempt's rows and reject every arrival against itself.
        earlier = [os.path.join(out_dir, "seed")] + [
            p
            for i in range(int(bid))
            if os.path.isdir(p := os.path.join(out_dir, f"b{i}"))
        ]
        adm_idx = bs.read.schema(_V2_DEC_SCHEMA).parquet(*earlier).filter(
            F.col("admitted")
        ).select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("ce_v"),
            F.col("_vn").alias("_cn"),
            "cell",
            F.col("vec_id").alias("cluster_id"),
        )
        idx = idx_static.unionByName(adm_idx)
        sim = F.round(
            F.expr(dot_expr("embedding", "ce_v"))
            / (F.col("_vn") * F.col("_cn")),
            6,
        )
        # r13 fusion (guide §2.4, VERDICT r12 directive #3): the old
        # chain aggregated matches per vec_id (one exchange) and joined
        # the aggregate back onto the arrivals (a second probe) before
        # the per-cell pass. The per-arrival count/min is computable
        # INSIDE that per-cell pass, so the match rows now ride the same
        # groupBy("cell") exchange as the arrivals: per batch the plan
        # is assign → one probe join (Spark-side cosine filter, only
        # match rows survive) → one cell exchange → one Arrow pass →
        # one epoch-keyed write.
        matches = (
            asg.join(idx, "cell")
            .filter(sim >= F.lit(threshold))
            .select(
                "cell",
                "vec_id",
                F.lit(None).cast("array<float>").alias("embedding"),
                F.lit(None).cast("double").alias("_vn"),
                F.col("cluster_id").alias("ext_cl"),
                F.lit(False).alias("is_arr"),
            )
        )
        arrivals = asg.select(
            "cell",
            "vec_id",
            "embedding",
            "_vn",
            F.lit(None).cast("long").alias("ext_cl"),
            F.lit(True).alias("is_arr"),
        )
        arrivals.unionByName(matches).groupBy("cell").applyInPandas(
            greedy, _V2_DEC_SCHEMA
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{int(bid)}")
        )

    drain_stream_foreach(stream_vecs, work_dir, process_batch)
    return _read_sink(spark).select(
        "vec_id", "admitted", "cluster_id", "n_matches"
    )


def _stream_semdedup_v2_oracle() -> str:
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CELLS_SQL,
        _cos,
        _dot_sql as _dot,
        _N_QUERIES,
    )

    thr = _V2_THRESHOLD
    # the shared cell-assignment CTE, restricted to the v2 corpus split
    cells_sql = _CELLS_SQL.replace(
        f"WHERE vec_id >= {_N_QUERIES}",
        f"WHERE vec_id >= {_N_QUERIES} AND NOT ({_V2_STREAM_PRED})",
    )
    # The recursion's pair cosine precomputes BOTH norms (carried on the
    # arrival row and inside the admitted struct) and folds ONE dot per
    # comparison — sqrt(dot(x,x)) is the same double wherever evaluated,
    # so values are bit-identical to the three-fold _cos form while the
    # lambda work drops 3×; and the recursion runs PER CELL (arrivals in
    # different cells never interact — the Spark contract), so each
    # iteration advances every cell by one arrival and each admitted
    # list holds only cell-mates. The first (global-list, three-fold)
    # form was measured 10+ minutes at sf0.1; this one is seconds.
    def _dot_pair(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, len({a}) + 1), "
            f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
        )

    intra = (
        "list_filter(s.adm, u -> "
        f"ROUND({_dot_pair('u.e', 'a.qe')} / (u.n * a.qn), 6) >= {thr})"
    )
    intra_fin = (
        "list_filter(f.adm, u -> "
        f"ROUND({_dot_pair('u.e', 'f.qe')} / (u.n * f.qn), 6) >= {thr})"
    )
    big = 9223372036854775807
    return f"""
    WITH RECURSIVE {cells_sql},
    edges AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND({_cos('a.e', 'b.e')}, 6) >= {thr}
    ), symm AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ), reach(rsrc, rdst) AS (
        SELECT vec_id, vec_id FROM embeddings
        WHERE vec_id >= {_N_QUERIES} AND NOT ({_V2_STREAM_PRED})
        UNION
        SELECT r.rsrc, s.b FROM reach r JOIN symm s ON r.rdst = s.a
    ), cc AS (
        SELECT rsrc AS vec_id, MIN(rdst) AS cluster_id FROM reach GROUP BY 1
    ), strm AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE ({_V2_STREAM_PRED})
    ), qasg AS (
        SELECT qid, qe, cid, {_cos('qe', 'ce')} AS csim FROM strm, cents
    ), arr AS MATERIALIZED (
        -- per-cell arrival order: qid order restricted to the cell is
        -- exactly the global-order contract (only cell-mates interact);
        -- norms precomputed once per arrival, vectors widened once.
        -- MATERIALIZED: the recursive term below joins this CTE every
        -- iteration, and DuckDB would otherwise INLINE and re-execute
        -- its whole upstream (the probe-assignment windows) per step
        SELECT qid, CAST(qe AS DOUBLE[]) AS qe,
               sqrt({_dot('qe', 'qe')}) AS qn,
               cell,
               ROW_NUMBER() OVER (PARTITION BY cell ORDER BY qid) AS pos
        FROM (
            SELECT qid, qe, cid AS cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY csim DESC, cid) AS crnk FROM qasg)
            WHERE crnk = 1)
    ), ext AS MATERIALIZED (
        -- MATERIALIZED for the same reason: inlined, the full
        -- arrivals×corpus-cell cosine probe re-ran once per recursion
        -- step (~50 steps at sf0.1) — measured 213 s for a 405-row
        -- recursion; materialized, the probe runs once and the
        -- recursion is sub-second
        SELECT qid, MIN(cc.cluster_id) AS mcl,
               CAST(COUNT(*) AS BIGINT) AS nm
        FROM arr
        JOIN cells ON arr.cell = cells.cell
        JOIN cc ON cells.vec_id = cc.vec_id
        WHERE ROUND({_cos('qe', 'cells.e')}, 6) >= {thr}
        GROUP BY qid
    ), seq(cell, pos, adm) AS (
        -- per-cell sequential scan: every iteration advances each cell
        -- by one arrival (id order within the cell), carrying that
        -- cell's admitted-so-far set (id, vector, norm)
        SELECT cell, 0,
               CAST([] AS STRUCT(id BIGINT, e DOUBLE[], n DOUBLE)[])
        FROM (SELECT DISTINCT cell FROM arr)
        UNION ALL
        SELECT s.cell, a.pos,
               CASE WHEN e.qid IS NULL AND len({intra}) = 0
                    THEN list_append(s.adm,
                        {{'id': a.qid, 'e': a.qe, 'n': a.qn}})
                    ELSE s.adm END
        FROM seq s
        JOIN arr a ON a.cell = s.cell AND a.pos = s.pos + 1
        LEFT JOIN ext e ON e.qid = a.qid
    ), fin AS (
        SELECT a.qid, a.qe, a.qn, s.adm FROM arr a
        JOIN seq s ON s.cell = a.cell AND s.pos = a.pos - 1
    )
    SELECT f.qid AS vec_id,
           (e.qid IS NULL AND len({intra_fin}) = 0) AS admitted,
           CASE WHEN e.qid IS NULL AND len({intra_fin}) = 0 THEN f.qid
                ELSE LEAST(
                    COALESCE(e.mcl, {big}),
                    COALESCE(list_min(list_transform({intra_fin},
                                                     u -> u.id)), {big}))
           END AS cluster_id,
           COALESCE(e.nm, 0) + len({intra_fin}) AS n_matches
    FROM fin f LEFT JOIN ext e ON e.qid = f.qid
    """


@query("q_stream_semdedup_admit_v2", oracle=_stream_semdedup_v2_oracle())
def q_stream_semdedup_admit_v2(spark, sf_dir):
    """ONLINE semantic-dedup admission WITH INDEX MAINTENANCE — the closed
    loop r8's ``q_stream_semdedup_admit`` deliberately left open (its
    contract was stream-vs-corpus only, so two near-identical stream
    vectors were BOTH admitted): here every micro-batch's ADMITTED
    vectors are appended to the cell index inside ``foreachBatch`` BEFORE
    the next batch probes, and SAME-batch arrivals resolve sequentially
    per cell (a per-cell ``applyInPandas`` greedy scan in vec_id order) —
    so a stream near-dup of an earlier admit is REJECTED and assigned the
    admit's cluster, the true online-dedup contract and the streaming
    form of the reference's MERGE-maintained dedup key set
    (ingest_stocks.py:84-100, the index IS the merged table).

    Arrivals are processed in STRICT vec_id order: the source fixture is
    four id-range files with staggered mtimes and
    ``maxFilesPerTrigger=1`` (the file source takes oldest-first), and
    intra-batch order is the greedy scan — together exactly the global
    sequential contract the oracle replays with a linear recursive CTE
    (one row per arrival, carrying the admitted set as a list of
    (id, cell, vector) structs). Every decision is differentially
    hashed: (vec_id, admitted, cluster_id, n_matches) where matches
    count corpus members AND earlier admits in the probe cell at
    ≥ {thr} rounded cosine, and cluster_id is the minimum matched
    cluster (an admit's cluster is itself).

    Split/threshold are v2-specific (wider stream slice, lower bound) so
    intra-stream rejections occur NATURALLY at both gate SFs — measured
    7 same-cell stream pairs ≥ 0.3 at sf0.01 — rather than only in the
    synthetic duplicate pytest (tests/test_streaming.py pins two
    identical arrivals → one admit).

    Scale: per-batch work is O(batch · (cell members + admits-so-far))
    map-side joins + a per-cell pandas scan over BATCH rows only; the
    admitted index grows by O(admits) parquet appends (exactly what a
    production deployment maintains); state stays EMPTY at any stream
    length (foreachBatch owns all side effects). The sequential contract
    costs nothing distributed: batches are serial anyway, and the
    per-cell scan touches only same-batch same-cell arrivals.

    Reference parity: the online form of ingest_stocks.py:84-100 with
    the dedup KEY SET itself maintained per batch; supersedes the
    admission half of round8_ops.py:331 (kept registered — its
    stateless stream-vs-corpus contract is the bootstrap phase).
    """
    from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
        _N_QUERIES,
    )
    from personal_data_lakehouse_spark.similarity.ivf import (
        assign_cells,
        ivf_blocked_neardup,
        pick_centroids,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        source_fixture_dir,
        stream_work_dir,
        write_ordered_parts,
    )

    emb = t(spark, sf_dir, "embeddings")
    cand = emb.filter(F.col("vec_id") >= _N_QUERIES)
    pred = F.expr(_V2_STREAM_PRED)
    corpus = cand.filter(~pred)
    arrivals = cand.filter(pred)
    cents = pick_centroids(emb, _CENTROID_IDS)
    npart = spark.sparkContext.defaultParallelism

    # static corpus artifact at the v2 split/threshold (the r8 honesty
    # split: production keeps this on disk; warm runs time the stream).
    # ONE pre-joined index table — cell assignment + cluster label per
    # corpus vector — so each micro-batch reads a single parquet dir
    # instead of re-joining cells×labels per batch (plan noise a real
    # deployment would never pay: the stored index IS the join).
    idx_dir, idx_ready = source_fixture_dir("semadmit2_index", sf_dir)
    if not idx_ready:
        cells_df = assign_cells(corpus, cents, "vec_id", "embedding", n=1)
        pairs = ivf_blocked_neardup(
            corpus, cents, threshold=_V2_THRESHOLD
        ).select("id_a", "id_b")
        labels_df = dedup_clusters(
            corpus.select("vec_id"), pairs, id_col="vec_id"
        ).select("vec_id", "cluster_id")
        cells_df.join(labels_df, "vec_id").select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("ce_v"),
            F.col("_vn").alias("_cn"),
            "cell",
            "cluster_id",
        ).coalesce(npart).write.mode("overwrite").parquet(idx_dir)
    idx_static = read_parquet_cached(spark, idx_dir)

    # ordered stream source: four id-range files, staggered mtimes, so
    # maxFilesPerTrigger=1 yields batches in global vec_id order
    src, src_ready = source_fixture_dir("semadmit2_src", sf_dir)
    if not src_ready:
        write_ordered_parts(
            arrivals.select("vec_id", "embedding"), "vec_id", 4, "b", src
        )

    work = stream_work_dir("semadmit2")
    stream_vecs = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return online_semdedup_admit(
        spark, stream_vecs, idx_static, cents, work, _V2_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Multimodal × ANN: media near-dup decision (VERDICT r8 item 5)

_MEDIA_GRID = 8
_MEDIA_THRESHOLD = 0.98  # 18 cell-local pairs >= thr at sf0.01, 2294 at sf0.1


def _media_neardup_oracle() -> str:
    from personal_data_lakehouse_spark.plans.similarity_ops import _cos

    g = _MEDIA_GRID
    thr = _MEDIA_THRESHOLD
    # the synthetic decode, replayed in SQL: raster[y, x] = byte[(y*w + x)
    # % L], sampled at ys[r] = (r*h)//g, xs[c] = (c*w)//g, flattened —
    # char codes are payload bytes under the ASCII guard
    pos = (
        f"((((i // {g}) * h) // {g}) * w + (((i % {g}) * w) // {g})) % L + 1"
    )
    feat = (
        f"list_transform(range(0, {g * g}), "
        f"i -> CAST(ascii(substr(text, {pos}, 1)) AS DOUBLE))"
    )
    return f"""
    WITH RECURSIVE feats AS (
        SELECT doc_id AS media_id, {feat} AS fe
        FROM (SELECT doc_id, text, length(text) AS L,
                     length(text) % 1024 + 64 AS w,
                     length(text) % 768 + 64 AS h
              FROM documents
              WHERE length(text) >= 1
                AND length(text) = octet_length(encode(text)))
    ), cents AS (
        SELECT media_id AS cid, fe AS ce FROM feats
        ORDER BY media_id LIMIT 8
    ), asg AS (
        SELECT media_id, fe, cid, {_cos('fe', 'ce')} AS csim
        FROM feats, cents
    ), cells AS (
        SELECT media_id, fe, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id
                ORDER BY csim DESC, cid) AS crnk FROM asg)
        WHERE crnk = 1
    ), edges AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.media_id < b.media_id
        WHERE ROUND({_cos('a.fe', 'b.fe')}, 6) >= {thr}
    ), symm AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ), reach(rsrc, rdst) AS (
        SELECT media_id, media_id FROM feats
        UNION
        SELECT r.rsrc, s.b FROM reach r JOIN symm s ON r.rdst = s.a
    ), cc AS (
        SELECT rsrc AS media_id, MIN(rdst) AS cluster_id
        FROM reach GROUP BY 1
    ), sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csz
        FROM cc GROUP BY 1
    )
    SELECT cc.media_id, cc.cluster_id,
           cc.media_id = cc.cluster_id AS is_canonical,
           sizes.csz AS cluster_size
    FROM cc JOIN sizes USING (cluster_id)
    """


@query("m_media_neardup", oracle=_media_neardup_oracle())
def m_media_neardup(spark, sf_dir):
    """MEDIA near-duplicate DECISION — the multimodal kernels composed
    with the similarity stack in one driver-hashed query (the two
    families' kernels were individually green but never met in a proven
    composition): documents → ``attach_fake_media`` binary payloads →
    ``media_feature_vectors`` (the ``resize_media`` decode + nearest-
    neighbor downsample kernel, flattened 8×8 raster as a 64-dim double
    vector, Arrow ``mapInPandas``) → the EXISTING IVF near-dup dataflow
    (fixed 8-item coarse codebook = the lowest media ids, cell-local
    cosine pairs at ≥ 0.98, adaptive transitive closure) → one row per
    media item: (media_id, cluster_id, is_canonical, cluster_size).

    The oracle recomputes the ENTIRE composition in SQL — the synthetic
    decode is byte-replayable (payload = utf-8 text bytes; the fixture is
    all-ASCII, and the query guards ``length(text) = octet_length`` on
    both sides so char codes ARE payload bytes), the downsample is the
    same integer index math, and the cell/cosine/closure SQL follows the
    ``s_*``/``t_semdedup_clusters`` fragments — so a drift in kernel
    index math, batch shape, codebook pick, threshold, or closure all
    move the hash.

    Scale: metadata-first pruning upstream of the Python boundary, one
    Arrow crossing per batch, fixed 64 doubles per item out of the
    decode (the volume cliff runs FIRST), Σ|cell|² pair work, sparse
    closure; the feature frame is persisted once (coalesce-first idiom)
    and shared by codebook pick + pair generation.

    Reference parity: multimodal extension (SURVEY §2 extension family)
    composed with the SemDeDup-style decision; kernels
    multimodal/columns.py:171-316, decision similarity/ivf.py:139.
    """
    from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
    from personal_data_lakehouse_spark.multimodal.columns import (
        attach_fake_media,
        media_feature_vectors,
    )
    from personal_data_lakehouse_spark.similarity.brute_force import norm_col
    from personal_data_lakehouse_spark.similarity.ivf import (
        ivf_blocked_neardup,
    )

    docs = t(spark, sf_dir, "documents")
    ascii_docs = docs.filter(
        (F.length("text") >= 1)
        & (F.length("text") == F.octet_length("text"))
    )
    media = attach_fake_media(ascii_docs)
    npart = spark.sparkContext.defaultParallelism
    # persist the feature frame: the codebook pick and the pair generator
    # both consume it, and re-running the Python decode per consumer is
    # exactly the recompute the persist idiom exists to stop
    feats = media_feature_vectors(media, grid=_MEDIA_GRID).coalesce(
        npart
    ).persist()
    cents = (
        feats.orderBy("media_id")
        .limit(8)
        .select(
            F.col("media_id").alias("cid"),
            F.col("fe").alias("ce"),
            norm_col("fe").alias("_cen"),
        )
    )
    pairs = ivf_blocked_neardup(
        feats,
        cents,
        threshold=_MEDIA_THRESHOLD,
        cand_id="media_id",
        cand_vec="fe",
    ).select("id_a", "id_b")
    # the roster comes from the metadata projection (no Python decode)
    return dedup_clusters(
        media.select("media_id"), pairs, id_col="media_id"
    )


# ---------------------------------------------------------------------------
# Streaming corpus increments: the capstone pipeline as a LIVE DELTA STREAM


def delta_stream(spark, sf_dir, batch_docs):
    """The delta stream every stream-capstone query consumes: the
    new-docs slice as THREE ascending id-range parquet files with
    staggered mtimes, read with ``maxFilesPerTrigger=1`` (mtime order =
    id order — the append-only delivery contract). The files are
    manufactured once per (sf, process) under the FIXTURE_GEN tag and
    shared by ``t_stream_corpus_increments`` (lexical),
    ``t_stream_corpus_increments_v2`` (semantic, round10_ops) and
    ``t_stream_decontaminate`` (round12_ops), so the parity claims
    replay the IDENTICAL delivery."""
    from personal_data_lakehouse_spark.streaming.windows import (
        source_fixture_dir,
        write_ordered_parts,
    )

    src, src_ready = source_fixture_dir("corpinc_stream_src", sf_dir)
    doc_schema = (
        "doc_id bigint, text string, lang string, n_chars bigint, "
        "source string"
    )
    if not src_ready:
        write_ordered_parts(
            batch_docs.select("doc_id", "text", "lang", "n_chars", "source"),
            "doc_id",
            3,
            "d",
            src,
        )
    return (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


# base + the streamed deltas = all documents, and chained increments must
# land on the rebuild end state — the e2e full-recompute oracle, shared
# verbatim (three parity queries, one claim, zero drift)
@query("t_stream_corpus_increments", oracle=REGISTRY["t_corpus_pipeline_e2e"].oracle)
def t_stream_corpus_increments(spark, sf_dir):
    """The corpus pipeline run as a LIVE STREAM OF DELTAS — the fusion of
    this round's two marquee pieces and the production shape of the
    reference's daily pipeline (run_pipeline.py scheduling
    transforme_stock_silver.py's watermark increment, here as a real
    Structured Streaming loop): the base corpus state (the same five
    materialized stage tables ``t_corpus_pipeline_incremental`` uses) is
    loaded once; the new-docs slice (top ~20% of the id range) arrives
    as THREE id-range files (staggered mtimes, ``maxFilesPerTrigger=1``
    — ascending-id delivery, the append-only contract), and every
    micro-batch MERGEs through the full intake→exact→near funnel via
    ``corpus_incremental.apply_increment`` as the step of
    ``streaming.windows.carry_state_stream``, which checkpoints the
    carried state per batch so the plan never grows with stream length.
    The final merged state's rollup must hash-equal the FULL-RECOMPUTE
    oracle over all documents — three chained increments, each probing
    an index that already contains the previous batches' survivors, land
    exactly on the rebuild end state.

    Scale: per-batch text work is O(batch) (the incremental contract,
    pinned by the batch-only-scan plan test); the carried state is the
    sparse five-table skeleton, checkpoint-bounded per batch; at
    warehouse scale the state lives as managed tables and the
    foreachBatch body becomes ``corpus_incremental.run_increment``
    (the MERGE-per-batch shape of ``streaming/windows.merge_sink``).

    Reference parity: ingest_stocks.py:61-111 (incremental bronze
    intake + MERGE) composed with the silver/gold increments as ONE
    streaming loop; SURVEY §2 S6+/P3/J1 × the §2.9 streaming extension.
    """
    from personal_data_lakehouse_spark.corpus_incremental import (
        apply_increment,
        state_rollup,
    )
    from personal_data_lakehouse_spark.streaming.windows import (
        carry_state_stream,
        stream_work_dir,
    )

    docs = t(spark, sf_dir, "documents")
    thr = _inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch_docs = docs.filter(F.col("doc_id") >= thr)

    def step(state, batch):
        inc = apply_increment(state, batch)
        return inc.state, inc.persisted

    # the SAME materialized base state the incremental query reads —
    # shared artifacts, zero extra manufacture
    final = carry_state_stream(
        delta_stream(spark, sf_dir, batch_docs),
        stream_work_dir("corpincstream"),
        _materialized_base_state(spark, sf_dir, base),
        step,
    )
    return state_rollup(final).rollup
