"""Round-12 operator semantics beyond the differential gate: the
deterministic k-means codebook (repartition-invariance, id stability,
recall-row consistency), the incremental decontamination (hash-equal to
the full recompute, batch-only text scans), the chunk-ANN recall rows,
and the wrapped-symbol BPE oracle technique pinned against the
sequential reference on adversarial vocabularies the fixture never
hits (overlapping self-pairs, merged-symbol-as-operand)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401 — registers round12_ops
from personal_data_lakehouse_spark.plans.registry import REGISTRY
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# k-means codebook


def test_kmeans_codebook_deterministic_under_repartition(spark):
    """The quantized-mean update must be partition-order independent:
    the codebook from a repartitioned candidate set is bit-identical."""
    from personal_data_lakehouse_spark.plans.registry import t as t_
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
        _N_QUERIES,
    )
    from personal_data_lakehouse_spark.similarity.ivf import kmeans_codebook

    cand = t_(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") >= _N_QUERIES
    )
    a = kmeans_codebook(cand, _CENTROID_IDS, iters=2)
    b = kmeans_codebook(cand.repartition(13), _CENTROID_IDS, iters=2)
    rows_a = {r["cid"]: list(r["ce"]) for r in a.collect()}
    rows_b = {r["cid"]: list(r["ce"]) for r in b.collect()}
    assert rows_a == rows_b  # exact float equality — integer-sum update


def test_kmeans_codebook_moves_centroids_keeps_ids(spark):
    """Cells keep their initial ids across rounds, and Lloyd actually
    iterates: at least one centroid differs from its init vector."""
    from personal_data_lakehouse_spark.plans.registry import t as t_
    from personal_data_lakehouse_spark.plans.similarity_ops import (
        _CENTROID_IDS,
        _N_QUERIES,
    )
    from personal_data_lakehouse_spark.similarity.ivf import kmeans_codebook

    emb = t_(spark, SF_DIR, "embeddings")
    cand = emb.filter(F.col("vec_id") >= _N_QUERIES)
    cb = {r["cid"]: list(r["ce"]) for r in
          kmeans_codebook(cand, _CENTROID_IDS, iters=2).collect()}
    assert sorted(cb) == sorted(_CENTROID_IDS)
    init = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(_CENTROID_IDS)).collect()
    }
    assert any(cb[c] != init[c] for c in _CENTROID_IDS)


def test_kmeans_recall_rows_consistent(spark):
    """Both methods report one row per ground-truth query; n_hit within
    [0, 5]; recall_millis is exactly 200·n_hit; and the lowest-id rows
    agree with the registered s_ann_recall_eval's ivf rows (same plan,
    same ground truth — a drift here means the comparison is no longer
    against the operator the other queries actually use)."""
    out = REGISTRY["s_ivf_kmeans_codebook"].fn(spark, SF_DIR).collect()
    by_m: dict[str, dict] = {}
    for r in out:
        assert 0 <= r["n_hit"] <= 5
        assert r["recall_millis"] == 200 * r["n_hit"]
        by_m.setdefault(r["method"], {})[r["qid"]] = r["n_hit"]
    assert set(by_m) == {"ivf_lowid", "ivf_kmeans"}
    assert len(by_m["ivf_lowid"]) == len(by_m["ivf_kmeans"]) == 8
    spark.catalog.clearCache()
    ref = {
        r["qid"]: r["n_hit"]
        for r in REGISTRY["s_ann_recall_eval"].fn(spark, SF_DIR).collect()
        if r["method"] == "ivf"
    }
    assert by_m["ivf_lowid"] == ref


# ---------------------------------------------------------------------------
# Incremental decontamination


def test_decontaminate_incremental_matches_full_recompute(spark):
    """The stored-spine increment must land exactly on the full-recompute
    report — the Spark-side half of the shared-oracle claim (a stale
    spine row, a lost batch shingle, or a missed base-doc flip all
    surface here without the differential driver)."""
    spark.catalog.clearCache()
    inc = sorted(
        map(tuple,
            REGISTRY["t_decontaminate_incremental"].fn(spark, SF_DIR)
            .collect())
    )
    spark.catalog.clearCache()
    full = sorted(
        map(tuple,
            REGISTRY["t_eval_decontaminate"].fn(spark, SF_DIR).collect())
    )
    assert inc == full


def test_decontaminate_incremental_reads_only_batch_text(spark):
    """The scale claim as an executed-plan assertion: after the base
    artifacts exist, every documents.parquet scan in the increment plan
    carries the batch filter (doc_id >= threshold) — the base corpus's
    TEXT is never re-read; the spine and test-shingle tables are parquet
    artifact probes."""
    from personal_data_lakehouse_spark.plans.round9_ops import _inc_threshold
    from personal_data_lakehouse_spark.plans.registry import t as t_

    fn = REGISTRY["t_decontaminate_incremental"].fn
    fn(spark, SF_DIR).collect()  # manufacture artifacts (first call)
    spark.catalog.clearCache()
    thr = _inc_threshold(spark, SF_DIR, t_(spark, SF_DIR, "documents"))
    plan = (
        fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    saw_doc_scan = False
    for line in plan.splitlines():
        if "FileScan" in line and "documents.parquet" in line:
            saw_doc_scan = True
            assert re.search(rf"doc_id#\d+L? >= {thr}", line), line[:300]
    assert saw_doc_scan, "expected exactly the batch-side documents scan"


def test_inc_threshold_follows_a_rewritten_corpus(spark, tmp_path):
    """The threshold memo is stamped with documents.parquet's mtime: a
    corpus rewritten at the SAME path gets its own 80/20 split instead of
    the first corpus's cached threshold."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from personal_data_lakehouse_spark.plans.round9_ops import _inc_threshold
    from personal_data_lakehouse_spark.plans.registry import t as t_

    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    thresholds = []
    for n, stamp in ((100, 1_000_000), (200, 2_000_000)):
        pq.write_table(
            pa.table({"doc_id": list(range(n)), "text": ["a b"] * n}), path
        )
        # explicit stamps: two writes inside one filesystem tick must not
        # look like the same file
        os.utime(path, (stamp, stamp))
        docs = t_(spark, sf, "documents")
        thresholds.append(_inc_threshold(spark, sf, docs))
    assert thresholds == [99 - 99 // 5, 199 - 199 // 5]


# ---------------------------------------------------------------------------
# Chunk-ANN recall


def test_chunk_recall_rows_consistent(spark):
    """One row per query chunk (every chunk of the first five docs);
    n_hit within [0, 3]; recall_millis is the exact integer rule."""
    from personal_data_lakehouse_spark.plans.round11_ops import (
        _chunk_query_cand,
    )

    out = REGISTRY["s_chunk_ann_recall"].fn(spark, SF_DIR).collect()
    for r in out:
        assert 0 <= r["n_hit"] <= 3
        assert r["recall_millis"] == 1000 * r["n_hit"] // 3
    queries, _ = _chunk_query_cand(spark, SF_DIR)
    n_q = queries.count()
    assert len(out) == n_q and n_q > 0


# ---------------------------------------------------------------------------
# The wrapped-symbol BPE oracle technique, adversarially


def _seq_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """The sequential greedy fold (functions.bpe semantics): merges in
    training order, one left-to-right non-overlapping pass each."""
    s = list(word)
    for left, right in merges:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


def test_bpe_wrapped_replace_equals_sequential_fold():
    """The oracle's core claim in isolation: DuckDB's left-to-right
    ``replace`` over the \\x02sym\\x03-wrapped string applies a merge
    EXACTLY like the greedy fold — including the adversarial cases the
    fixture never stresses: self-pair runs ('aaaa' under (a,a) must give
    [aa, aa], not [aa, a, a] or [aaa, a]), a merged symbol as the RIGHT
    operand of a later merge, and merges whose pair reappears next to
    its own output."""
    import duckdb

    cases = [
        ("aaaa", [("a", "a")]),
        ("aaaaa", [("a", "a")]),
        ("abab", [("a", "b"), ("ab", "ab")]),
        ("parar", [("a", "r"), ("p", "ar")]),
        ("xyxyx", [("x", "y"), ("xy", "x")]),
        ("aab", [("a", "b"), ("a", "ab")]),
        ("banana", [("a", "n"), ("an", "an"), ("b", "anan")]),
    ]
    con = duckdb.connect()
    for word, merges in cases:
        expr = (
            "chr(2) || array_to_string(string_split(?, ''), "
            "chr(3) || chr(2)) || chr(3)"
        )
        sql = f"SELECT {expr} AS s"
        s = con.execute(sql, [word]).fetchone()[0]
        for left, right in merges:
            s = con.execute(
                "SELECT replace(?, chr(2) || ? || chr(3) || chr(2) || ? "
                "|| chr(3), chr(2) || ? || chr(3))",
                [s, left, right, left + right],
            ).fetchone()[0]
        got = s[1:-1].split("\x03\x02")
        assert got == _seq_encode(word, merges), (word, merges, got)


def test_bpe_oracle_matches_trainer_on_synthetic_corpus(tmp_path, spark):
    """End-to-end on a corpus DESIGNED to stress the replay: repeated
    self-pairs, merge chains that build multi-char symbols, punctuation
    survivors of the normalizer. The full injected fertility oracle
    (train + encode + rollup) must equal the Spark operator's output on
    the same synthetic documents table."""
    import duckdb

    texts = [
        "aaaa aaaa baaab " * 6,
        "parar parar arar para " * 5,
        "banana bandana cabana " * 4,
        "xy xyx xyxy xyxyx " * 5,
        "zz top zz top zzz " * 3,
    ]
    rows = [(i, t, "en" if i % 2 == 0 else "es") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(
        map(
            tuple,
            REGISTRY["t_tokenizer_fertility"]
            .fn(spark, str(tmp_path))
            .collect(),
        )
    )
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = sorted(con.sql(REGISTRY["t_tokenizer_fertility"].oracle).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# Streaming decontamination (second wave)


def test_stream_decontaminate_matches_increment(spark):
    """Three chained spine merges must land exactly on the one-batch
    stored-artifact increment (which itself equals the full recompute) —
    the Spark-side half of the three-way shared-oracle claim."""
    spark.catalog.clearCache()
    stream = sorted(
        map(tuple,
            REGISTRY["t_stream_decontaminate"].fn(spark, SF_DIR)
            .collect())
    )
    spark.catalog.clearCache()
    inc = sorted(
        map(tuple,
            REGISTRY["t_decontaminate_incremental"].fn(spark, SF_DIR)
            .collect())
    )
    assert stream == inc


def test_stream_decontaminate_report_reads_no_document_text(spark):
    """After the stream drains, the final report probes only carried
    state (localCheckpoint'ed spine/test frames): its plan contains NO
    documents.parquet scan — all text work happened inside the
    micro-batches, the O(batch) steady-state claim."""
    plan = (
        REGISTRY["t_stream_decontaminate"].fn(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "documents.parquet" not in plan, plan[:500]


# ---------------------------------------------------------------------------
# Count-min sketch


def test_countmin_never_underestimates(spark):
    """The CMS one-sided error bound: every estimate >= the exact count
    (collisions only ever ADD mass), ranks are exactly 1..15."""
    rows = (
        REGISTRY["t_countmin_heavyhitters"].fn(spark, SF_DIR).collect()
    )
    assert sorted(r["rank"] for r in rows) == list(range(1, 16))
    for r in rows:
        assert r["cms_count"] >= r["exact_count"], r
        assert r["overestimate"] == r["cms_count"] - r["exact_count"]


def test_countmin_sketch_is_mergeable(spark):
    """The scale claim: the sketch over the full corpus equals the
    cell-wise SUM of sketches over any disjoint split — the property
    that lets per-partition/per-day sketch arrays merge without ever
    revisiting tokens."""
    from personal_data_lakehouse_spark.plans.registry import t as t_
    from personal_data_lakehouse_spark.plans.round12_ops import (
        _cms_sketch,
        _token_vocab,
    )

    docs = t_(spark, SF_DIR, "documents")
    full = {
        (r["j"], r["b"]): r["bc"]
        for r in _cms_sketch(_token_vocab(docs)).collect()
    }
    merged: dict = {}
    for part in (
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ):
        for r in _cms_sketch(_token_vocab(part)).collect():
            k = (r["j"], r["b"])
            merged[k] = merged.get(k, 0) + r["bc"]
    assert full == merged


# ---------------------------------------------------------------------------
# Vocab coverage curve


def test_vocab_coverage_minimal_and_monotone(spark):
    """Each pick must actually reach its target, be MINIMAL (one fewer
    type falls short), and the curve must be monotone in the target."""
    from personal_data_lakehouse_spark.plans.registry import t as t_
    from personal_data_lakehouse_spark.plans.round12_ops import (
        _token_vocab,
    )

    rows = {
        r["target_millis"]: r
        for r in REGISTRY["t_vocab_coverage"].fn(spark, SF_DIR).collect()
    }
    assert sorted(rows) == [500, 900, 950, 990]
    counts = sorted(
        (
            r["c"]
            for r in _token_vocab(
                t_(spark, SF_DIR, "documents")
            ).collect()
        ),
        reverse=True,
    )
    total = sum(counts)
    cum = 0
    prefix = []
    for c in counts:
        cum += c
        prefix.append(cum)
    sizes = []
    for tgt, r in sorted(rows.items()):
        k = r["vocab_size"]
        assert 1000 * prefix[k - 1] >= tgt * total, (tgt, k)
        if k > 1:
            assert 1000 * prefix[k - 2] < tgt * total, (tgt, k)
        assert r["coverage_millis"] == 1000 * prefix[k - 1] // total
        assert r["coverage_millis"] >= tgt
        sizes.append(k)
    assert sizes == sorted(sizes)
