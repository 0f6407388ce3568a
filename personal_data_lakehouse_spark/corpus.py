"""End-to-end training-corpus pipeline: the LLM-data counterpart of
``pipelines.daily_pipeline``.

Chains the engine's corpus operators into one medallion-style DAG —
intake filters → exact dedup → near-dup (MinHash-LSH) canonicalization →
temperature-scaled domain rebalance → deterministic train/val/test split →
per-source sequence packing — writing each stage as a managed table so any
stage is independently inspectable/resumable, and returning per-stage row
counts (the retention funnel).

Every stage is a pure function of the input corpus (md5 coins, min-id
survivors, fingerprint keys), so the whole pipeline is deterministic:
re-running it — or running it on another engine — reproduces the same
tables. Scale notes live with each operator (SCALE.md §8/§12); this module
adds no new shuffles beyond the operators it composes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.catalog import write_table
from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
from personal_data_lakehouse_spark.dedup.exact import exact_dedup
from personal_data_lakehouse_spark.dedup.minhash import lsh_candidate_pairs
from personal_data_lakehouse_spark.functions.text import (
    token_count_whitespace,
)

MIN_CHARS = 100
MIN_TOKENS = 15
LANGS = ("en", "es", "de", "fr")


def _coin(col, salt: str):
    """4-hex-digit md5 coin — a pure function of the id, layout-independent."""
    return F.substring(
        F.md5(F.concat(col.cast("string"), F.lit(salt)).cast("binary")), 1, 4
    )


def intake(docs: DataFrame) -> DataFrame:
    """Length + language + token-count gates (the cheap map-side filters
    run FIRST so every later stage touches less data)."""
    return docs.filter(
        (F.col("n_chars") >= MIN_CHARS)
        & F.col("lang").isin(*LANGS)
        & (token_count_whitespace("text") >= MIN_TOKENS)
    )


def dedup_exact_stage(docs: DataFrame) -> DataFrame:
    """Keep one representative (min doc_id) per distinct normalized text."""
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id")


def dedup_near_stage(docs: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup clusters; keep each cluster's canonical doc."""
    pairs = lsh_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    clusters = dedup_clusters(docs, pairs)
    return docs.join(
        clusters.filter(F.col("is_canonical")).select("doc_id"), "doc_id"
    )


def rebalance_stage(docs: DataFrame) -> DataFrame:
    """Temperature (α=0.5) domain rebalance: keep-prob sqrt(min_n/n_s).

    min_n comes from a global window over the per-source counts rather
    than a separate ``counts.agg(...)`` branch: the two-branch shape
    consumed ``counts`` twice, and since ``counts`` is an aggregate over
    the full ``docs`` subtree, Catalyst re-executed that subtree once per
    branch — one extra full pass over the corpus-sized input per
    invocation (guide §1.2/§2.4; r12 optimization). The window runs on
    the |sources|-row count table (one tiny single-partition exchange),
    so the corpus subtree now feeds rebalance exactly twice (counts +
    the keep join) instead of three times."""
    from pyspark.sql import Window

    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # The unpartitioned window below is the one Spark logs as "No Partition
    # Defined for Window operation": it sees one row per source, so its
    # single partition is bounded by the number of sources, not the corpus.
    thr = counts.select(
        "source",
        "n_s",
        F.min("n_s").over(Window.partitionBy()).alias("min_n"),
    ).select(
        "source",
        "n_s",
        "min_n",
        F.floor(
            F.lit(65536) * F.sqrt(F.col("min_n").cast("double") / F.col("n_s"))
        )
        .cast("long")
        .alias("th"),
    )
    keep = (F.col("n_s") == F.col("min_n")) | (
        _coin(F.col("doc_id"), ":cmix")
        < F.lower(F.lpad(F.hex(F.col("th")), 4, "0"))
    )
    return (
        docs.join(F.broadcast(thr), "source")
        .filter(keep)
        .select(*docs.columns)
    )


def split_stage(docs: DataFrame) -> DataFrame:
    """Deterministic ~80/10/10 split keyed on the doc id coin."""
    coin = _coin(F.col("doc_id"), ":csplit")
    return docs.withColumn(
        "split",
        F.when(coin < "cccd", "train")
        .when(coin < "e666", "val")
        .otherwise("test"),
    )


def packed_docs(
    docs: DataFrame, budget: int = 512, tok_col: str | None = None
) -> DataFrame:
    """Per-document packing assignment: ``[doc_id, source, split, tok,
    seq_id]`` — the running-token cumsum within (source, split) ordered
    by doc_id, binned by ``budget``.  Exposed separately from
    ``pack_stage`` so the e2e pipeline rollup can aggregate doc-level
    facts (id fingerprints) and bin-level facts in one pass.

    ``tok_col`` names a PRECOMPUTED token-count column (the incremental
    pipeline packs the survivor SKELETON — ids + stored counts — without
    re-reading any text); None keeps the original text-derived count,
    expression-identical to the r8 plan.

    The window is partitioned per (source, split) — fine while every
    source×split slice fits a task; the registered
    ``t_pack_sequences_sharded`` two-pass prefix-sum is the 100 TB path
    for skewed slices and composes here unchanged."""
    from pyspark.sql import Window

    tok = (
        token_count_whitespace("text")
        if tok_col is None
        else F.col(tok_col).cast("int")
    )
    toks = docs.select("doc_id", "source", "split", tok.alias("tok"))
    w = (
        Window.partitionBy("source", "split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return toks.withColumn("cum", F.sum("tok").over(w)).withColumn(
        "seq_id", F.expr(f"(cum - tok) div {budget}")
    )


def pipeline_rollup(pd: DataFrame) -> DataFrame:
    """Per-(source, split) end-state rollup over a ``packed_docs`` frame —
    the hashed surface shared VERBATIM by ``t_corpus_pipeline_e2e`` and
    ``t_corpus_pipeline_incremental`` (same expressions ⇒ the two parity
    queries cannot drift): surviving docs, whitespace-token mass,
    packed-bin count, and a 40-bit-md5 order-independent id-set
    fingerprint (headroom for ~8M docs per slice before BIGINT overflow).
    """
    id_fp = F.conv(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 10
        ),
        16,
        10,
    ).cast("long")
    return pd.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.countDistinct("seq_id").cast("long").alias("n_bins"),
        F.sum(id_fp).cast("long").alias("id_fp"),
    )


def pack_stage(docs: DataFrame, budget: int = 512) -> DataFrame:
    """Per-(source, split) sequence packing rollup over ``packed_docs``."""
    return packed_docs(docs, budget).groupBy("source", "split", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("total_tokens"),
    )


def corpus_pipeline(
    spark: SparkSession, docs: DataFrame, namespace: str = "corpus"
) -> dict[str, int]:
    """Run the full corpus DAG, persisting every stage as a managed table
    under ``namespace`` and returning the per-stage retention funnel."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", namespace):
        raise ValueError(
            f"namespace {namespace!r} is not a valid SQL identifier "
            "(expected [A-Za-z_][A-Za-z0-9_]*)"
        )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {namespace}")
    stages: dict[str, int] = {"raw": docs.count()}

    cleaned = intake(docs)
    write_table(cleaned, f"{namespace}.intake")
    stages["intake"] = cleaned.count()

    exact = dedup_exact_stage(cleaned)
    write_table(exact, f"{namespace}.dedup_exact")
    stages["dedup_exact"] = exact.count()

    near = dedup_near_stage(exact)
    write_table(near, f"{namespace}.dedup_near")
    stages["dedup_near"] = near.count()

    mixed = rebalance_stage(near)
    write_table(mixed, f"{namespace}.rebalanced")
    stages["rebalanced"] = mixed.count()

    split = split_stage(mixed)
    write_table(split, f"{namespace}.split", partition_by=["split"])
    stages["split"] = split.count()

    packed = pack_stage(split)
    write_table(packed, f"{namespace}.packed")
    stages["packed_sequences"] = packed.count()
    return stages
