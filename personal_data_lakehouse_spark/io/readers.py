"""Readers: parquet / CSV / JSON / in-memory rows (SURVEY.md §2.1 S1-S6).

The reference's sources map here as:
- S2 in-memory rows → ``local_frame`` with an explicit schema (the
  reference lets createDataFrame infer — ingest_stocks.py:131 — which is
  flaky; explicit schemas are the engine's policy).
- S3 Delta scan → ``read_parquet`` (or Delta when the package is present).
- S6 pandas CSV → ``read_csv`` (schema enforced or inferred; inference is
  a 2-pass scan — acceptable for small dims, explicit schema at scale).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sanitize: bool = False,
    **options,
) -> DataFrame:
    opts = {"header": "true", "sep": ",", "encoding": "utf-8"}
    opts.update(options)
    reader = spark.read.options(**opts)
    df = (
        reader.schema(schema).csv(path)
        if schema is not None
        else reader.option("inferSchema", "true").csv(path)
    )
    if sanitize:
        from personal_data_lakehouse_spark.io.sanitize import sanitize_columns

        df = sanitize_columns(df)
    return df


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None, **options
) -> DataFrame:
    reader = spark.read.options(**options)
    return reader.schema(schema).json(path) if schema is not None else reader.json(path)


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """Driver-side rows (tuples in schema order) → DataFrame (S2).

    Goes through a pyarrow table typed by ``to_arrow_schema(schema)``, so
    Spark plans a Catalyst ``LocalRelation`` leaf: the rows sit in the
    plan and a broadcast of them needs no job over an RDD. A Python list
    handed to ``createDataFrame`` becomes an RDD-backed ``LogicalRDD``
    instead: a broadcast join of the same 240 rows measured 0.46–0.59 s
    from it against 0.10–0.15 s from an arrow table (4 vCPUs). Nulls and
    integer widths stay exactly as the schema says: a value that does
    not fit raises.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None, **options
) -> DataFrame:
    """ORC source (Spark-native vectorized reader, same pushdown/pruning
    contract as parquet)."""
    reader = spark.read.options(**options)
    return reader.schema(schema).orc(path) if schema is not None else reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — column-format interop for warehouses that expect ORC."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_text_docs(
    spark: SparkSession, path: str, one_doc_per: str = "line"
) -> DataFrame:
    """Raw-text corpus on-ramp — the most common LLM-training-data input
    shape: a directory of ``.txt``/``.jsonl``-adjacent text where each
    LINE (default) or each FILE is one document.

    Emits ``(doc_id string, source string, text string)``:

    - ``doc_id`` is the md5 of the content — CONTENT-ADDRESSED, so ids
      are stable under re-partitioning, re-listing order, and re-ingest
      (a ``monotonically_increasing_id`` would be none of those), and
      exact dedup is a groupBy on the id itself;
    - ``source`` is the originating file (``input_file_name``), the
      provenance column the mixing/attribution operators key on;
    - empty lines are dropped in line mode (blank separators, not docs).

    Scale: ``text`` is a splittable source in line mode (files chop at
    ``spark.sql.files.maxPartitionBytes``); ``wholetext`` mode is one
    task per file — bin-pack many small files via
    ``maxPartitionBytes``/coalesce downstream, same caveat as
    ``read_media_dir``. The md5 id is a map-side expression; no shuffle
    anywhere in the reader.
    """
    from pyspark.sql import functions as F

    if one_doc_per not in ("line", "file"):
        raise ValueError(f"one_doc_per must be 'line' or 'file', got {one_doc_per!r}")
    reader = spark.read.format("text")
    if one_doc_per == "file":
        reader = reader.option("wholetext", "true")
    raw = reader.load(path)
    docs = raw.select(
        F.md5(F.col("value").cast("binary")).alias("doc_id"),
        F.input_file_name().alias("source"),
        F.col("value").alias("text"),
    )
    if one_doc_per == "line":
        docs = docs.filter(F.length("text") > 0)
    return docs


def read_text_docs_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING raw-text corpus on-ramp — the growing-directory form of
    ``read_text_docs`` (crawl/export dirs fill with .txt shards over
    time). Line mode only: ``wholetext`` would make batch boundaries a
    function of file sizes, and the content-addressed contract makes the
    distinction irrelevant downstream. Emits the IDENTICAL per-row
    projection (md5 content id, file provenance, blank-line drop),
    evaluated statelessly per micro-batch — a row's id depends only on
    its content, never on which batch delivered it (pinned
    differentially by ``q_stream_text_intake``).

    ``max_files_per_trigger`` bounds per-batch file count (respected by
    availableNow bounded runs — parity tests set it to force MULTIPLE
    micro-batches). Scale: the file-source ledger admits O(new files)
    per trigger; map-side md5, no shuffle, no state store.
    """
    from pyspark.sql import functions as F

    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    return raw.select(
        F.md5(F.col("value").cast("binary")).alias("doc_id"),
        F.input_file_name().alias("source"),
        F.col("value").alias("text"),
    ).filter(F.length("text") > 0)


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """JSONL corpus on-ramp — the standard LLM-training-data interchange
    format (one JSON object per line: The Pile, RedPajama, Dolma, and
    every crawl-dump pipeline emit it). Unlike ``read_text_docs``, the
    payload is STRUCTURED (text + metadata fields survive the trip, and
    embedded newlines/quotes arrive escaped, so nothing is collapsed).

    Policy choices a 100 TB ingest needs, baked in:

    - ``schema`` is an EXPLICIT DDL string ("doc_id bigint, text string,
      ..."), never inferred — Spark's JSON schema inference is a full
      extra pass over the input before the real scan (2× the I/O at any
      scale), and an inferred schema drifts with whatever fields the
      first sampled files happen to carry.
    - PERMISSIVE parse with a QUARANTINE column: a malformed line does
      not kill the job (FAILFAST) nor silently vanish (DROPMALFORMED) —
      it lands with all schema fields NULL and the raw line preserved in
      ``corrupt_col``, so the intake funnel can count, inspect, and
      route rejects exactly like any other quality gate. A line that is
      valid JSON but fails ONE field's type is a PARTIAL quarantine:
      that field nulls out, the other fields still parse, and the raw
      line is preserved (pinned by
      ``test_read_jsonl_docs_type_mismatch_is_partial_quarantine``) —
      decide per pipeline whether ``corrupt_col IS NOT NULL`` rejects
      such rows wholesale or salvages the parsed fields.

    Scale: JSONL is line-splittable (files chop at maxPartitionBytes,
    same as the text reader); parsing is JVM-side Jackson inside the
    scan — no Python, no shuffle, no second pass.
    """
    full = T.StructType.fromDDL(schema).add(corrupt_col, T.StringType())
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_jsonl_docs_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING JSONL corpus on-ramp — crawl dumps arrive as directories
    that grow over time, so the production shape is ``readStream`` over
    the dump dir, not a one-shot batch scan. Same contract as
    ``read_jsonl_docs`` (explicit DDL schema, PERMISSIVE parse, raw line
    quarantined in ``corrupt_col``), evaluated per micro-batch by the
    identical JVM Jackson scan — the quarantine decision is per-LINE, so
    it is independent of how the file set is chopped into batches (pinned
    differentially by ``q_stream_jsonl_intake``).

    ``max_files_per_trigger`` bounds each micro-batch's file count
    (respected by availableNow bounded runs too — set it in parity tests
    to force MULTIPLE micro-batches, so single-batch degeneration can't
    mask a per-batch bug). Scale: the file-source ledger tracks seen
    files; per-batch work is O(new files); no state store is involved for
    a stateless parse-project pipeline.
    """
    full = T.StructType.fromDDL(schema).add(corrupt_col, T.StringType())
    reader = (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)
