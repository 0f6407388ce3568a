"""Query registry plumbing.

Each registered query is a (spark, sf_dir) -> DataFrame callable plus an
optional equivalent ANSI-SQL string a DuckDB oracle can run over the same
parquet tables. The driver's correctness gate compares the two at sf0.01
(row count + schema + order-insensitive value hash), so every computed
column is aliased identically on both sides, and float-producing
aggregations are expressed through exact decimal arithmetic (associative →
bit-identical across engines) with any final float derived by a single
deterministic scalar operation.

Oracle rule: a query's oracle is set in exactly one place, the ``oracle=``
argument of its ``@query``, evaluated at decoration. A shared or composed
oracle is built there too, by calling the same SQL-building function or by
reading an earlier-registered ``REGISTRY[...].oracle``; ``Query`` is frozen,
so any later assignment raises at import. ``oracle=None`` therefore means
only "rows-only".

Cache contract: several queries ``persist()`` a small intermediate that the
RETURNED lazy plan consumes (histogram, gram index, edge list …), so they
cannot unpersist before the caller materializes the result. A long-lived
driver that invokes many registry queries in one session is therefore
expected to ``spark.catalog.clearCache()`` between queries — as bench.py,
tools/plan_audit.py and tools/gen_plan_goldens.py do — or cached blocks
accumulate across invocations.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class Query:
    """One registered query. Frozen: the oracle given to ``@query`` is
    final (None = the weaker rows-only check, never "set later")."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a weaker rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; colocates the Spark implementation with its oracle."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query name {name!r}: already registered by "
                f"{REGISTRY[name].fn.__module__}.{REGISTRY[name].fn.__qualname__}"
            )
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def finalize(df: DataFrame) -> DataFrame:
    """Cast top-level DECIMAL result columns to DOUBLE.

    The aggregation itself stays in exact decimal arithmetic (associative →
    deterministic across partition orders); only the *presentation* type
    changes. Decimal→double is the correctly-rounded nearest double in both
    Spark (BigDecimal.doubleValue) and DuckDB (int128/10^scale, exact while
    the unscaled value < 2^53), so both engines emit bit-identical doubles —
    whereas a DECIMAL column survives Spark's toPandas as Decimal objects but
    comes out of DuckDB's pandas path as float64, defeating a value-hash
    comparison even when the numbers are equal.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    if not any(isinstance(f.dataType, DecimalType) for f in df.schema.fields):
        return df
    return df.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


_ORACLE_CACHE: dict[str, str] = {}
_DESCRIBE_SF_DIR = "/root/testdata/sf0.001"
_DESCRIBE_CON = None


def _describe_con():
    """One shared DuckDB connection for oracle DESCRIBE binding — building
    it per query (125 connections × 10 views) wastes driver start-up time."""
    global _DESCRIBE_CON
    if _DESCRIBE_CON is None:
        import duckdb

        con = duckdb.connect()
        for tbl in TABLES:
            con.sql(
                f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"'{_DESCRIBE_SF_DIR}/{tbl}.parquet'"
            )
        _DESCRIBE_CON = con
    return _DESCRIBE_CON


def oracle_double(name: str) -> str | None:
    """Oracle SQL for *name* with result types normalized to Spark's.

    Mirrors finalize(): DESCRIBE the oracle under DuckDB (binds types without
    executing) and, via ``SELECT * REPLACE``, wrap

    - DECIMAL columns in CAST(... AS DOUBLE) — a DECIMAL survives Spark's
      toPandas as Decimal objects but leaves DuckDB's pandas path as float64;
    - HUGEINT/UHUGEINT/UBIGINT columns in CAST(... AS BIGINT) — DuckDB binds
      SUM(int) / CASE-sum shapes as HUGEINT, which crosses its arrow path as
      decimal128(38,0) and its pandas path as float64, while Spark emits
      int64: a type-tagged value-hash miss with equal numbers. All fixture
      magnitudes fit BIGINT, so the cast is lossless.

    Falls back to the raw SQL if DuckDB or the fixture dir is unavailable.
    """
    q = REGISTRY[name]
    if q.oracle is None:
        return None
    if name in _ORACLE_CACHE:
        return _ORACLE_CACHE[name]
    wrapped = q.oracle
    try:
        con = _describe_con()
        desc = con.sql(f"DESCRIBE ({q.oracle})").fetchall()
        repls = []
        for row in desc:
            col, typ = row[0], row[1].upper()
            if typ.startswith("DECIMAL"):
                repls.append(f'CAST("{col}" AS DOUBLE) AS "{col}"')
            elif typ in ("HUGEINT", "UHUGEINT", "UBIGINT"):
                repls.append(f'CAST("{col}" AS BIGINT) AS "{col}"')
        if repls:
            wrapped = f"SELECT * REPLACE ({', '.join(repls)}) FROM ({q.oracle}) __q"
    except Exception:
        pass
    _ORACLE_CACHE[name] = wrapped
    return wrapped


# Parquet schemas by table path (validated by mtime), discovered once per
# process: without an explicit schema, EVERY spark.read.parquet(path) runs
# a 1-task footer-inference job at PLAN-BUILD time (measured by
# tools/audit.py — a uniform one-job construction floor across the
# whole registry, ~400 scheduler round-trips per full sweep). Fixture
# files are immutable per path in every shipped flow, but the entry
# stores the path's mtime anyway (r8 ADVICE): a test or tool that
# regenerates a fixture at the same path mid-process gets a fresh
# inference read instead of silently scanning with a stale schema. The
# entry is REPLACED on mtime change (r9 ADVICE — keying the dict by
# (path, mtime) stranded one dead entry per regeneration, monotonic
# growth in a long-lived process that rewrites artifact dirs). The
# stat() is driver-local and nanoseconds next to the job it replaces.
# At 100 TB the same role is played by a catalog (metastore) schema.
_TABLE_SCHEMA_CACHE: dict[str, tuple[float, object]] = {}


def _path_mtime(path: str) -> float:
    import os

    try:
        return os.stat(path).st_mtime
    except OSError:
        # path layouts stat() can't see (e.g. a glob or a remote URI):
        # a constant sentinel — such paths cache by path alone (the r8
        # behavior)
        return -1.0


def _cached_schema(path: str) -> object | None:
    ent = _TABLE_SCHEMA_CACHE.get(path)
    if ent is not None and ent[0] == _path_mtime(path):
        return ent[1]
    return None


def _store_schema(path: str, schema: object) -> None:
    _TABLE_SCHEMA_CACHE[path] = (_path_mtime(path), schema)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (columnar parquet; Catalyst prunes/pushes down).

    ``events.ts`` is normalized to microsecond TimestampType whatever the
    file encodes — fixture generations have shipped it as TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects; read nanos-as-long and
    truncate, the same truncation DuckDB applies casting TIMESTAMP_NS →
    TIMESTAMP) and as TIMESTAMP(MICROS)/NTZ (cast to session-local; the
    session timezone is pinned UTC so the cast is an exact identity on the
    stored micros, matching DuckDB's naive-UTC epoch_us).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # must be set before the FIRST (schema-discovering) read; with a
        # cached schema the flag still governs the scan's nanos handling
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = _cached_schema(path)
        if schema is None:
            df = spark.read.parquet(path)
            _store_schema(path, df.schema)
        else:
            df = spark.read.schema(schema).parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    schema = _cached_schema(path)
    if schema is None:
        df = spark.read.parquet(path)
        _store_schema(path, df.schema)
        return df
    return spark.read.schema(schema).parquet(path)


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dir with the per-path (mtime-validated) cached schema.

    For in-query corpus artifacts (``source_fixture_dir`` materializations
    — semadmit cells/labels, the incremental-pipeline stage tables): the
    first read per process infers the schema (one 1-task job); every warm
    invocation builds its plan with zero eager jobs. The mtime check makes
    a re-written artifact dir re-infer (replacing the entry) instead of
    scanning stale."""
    schema = _cached_schema(path)
    if schema is None:
        df = spark.read.parquet(path)
        _store_schema(path, df.schema)
        return df
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp-view all fixture tables so queries can use Spark SQL directly."""
    for name in TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
