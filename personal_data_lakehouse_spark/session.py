"""SparkSession factory.

Mirrors the reference's session bootstrap (pipelines/stock_api/
ingest_stocks.py:28-38: Delta extension + AQE on) but Spark-first: Delta is
optional (gated behind an import probe — not present in this container), AQE
and Arrow are always on, and the session timezone is pinned to UTC so results
are comparable against a DuckDB oracle (DuckDB timestamps are UTC-naive).

Scale notes
-----------
- ``spark.sql.shuffle.partitions`` defaults to the local core count here; on
  a real cluster it should be ~2-3× total executor cores (or left to AQE
  coalescing, which is enabled).
- AQE (+ skew-join handling + partition coalescing) is on so runtime
  statistics re-plan joins and fix skew without manual salting in the common
  case.
- ``maxPartitionBytes`` kept at the 128 MB default: at 100 TB that yields
  ~800k input splits, which is the right granularity for a 1000-executor
  cluster.

Plan construction
-----------------
``spark.python.sql.dataFrameDebugging.enabled`` is off. With it on (Spark's
default) PySpark wraps every DataFrame and Column call so that it records
the Python call site: it reads a conf over py4j, sets and clears the JVM's
``PySparkCurrentOrigin``, and walks the Python stack, per call. That is
most of the driver-to-JVM round trips of building a plan (one
``q01_pricing_summary`` build: 725 with capture, 175 without). Errors keep
their class, message and SQL context; they lose only the Python
``file:line`` fragment. PySpark reads the flag once, at the first API call
of the process, and keeps it, so it must be set here when the session is
built: setting it on a running session changes nothing.

Generated code
--------------
``spark.sql.codegen.cache.maxEntries`` is 4096 (Spark's default: 100).
Spark compiles each whole-stage-codegen and expression class with Janino
and keeps the compiled classes in an LRU cache of that many entries. The
engine's working sets are larger than 100: one pass over the benchmark's
``corpus_dedup`` ops makes 110-135 classes, one ``sql_reads`` pass about
98, and the 230-query registry 3,147 distinct classes at sf0.01. A cyclic
workload larger than an LRU cache misses on every access, so at the
default every warm run of a plan recompiled its classes. 4096 is the next
power of two above the registry's 3,147. A generated class averages about
2 KB of bytecode: a full registry sweep grew Metaspace from 210 to 232 MB
and compressed class space from 26 to 29 MB. The cache is built once per
JVM from a static SQL conf, so it must be set here when the session is
built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """24g, capped at half the host's physical memory: a heap limit above
    RAM lets the JVM keep growing until the kernel OOM-kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, phys // 2**21)}m"


def delta_available() -> bool:
    """Probe for the optional delta-spark package (not in this container)."""
    try:
        import delta  # noqa: F401

        return True
    except Exception:
        return False


def get_spark(
    app_name: str = "personal_data_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Deterministic-comparison settings (UTC session timezone, ANSI off so
    divide-by-zero yields NULL like BigQuery's SAFE_DIVIDE fallback path) are
    part of the engine's defined semantics — see SURVEY.md §7 "what's hard".
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate through Arrow batches (ArrowEvalPythonUDTF)
        # instead of row-at-a-time pickling (BatchEvalPythonUDTF) — same
        # rows, ~10× less serialization overhead on wide corpus scans; the
        # registry-wide lint (tests/test_plan_lint.py) forbids the row path.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no per-call Python call-site capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # compiled-class cache above the registry's 3,147-class working set,
        # so warm runs reuse their generated code (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if delta_available():
        # Same two configs the reference sets for Dataproc (ingest_stocks.py:32-33).
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Janino compiles of this JVM so far: (classes, seconds).

    Both counters are JVM-wide and only grow; a cache hit compiles nothing.
    """
    jvm = spark.sparkContext._jvm
    metrics = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    gen = getattr(
        jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
    )
    count = metrics.__getattr__("MODULE$").METRIC_COMPILATION_TIME().getCount()
    # compileTime accumulates nanoseconds
    return count, gen.__getattr__("MODULE$").compileTime() / 1e9
