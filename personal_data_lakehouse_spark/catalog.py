"""Medallion catalog: bronze/silver/gold namespaces over Spark's catalog.

The reference organizes data as Delta paths on GCS plus BigQuery datasets
``{}_bronze/{}_silver/{}_gold`` (README.md:50-54, dbt_project.yml:26-32).
Spark-native equivalent: three schemas in the session catalog backed by the
warehouse directory, Parquet-managed tables (Delta-managed when delta-spark
is on the classpath).

Scale: partitioned managed tables get Hive-style partition pruning; writers
below choose partition columns per the reference's layout
(ingest_stocks.py:79,108 — partition by low-cardinality key + year + month).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

LAYERS = ("bronze", "silver", "gold")


def ensure_layers(spark: SparkSession) -> None:
    for layer in LAYERS:
        spark.sql(f"CREATE SCHEMA IF NOT EXISTS {layer}")


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
) -> None:
    """Create/replace or append a managed table.

    ``merge_schema`` mirrors the reference's evolving-silver write
    (transforme_stock_silver.py:146 mergeSchema=true): new columns are
    allowed to appear across writes.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    writer.saveAsTable(name)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.table(name)


# ---------------------------------------------------------------------------
# Versioned tables (time-travel-lite without Delta)


def _versions(path: str) -> list[int]:
    import os
    import re

    if not os.path.isdir(path):
        return []
    pat = re.compile(r"^v(\d+)$")
    return sorted(
        int(m.group(1))
        for d in os.listdir(path)
        if (m := pat.match(d)) and os.path.isdir(os.path.join(path, d))
    )


def write_versioned(
    df: DataFrame, path: str, keep: int = 3, partition_by: list[str] | None = None
) -> int:
    """Snapshot-versioned parquet table: each write lands in ``path/v{N}``
    and atomically advances a ``_LATEST`` pointer file; the newest ``keep``
    snapshots are retained. This is the Delta/Iceberg time-travel contract
    (read any retained version, writers never disturb readers) implemented
    with the two primitives every object store has — immutable directory
    writes and a tiny pointer swap. Readers of version N see a fully
    written, never-mutated directory, so concurrent write/read needs no
    locking; retention bounds storage at keep × table size.

    Writer-writer safety: the version directory is claimed with an
    exclusive ``os.mkdir`` (retry on EEXIST), so two concurrent writers
    cannot both land on ``v{N}`` — the loser advances to ``v{N+1}`` and
    both snapshots survive, last pointer-swap wins ``_LATEST``. (On a real
    object store this maps to an atomic put-if-absent / conditional write.)

    Returns the new version number.
    """
    import os
    import shutil

    os.makedirs(path, exist_ok=True)
    versions = _versions(path)
    new_v = (versions[-1] + 1) if versions else 1
    while True:
        try:
            os.mkdir(os.path.join(path, f"v{new_v}"))
            break
        except FileExistsError:
            new_v += 1
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(path, f"v{new_v}"))
    tmp = os.path.join(path, "_LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(str(new_v))
    os.replace(tmp, os.path.join(path, "_LATEST"))  # atomic pointer advance
    for old in _versions(path)[:-keep] if keep > 0 else []:
        shutil.rmtree(os.path.join(path, f"v{old}"), ignore_errors=True)
    return new_v


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot: latest (via the ``_LATEST`` pointer) or a pinned
    ``version`` — ``spark.read.parquet`` over an immutable snapshot dir."""
    import os

    if version is None:
        with open(os.path.join(path, "_LATEST")) as f:
            version = int(f.read().strip())
    vdir = os.path.join(path, f"v{version}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"version {version} not retained; available: {_versions(path)}"
        )
    return spark.read.parquet(vdir)


def table_versions(path: str) -> list[int]:
    """Retained snapshot versions, oldest first."""
    return _versions(path)
