"""Partitioning helpers — the knobs that make operators hold at 100 TB.

``spread`` fixes the small-input/heavy-compute case (one parquet split would
serialize CPU-bound hashing onto one core). The inverse problem — too many
tiny output files — is ``coalesce`` before the sink, applied in the writers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# spread()'s partition probe, memoized (planning cost):
# ``df.rdd.getNumPartitions()`` runs the FULL physical pipeline for the
# probe's throwaway QueryExecution — analysis, CacheManager lookup,
# physical planning and whole-stage codegen COMPILE of the entire
# subtree. Measured at sf0.1: ~0.1 s on a bare scan, but 0.35–0.5 s on
# the incremental batch funnel and 3.3 s on the e2e
# exact-dedup survivor tree — paid once per lsh_index/kernel call, per
# invocation, per stream micro-batch (the probe's work is NOT reused by
# the later real execution, which plans its own tree). The partition
# count is a pure function of (leaf file set, schema, shuffle-partition
# setting, target) for every plan shape this library probes — narrow +
# broadcast lineages keep the scan layout, wide ops emit
# spark.sql.shuffle.partitions — so the answer is cached on that key
# and each distinct plan shape pays the probe once per process.
#
# Honesty note: two plans agreeing on (leaves, schema, conf) but
# differing in wide-op structure would share an entry; the cached
# decision then inserts (or skips) one round-robin exchange — a
# parallelism heuristic either way, NEVER a semantics change (spread's
# output rows are identical with or without the repartition). Frames
# with no file leaves (checkpointed/RDD-rooted state inside streaming
# loops) are NOT memoized: without a leaf set the key would be the
# schema alone, and two such frames with the same schema but different
# partition counts would share one entry.
_SPREAD_CACHE: dict[tuple, int] = {}
_SPREAD_CACHE_CAP = 512


def probed_num_partitions(df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()`` behind the memo above."""
    spark = df.sparkSession
    key = None
    try:
        files = df.inputFiles()
        if files:
            key = (
                tuple(sorted(files)),
                df.schema.simpleString(),
                spark.conf.get("spark.sql.shuffle.partitions"),
                spark.sparkContext.defaultParallelism,
            )
    except Exception:
        pass
    n = _SPREAD_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_SPREAD_CACHE) >= _SPREAD_CACHE_CAP:
                _SPREAD_CACHE.clear()  # bound a long-lived stream driver
            _SPREAD_CACHE[key] = n
    return n


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a compute-heavy input across all cores when
    the scan produced fewer splits than the cluster has slots."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if probed_num_partitions(df) < target else df


def sharded_global_positions(
    df: DataFrame,
    bucket_col: str,
    skey_col: str,
    id_col: str,
    shard_chars: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Total 1-based global position by (bucket, skey, id) WITHOUT a
    corpus-global window — the distributed two-pass prefix-sum shape.

    shard = the first ``shard_chars`` characters of ``skey_col`` (expected
    hex-uniform, e.g. an md5). Because the shard is a PREFIX of the sort
    key, ordering by (bucket, shard, skey, id) equals ordering by
    (bucket, skey, id): per-shard local order concatenates into the global
    order. Pass 1 counts rows per (bucket, shard) and prefix-sums those
    counts (a window over ~|buckets|·16^shard_chars rows, broadcast back);
    pass 2 ranks within each (bucket, shard) — parallel across shards.
    Returns ``df`` plus a ``pos`` column.

    With ``weight_col``, ``pos`` is instead the inclusive running SUM of
    the weight in global order (row N's pos = total weight of rows 1..N) —
    the distributed form of ``SUM(w) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)``: pass 1 prefix-sums per-shard weight TOTALS, pass 2 runs
    the cumulative sum only within each shard.

    NULL handling matches the naive window's ASC NULLS FIRST: a NULL
    ``skey_col`` lands in shard '' (which sorts before every hex prefix),
    and the offsets join is null-safe on the bucket so NULL buckets rank
    first instead of silently dropping out of the permutation."""
    from pyspark.sql import Window

    base = df.withColumn(
        "_shard",
        F.coalesce(F.substring(skey_col, 1, shard_chars), F.lit("")),
    )
    per_shard = (
        F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    ).alias("_n")
    counts = base.groupBy(bucket_col, "_shard").agg(per_shard)
    prior = Window.orderBy(bucket_col, "_shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        F.col(bucket_col).alias("_ob"),
        F.col("_shard").alias("_os"),
        F.coalesce(F.sum("_n").over(prior), F.lit(0)).alias("_offset"),
    )
    intra = Window.partitionBy(bucket_col, "_shard").orderBy(skey_col, id_col)
    local = (
        F.row_number().over(intra)
        if weight_col is None
        else F.sum(weight_col).over(
            intra.rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    return (
        base.join(
            F.broadcast(offsets),
            F.col(bucket_col).eqNullSafe(F.col("_ob"))
            & (F.col("_shard") == F.col("_os")),
        )
        .withColumn("pos", local + F.col("_offset"))
        .drop("_shard", "_ob", "_os", "_offset")
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 16,
    broadcast_small: bool = False,
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed side, replicate the other.

    A hot key (one customer with 10% of all rows) funnels its whole
    shuffle partition onto one task; AQE's skew-join split fixes most
    cases at runtime, but when the build side is small enough to
    replicate — dimension tables, config tables — explicit salting
    guarantees the hot key spreads over ``salt`` tasks regardless of plan
    shape (works under windows and aggregations where AQE skew handling
    does not apply).

    The skewed side gets a deterministic per-row salt (hash of the whole
    row, mod ``salt``); the small side is exploded ``salt``× so every
    (key, salt) bucket finds its match. Equivalent rows land on the same
    salt — acceptable: salting targets hot *keys*, whose rows differ in
    their payload columns.

    Only join types that never emit unmatched *small*-side rows are legal:
    the small side exists ``salt`` times, so right/full outer joins would
    emit each unmatched small-side row once per salt value.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated small "
            f"side would duplicate unmatched rows {salt}x under right/full "
            f"outer joins (supported: {sorted(allowed)})"
        )
    skeys = [str(c) for c in on]
    salted = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(*skewed.columns), F.lit(salt)).cast("int")
    )
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    # broadcast_small=True pins the build side for dims known to fit in a
    # broadcast (Generate's unknown output stats can otherwise flip the
    # build side by fixture size — observed at sf0.001, where Catalyst
    # broadcast the SKEWED side because its file was smaller). Leave it
    # False for the operator's other regime: a dim too big to broadcast
    # but cheap to replicate salt× through the shuffle.
    if broadcast_small:
        replicated = F.broadcast(replicated)
    out = salted.join(replicated, on=[*skeys, "_salt"], how=how)
    return out.drop("_salt")
