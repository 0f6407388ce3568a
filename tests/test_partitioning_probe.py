"""spread()'s memoized partition probe (r13): the probe's answer must be
cached per (leaf files, schema, shuffle-partitions, parallelism) and the
repartition decision must be unchanged from the un-memoized form."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from personal_data_lakehouse_spark.operators import partitioning
from personal_data_lakehouse_spark.operators.partitioning import (
    probed_num_partitions,
    spread,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_probe_matches_rdd_and_caches(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    partitioning._SPREAD_CACHE.clear()
    n = probed_num_partitions(docs)
    assert n == docs.rdd.getNumPartitions()
    assert len(partitioning._SPREAD_CACHE) == 1
    # a second, structurally fresh frame over the same leaves hits the memo
    docs2 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert probed_num_partitions(docs2) == n
    assert len(partitioning._SPREAD_CACHE) == 1


def test_cache_key_distinguishes_schema_and_conf(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    partitioning._SPREAD_CACHE.clear()
    probed_num_partitions(docs)
    # different projection (schema) -> separate entry
    probed_num_partitions(docs.select("doc_id"))
    assert len(partitioning._SPREAD_CACHE) == 2
    # different shuffle-partitions setting -> separate entry
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(int(prev) + 1))
        probed_num_partitions(docs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(partitioning._SPREAD_CACHE) == 3


def test_spread_decision_unchanged(spark):
    target = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    partitioning._SPREAD_CACHE.clear()
    out = spread(docs)
    expect_repartition = docs.rdd.getNumPartitions() < target
    assert (out is not docs) == expect_repartition
    if expect_repartition:
        assert out.rdd.getNumPartitions() == target
    # identical rows either way (the probe is a layout decision only)
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )


def test_rdd_rooted_frames_still_probe(spark):
    # frames with no file leaves (checkpointed state inside stream loops)
    df = spark.range(0, 100, 1, 2).withColumn("x", F.col("id") * 2)
    partitioning._SPREAD_CACHE.clear()
    assert probed_num_partitions(df) == df.rdd.getNumPartitions()


def test_cache_cap_bounds_growth(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    partitioning._SPREAD_CACHE.clear()
    cap = partitioning._SPREAD_CACHE_CAP
    try:
        partitioning._SPREAD_CACHE_CAP = 2
        probed_num_partitions(docs.select("doc_id"))
        probed_num_partitions(docs.select("text"))
        probed_num_partitions(docs.select("lang"))  # overflow -> reset
        assert len(partitioning._SPREAD_CACHE) <= 2
    finally:
        partitioning._SPREAD_CACHE_CAP = cap
        partitioning._SPREAD_CACHE.clear()


def test_fileless_frames_probe_their_own_count(spark):
    # same schema, no file leaves, different partition counts: the memo
    # must not hand the first frame's count to the second
    partitioning._SPREAD_CACHE.clear()
    a = spark.range(0, 10, 1, 2).localCheckpoint()
    b = spark.range(0, 10, 1, 5).localCheckpoint()
    assert probed_num_partitions(a) == 2
    assert probed_num_partitions(b) == 5
