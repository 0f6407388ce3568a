"""Connected-components dedup clustering: ``dedup_clusters`` on hand-built
graphs and on both closure paths, plus a hypothesis differential against a
sequential union-find (the differential gate covers the LSH-fed queries
end-to-end)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import bench
from perfbench.spans import Tracer
from personal_data_lakehouse_spark.dedup import cluster
from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters


def _clusters(spark, docs, pairs, cap=cluster.DRIVER_EDGE_CAP):
    """``{doc_id: (cluster_id, is_canonical, cluster_size)}`` of
    ``dedup_clusters`` over the ids *docs* and the edges *pairs*, with
    ``DRIVER_EDGE_CAP`` set to *cap* (0 forces the propagation loop)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "DRIVER_EDGE_CAP", cap)
        out = dedup_clusters(
            spark.createDataFrame([(d,) for d in docs], "doc_id long"),
            spark.createDataFrame(pairs, "id_a long, id_b long"),
        ).collect()
    return {
        r.doc_id: (r.cluster_id, r.is_canonical, r.cluster_size) for r in out
    }


# Every shape test runs on BOTH execution strategies: the driver
# union-find (default cap) and the distributed propagation loop (cap 0) —
# the adaptive gate must be invisible in results.
_CAPS = pytest.mark.parametrize(
    "cap", [cluster.DRIVER_EDGE_CAP, 0], ids=["driver", "loop"]
)


@_CAPS
def test_two_components_and_chain(spark, cap):
    # {1,2,3} dense triangle, {10,11,12,13} a chain — min-label must cross
    # the whole chain (exercises multi-round propagation).
    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13)]
    got = _clusters(spark, [1, 2, 3, 10, 11, 12, 13], pairs, cap)
    assert got == {
        1: (1, True, 3), 2: (1, False, 3), 3: (1, False, 3),
        10: (10, True, 4), 11: (10, False, 4), 12: (10, False, 4),
        13: (10, False, 4),
    }


@_CAPS
def test_edge_orientation_irrelevant(spark, cap):
    # Same component regardless of (id_a, id_b) order.
    got = _clusters(spark, [2, 5, 9], [(5, 2), (2, 9)], cap)
    assert got == {2: (2, True, 3), 5: (2, False, 3), 9: (2, False, 3)}


@_CAPS
def test_explicit_node_superset_keeps_isolated(spark, cap):
    # the corpus is a superset of the edge endpoints: a doc with no pair
    # keeps its own id as a singleton cluster
    got = _clusters(spark, [1, 2, 99], [(1, 2)], cap)
    assert got == {1: (1, True, 2), 2: (1, False, 2), 99: (99, True, 1)}


def test_dedup_clusters_full_corpus_labeling(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame([(2, 4), (4, 6)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
    assert len(rows) == 6
    assert [rows[i].cluster_id for i in (2, 4, 6)] == [2, 2, 2]
    assert [rows[i].cluster_id for i in (1, 3, 5)] == [1, 3, 5]
    assert rows[2].is_canonical and not rows[4].is_canonical
    assert rows[2].cluster_size == 3 and rows[1].cluster_size == 1
    # canonical count == number of clusters
    assert sum(1 for r in rows.values() if r.is_canonical) == 4


def test_nonconvergence_raises(spark):
    # max_iter=1 (= 2 propagation hops) cannot close a 4-node chain.
    e = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13)], "id_a long, id_b long"
    )
    raw = cluster._edge_checkpoint(e, "id_a", "id_b")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        cluster._propagate(raw, max_iter=1)


def _union_find(pairs, n=10):
    """Sequential reference: component root (min id) of each of 0..n-1;
    an edge with a null endpoint joins nothing."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n)]


# Random edge lists over ids 0..9: self-loops, duplicate and reversed
# edges arise naturally; None stands for a null endpoint.
_PAIRS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 9)),
        st.one_of(st.none(), st.integers(0, 9)),
    ),
    min_size=1,
    max_size=12,
)
# a self-loop, duplicate and reversed edges and null endpoints, run on
# every property below besides the drawn lists
_EVERY_SHAPE = [
    (1, 1), (2, 3), (3, 2), (2, 3), (3, 7), (None, 4), (5, None), (None, None)
]


@_CAPS
@settings(max_examples=8, deadline=None)
@given(pairs=_PAIRS)
@example(pairs=_EVERY_SHAPE)
def test_random_graphs_match_union_find(spark, cap, pairs):
    """BOTH execution strategies must reach the same unique fixpoint as a
    sequential union-find on ANY edge list over the 10-doc corpus —
    including self-loops, duplicate/reversed edges, null endpoints and the
    chain shapes that need the most rounds: cluster id (min id of the
    component), canonical flag and cluster size of every doc. Guards the
    fused round structure and its hop-2-only convergence test against
    off-by-one-hop early exits, and the driver union-find against min-root
    drift."""
    root = _union_find(pairs)
    want = {
        d: (root[d], root[d] == d, root.count(root[d])) for d in range(10)
    }
    assert _clusters(spark, range(10), pairs, cap) == want


def _jobs(spark, action):
    """Number of Spark jobs *action* runs, counted by submission time."""
    spark.sparkContext.parallelize([0]).count()
    tracer = Tracer(enabled=True)
    with tracer.span("action"):
        action()
    return len(bench.span_jobs(spark, tracer)["action"][1])


def test_driver_path_runs_bounded_eager_jobs(spark):
    """The adaptive closure's whole point is SCHEDULER-JOB economy: the
    loop path ran ~30 eager checkpoint/AQE jobs even on a 3-edge graph.
    Pin the driver path to its measured eager jobs (the raw edge
    checkpoint + the bounded limit(cap+1) collect) so a refactor that
    silently re-introduces per-round materialization fails here instead
    of waiting for a bench regression."""
    docs = spark.range(1, 12).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    # labels DF built, NOT consumed
    jobs = _jobs(spark, lambda: dedup_clusters(docs, pairs))
    assert jobs <= 2, (
        f"driver-path closure ran {jobs} eager jobs — the bounded-collect "
        "contract (edge checkpoint + limit(cap+1) collect) is broken"
    )


def test_driver_path_returns_local_labels_consumed_in_two_jobs(spark):
    """Under the cap the returned plan is docs ⋈ broadcast(LocalRelation):
    no RDD-backed leaf (a LogicalRDD made the label broadcast a 0.3 s job
    of its own), and consuming it runs at most two jobs."""
    docs = spark.range(1, 7).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(2, 4), (4, 6)], "id_a long, id_b long")
    out = dedup_clusters(docs, pairs)
    qe = out._jdf.queryExecution()
    for plan in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in qe.executedPlan().toString()
    rows = []
    jobs = _jobs(spark, lambda: rows.extend(out.collect()))
    assert len(rows) == 6
    assert jobs <= 2, f"driver-path labels consumed in {jobs} jobs"


def test_over_cap_path_runs_the_edge_plan_once(spark):
    """Over the cap, the bounded probe and the propagation loop both read
    the one raw-edge checkpoint: the edge-producing plan (here a Python
    UDF that counts the rows it sees) runs once per edge row in total."""
    seen = spark.sparkContext.accumulator(0)

    def tick(x):
        seen.add(1)
        return x

    tick_udf = F.udf(tick, "long")
    chain = [(i, i + 1) for i in range(5)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long").select(
        tick_udf("id_a").alias("id_a"), "id_b"
    )
    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "DRIVER_EDGE_CAP", 2)
        rows = dedup_clusters(docs, pairs).collect()
    assert {r.cluster_id for r in rows} == {0}
    assert seen.value == len(chain)


def test_cap_boundary_falls_through_to_loop(spark):
    """A graph whose edge rows exceed the cap must take the distributed
    loop and still produce the exact fixpoint — pins the limit(cap+1)
    probe's fall-through arithmetic (an off-by-one that collected a
    TRUNCATED edge list would silently under-merge). The path taken shows
    in the returned plan: only the loop's labels are an RDD checkpoint."""
    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )  # 5-edge chain
    for cap, loop in ((4, True), (5, False)):  # over, and exactly at, the cap
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cluster, "DRIVER_EDGE_CAP", cap)
            out = dedup_clusters(docs, pairs)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("LogicalRDD" in plan) == loop, (cap, plan)
        got = {r.doc_id: (r.cluster_id, r.cluster_size) for r in out.collect()}
        assert got == {i: (0, 6) for i in range(6)}
