"""Connected-components clustering for near-duplicate canonicalization.

Pair-producing dedup ops (MinHash-LSH, SimHash, embedding-cosine) emit
*edges*; an actual dedup pipeline must then pick ONE representative per
transitive duplicate cluster.  That closure step is this module's
``dedup_clusters``: given a corpus and an edge list, label every document
with its component's minimum id (a stable, deterministic canonical id),
so `keep = (doc_id == cluster_id)` is the dedup decision.

The raw edge rows are materialized ONCE (one checkpoint of the
edge-producing plan, e.g. the whole MinHash-LSH pipeline), and one of two
strategies closes them — both reach the same min-reachable-id fixpoint:

- **Small graph** (at most ``DRIVER_EDGE_CAP`` edge rows, the common
  late-pipeline case): a bounded ``limit(cap+1)`` collect, a min-root
  union-find on the driver, and the cluster sizes counted there too. The
  labels go back to Spark as a Catalyst
  ``LocalRelation`` (``io.readers.local_frame``), so labeling the corpus
  is one broadcast join whose build side needs no job over an RDD.
- **Large graph**: iterative min-label propagation expressed as DataFrame
  joins/aggregations — per round, every node takes the minimum label
  among itself and its direct neighbors; convergence after
  `diameter(component)` rounds.  Near-dup clusters in a real corpus are
  dense and shallow (duplicates of a common source, diameter ≲ 4), so the
  loop runs 3-5 rounds even at billions of edges.  Each round is one
  shuffle join on the edge list plus one aggregation — the same cost
  envelope as the large-star/small-star MapReduce formulation (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14) without
  its neighborhood re-materialization; switch to that formulation only if
  components with very large diameters are expected (chain-shaped
  graphs), which LSH output is not.  Lineage is truncated every round
  with ``localCheckpoint`` so the plan does not grow with iterations
  (Spark's iterative-algorithm pitfall).  This path stores the edge list
  twice while it runs: the raw-row checkpoint (which the bounded probe
  needed) and the symmetrized adjacency the rounds join against.

The reference has no dedup beyond MERGE-on-key (SURVEY §2.3 J1,
`pipelines/stock_api/ingest_stocks.py:84-100`); this is north-star
extension surface (BASELINE.json).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from personal_data_lakehouse_spark.io.readers import local_frame


DRIVER_EDGE_CAP = 1 << 16
"""Adaptive-closure gate: when the edge list holds at most this many
ROWS — as the producer emits them, so duplicate and reversed copies and
self-loops each count — the closure runs as a driver-side union-find over
one bounded collect instead of the iterative propagation loop.  65 536
rows is a few MB on the wire and microseconds of union-find — far below
the O(K)-collect sizes already accepted elsewhere (sampling seeds, PQ
codebooks) — while every serial checkpoint barrier the loop would have
paid disappears.  The EDGE list is what is counted, not the corpus:
late-pipeline dedup batches over a curated corpus have few surviving
near-dup pairs even at 100 TB corpus scale, so this is the common
production case; a raw-crawl first pass with billions of pairs exceeds
the cap within the bounded probe's first cap+1 rows and takes the
distributed loop."""


def _edge_checkpoint(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The raw edge rows as ``(a, b)``, materialized once.

    Both strategies read this checkpoint, so the (possibly expensive)
    edge-producing plan runs exactly once whichever one closes the graph.
    No explode or distinct here: the driver path needs neither, and the
    loop derives its symmetrized adjacency from the checkpoint.
    coalesce first: a checkpointed plan keeps its upstream shuffle
    partitioning (AQE cannot re-coalesce it), so the edge list — orders of
    magnitude smaller than whatever produced it — would otherwise drag one
    task per producer shuffle partition through every later read.
    defaultParallelism = one task per core, the same idiom as
    m_triangle_count's edge cache."""
    npart = edges.sparkSession.sparkContext.defaultParallelism
    return (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .coalesce(npart)
        .localCheckpoint()
    )


def _driver_roots(raw: DataFrame, cap: int) -> dict | None:
    """``{node: min id of its component}`` from a min-root union-find over
    the collected edge rows, or None when they exceed *cap* rows (or
    *cap* is 0). The ``limit(cap+1)`` probe bounds what crosses to the
    driver; an over-cap graph has paid only this probe's scan of the
    checkpoint the loop reads anyway. coalesce(1) makes the probe ONE
    job: a multi-partition limit scans the first partition, then the
    rest, in a second job; one task reading the checkpoint stops at
    cap+1 rows either way."""
    if not cap:
        return None
    rows = raw.coalesce(1).limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    parent: dict = {}

    def _find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        # a null endpoint joins nothing, but the other endpoint is still a
        # node — the propagation loop keeps it through its self row
        for n in (a, b):
            if n is not None:
                parent.setdefault(n, n)
        if a is None or b is None:
            continue
        ra, rb = _find(a), _find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            # larger root attaches UNDER the smaller, so every tree's root
            # is its component's minimum id — the same fixpoint the
            # propagation loop converges to
            parent[rb] = ra
    return {n: _find(n) for n in parent}


def _propagate(raw: DataFrame, max_iter: int = 25) -> DataFrame:
    """The distributed closure over the edge checkpoint *raw* (``a``,
    ``b``): ``DataFrame[node, label]`` for every non-null endpoint, the
    label being the minimum id reachable from it, by two-hop min-label
    propagation.

    Raises ``RuntimeError`` if not converged within ``max_iter`` rounds;
    each round materializes TWO propagation hops, so the cap allows
    component diameters up to 2·max_iter (a real near-dup corpus
    converges in ≤ 3 rounds; hitting the cap means the edge list is
    chain-shaped and the large-star/small-star variant should be used)."""
    npart = raw.sparkSession.sparkContext.defaultParallelism
    # Symmetrize + SELF-LOOP by EXPLODING out of one pass rather than
    # unioning branches. Self-loops (v, v) for every node make each
    # propagation hop ONE join + ONE agg that consumes the label table
    # exactly once — the old shape consumed it TWICE per hop (left side of
    # an outer join + the nbr_min build), and Spark's ReuseExchange does
    # NOT fire across those differently-keyed consumers (verified r8: the
    # un-persisted plan executed hop 1's join+agg twice per round; a
    # persist() fixes the duplication but measured SLOWER at sf0.01/sf0.1
    # — cache build + AQE-less cached exchanges cost more than the
    # AQE-coalesced duplicate). The self row also doubles as the old-label
    # carrier for change detection. Row overhead: ≤ one loop row per
    # edge-incident node.
    a, b = F.col("a"), F.col("b")
    orient = [
        F.struct(a.alias("a"), b.alias("b")),
        F.struct(b.alias("a"), a.alias("b")),
        F.struct(a.alias("a"), a.alias("b")),
        F.struct(b.alias("a"), b.alias("b")),
    ]
    sym = raw.select(F.explode(F.array(*orient)).alias("e")).select(
        "e.a", "e.b"
    )
    # a null endpoint joins nothing: drop the orientations that carry one
    # (the non-null end keeps its self row), as the driver path does
    adj = (
        sym.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .coalesce(npart)
        .localCheckpoint()
    )
    # The labels checkpoint keeps round 1's plan shape identical to later
    # rounds (checkpoint-scan input), so the loop compiles ONE codegen
    # plan reused every round.
    labels = (
        adj.filter(F.col("a") == F.col("b"))
        .select(F.col("a").alias("node"), F.col("a").alias("label"))
        .coalesce(npart)
        .localCheckpoint()
    )

    def _hop(lab: DataFrame) -> DataFrame:
        return (
            adj.join(lab, adj.b == lab.node)
            .groupBy("a")
            .agg(
                F.min("label").alias("label"),
                # exactly one self row per node → min() picks its old label
                F.min(F.when(F.col("a") == F.col("b"), F.col("label"))).alias(
                    "_old"
                ),
            )
            .select(
                F.col("a").alias("node"),
                "label",
                (F.col("label") < F.col("_old")).cast("int").alias("_chg"),
            )
        )

    # TWO propagation hops per materialized round: each checkpoint (a
    # full shuffle barrier + driver job) covers distance-2 propagation,
    # halving the serial-barrier count for the shallow components LSH
    # emits — the loop's cost at any scale is barriers, not rows.
    # Convergence needs only the SECOND hop's change flags: hop 2 is a
    # complete propagation step over hop 1's labels, so zero changes in
    # hop 2 means those labels were already the fixpoint (whatever hop 1
    # did). The flag rides inside the checkpointed rows, so detection is
    # a map-side sum over the checkpoint, not a separate join job.
    # (One-hop rounds for tiny graphs were considered and rejected: a
    # diameter-1 graph converges in ONE two-hop round — hop 1 changes,
    # hop 2 proves the fixpoint — vs TWO one-hop barriers, so two-hop
    # rounds are barrier-optimal at every graph size.)
    for _ in range(max_iter):
        stepped = (
            _hop(_hop(labels).drop("_chg"))
            .coalesce(npart)
            .localCheckpoint()
        )
        changed = stepped.agg(F.sum("_chg")).first()[0]
        labels = stepped.drop("_chg")
        if not changed:
            return labels
    raise RuntimeError(f"dedup closure: no fixpoint in {max_iter} rounds")


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Canonicalize near-dup pairs into clusters over the full corpus.

    Returns one row per document: ``[doc_id, cluster_id, is_canonical,
    cluster_size]``.  The canonical representative is the minimum doc_id
    of the cluster — stable under re-runs and independent of partitioning.

    Up to ``DRIVER_EDGE_CAP`` pair rows, the closure AND the cluster sizes
    are computed on the driver, and the returned plan is ``docs ⋈
    broadcast(local (node, cluster_id, cluster_size))`` — consuming it
    runs the corpus scan and the broadcast of a ``LocalRelation``, two
    jobs, no label shuffle. Over the cap, the propagation loop labels the
    edge-incident nodes and a distributed ``groupBy`` sizes the clusters.
    Either way the pair-producing plan runs once, at build.

    CONTRACT: ``pairs`` must reference only ids present in ``docs`` (the
    natural shape — every registered caller generates pairs FROM the same
    corpus it labels).  Sizes and canonical picks come from the
    edge-derived label table, deliberately NOT from a corpus-relative
    count (which would shuffle all corpus ids a second time just to count
    the handful of multi-member clusters); if ``docs`` were a strict
    subset of the pair universe, a cluster's size would count unseen
    members and its canonical id could fall outside ``docs`` (leaving
    every visible member ``is_canonical=false``).  Filter ``pairs`` to the
    corpus first when labeling a sub-corpus.
    """
    # Label ONLY nodes incident to an edge — in a deduplicated corpus that
    # subgraph is orders of magnitude smaller than the corpus (most
    # documents have no near-dup pair), and every non-singleton member is
    # in it; absent docs default to their own id and size 1. The corpus is
    # touched exactly once, by the final left join.
    raw = _edge_checkpoint(pairs, id_a, id_b)
    roots = _driver_roots(raw, DRIVER_EDGE_CAP)
    if roots is None:
        cc = _propagate(raw)
        sizes = cc.groupBy("label").agg(F.count(F.lit(1)).alias("_csz"))
        labeled = cc.join(sizes, "label").select(
            "node", F.col("label").alias("_cl"), "_csz"
        )
    else:
        sizes = Counter(roots.values())
        ntype = raw.schema["a"].dataType
        labeled = F.broadcast(
            local_frame(
                pairs.sparkSession,
                [(n, r, sizes[r]) for n, r in roots.items()],
                T.StructType(
                    [
                        T.StructField("node", ntype),
                        T.StructField("_cl", ntype),
                        T.StructField("_csz", T.LongType()),
                    ]
                ),
            )
        )
    return (
        docs.select(id_col)
        .join(labeled, F.col(id_col) == labeled.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_cl"), F.col(id_col)).alias("cluster_id"),
            (
                F.coalesce(F.col("_cl"), F.col(id_col)) == F.col(id_col)
            ).alias("is_canonical"),
            F.coalesce(F.col("_csz"), F.lit(1)).cast("long").alias(
                "cluster_size"
            ),
        )
    )
