"""Iterative graph analytics on DataFrames: PageRank + BFS distances.

The reference has no graph surface; this exists because large-scale
curation pipelines rank documents/hosts by link structure (the classic
web-quality prior) and because PageRank is the canonical *iterative*
distributed algorithm — the complement to the dedup family's connected
components (operators/dedup.py): components converge on reachability,
PageRank on a stationary distribution.

Spark-first shape: the graph never leaves DataFrames. Per iteration the
work is ONE keyed equi-join (ranks into the out-degree-annotated edge
list, shuffle on ``src``) plus ONE hash aggregate (contributions summed
by ``dst``) — exactly the two shuffles the method needs; the driver
holds nothing. At 100 TB the edge list is the big side: it is
checkpointed once (scan/degree computation paid once, lineage cut) and
re-used by every iteration, and AQE handles skewed high-degree hubs
(or pre-salt ``dst`` for pathological fan-in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Broadcast cap for the per-iteration rank vector (rows). The rank table
# is |nodes| × (long, double) ≈ 30 B/row framed — ~300 MB at the 10M
# cap, comfortably inside executor memory and far under Spark's 8 GB
# / 512M-row broadcast ceiling. Web-scale graphs have edges ≫ nodes, so
# broadcasting the rank vector and never shuffling the (checkpointed,
# possibly 100 TB) adjacency is the standard PageRank shape wherever the
# node set fits; beyond the cap the join falls back to the shuffled path.
# The decision uses the EXACT node count (already materialized for the
# teleport term) rather than Catalyst's post-aggregate size estimates,
# which undershoot and never trigger the automatic broadcast here.
_PR_BCAST_MAX_NODES = 10_000_000


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Semantics (the textbook simplified form, restated verbatim by the
    SQL oracle): dedup self-loops/parallel edges; node set =
    sources ∪ destinations; ``rank_0 = 1/N``;
    ``rank_{k+1}(v) = (1-d)/N + d · Σ_{(u,v)∈E} rank_k(u)/outdeg(u)``.
    Nodes with no in-edges settle at ``(1-d)/N``; dangling mass is NOT
    redistributed (callers wanting the ergodic variant can add the
    symmetric reverse edges, as q_graph_pagerank does — then no node
    dangles). Fixed ``iterations`` rather than a convergence test keeps
    the result a pure function of the input — the property the
    correctness oracle and any incremental re-run depend on.

    Returns ``(node: long, rank: double, n: double)`` — ``n`` (node
    count) rides along so callers can scale ranks without re-counting.

    Scale notes: the deduped edge list ``e`` is ``localCheckpoint``-ed
    once (its three consumers — degree, node set, adjacency — read the
    materialized partitions instead of each replaying the scan+distinct
    subtree), and so are ``adj`` (edges ⋈ out-degree), the 1-row node
    count and the teleport-floor rows below, so the final plan's
    lineage stays linear in ``iterations``. The iteration itself is
    join + aggregate + union: nodes with no in-edges never appear in
    the contribution aggregate, and their rank is the CONSTANT
    ``(1-d)/N`` every iteration, so instead of a per-iteration left
    join onto the full node set (an extra shuffle+sort of a static
    table, round-10 plan audit) the precomputed teleport-floor rows
    are unioned in — identical values (``base + d·0``), one equi-join
    per iteration instead of two. For iteration counts beyond ~20,
    checkpoint ``ranks`` every few rounds too (as the star rounds of
    ``connected_components`` in operators/dedup.py do every round).
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count("*").cast("double").alias("_deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_df = nodes.agg(F.count("*").cast("double").alias("n")).localCheckpoint(
        eager=True
    )
    adj = e.join(deg, "src").localCheckpoint(eager=True)  # src, dst, _deg
    base = (F.lit(1.0) - F.lit(damping)) / F.col("n")
    # static zero-in-degree set: these nodes receive no contributions,
    # so from iteration 1 on their rank is exactly the teleport floor
    floor_rows = (
        nodes.join(
            e.select(F.col("dst").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .crossJoin(F.broadcast(n_df))
        .select("node", base.alias("rank"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    # rank-vector join strategy: broadcast when the node set provably
    # fits (exact count from the 1-row checkpointed aggregate — O(1)
    # driver read), so no iteration ever shuffles or sorts the big
    # adjacency side; shuffled join past the cap
    n_nodes = int(n_df.first()["n"])
    bcast_ranks = n_nodes <= _PR_BCAST_MAX_NODES
    for _ in range(iterations):
        r = ranks.select(F.col("node").alias("src"), "rank")
        contrib = (
            adj.join(F.broadcast(r) if bcast_ranks else r, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("_deg")).alias("_c"))
        )
        ranks = (
            contrib.crossJoin(F.broadcast(n_df))
            .select(
                F.col("dst").alias("node"),
                (base + F.lit(damping) * F.col("_c")).alias("rank"),
            )
            .unionByName(floor_rows)
        )
    return ranks.crossJoin(F.broadcast(n_df))


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Breadth-first HOP DISTANCES from a source set — the frontier
    pattern, the third iterative-graph shape beside PageRank (fixpoint
    on values) and connected components (fixpoint on labels): per hop,
    expand the frontier through one keyed join, drop already-visited
    nodes with one anti-join, and checkpoint the (small) visited set so
    lineage stays linear. Returns ``(node, dist)`` with dist = minimum
    hops ≤ ``max_hops`` (sources at 0) — BFS first-reach IS the min
    distance, which is what the SQL oracle's min-over-all-walks
    restates. At 100 TB the frontier join shuffles on ``src`` like the
    PageRank iteration; the visited set is the growing side, so for
    deep traversals persist it bucketed by node."""
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = (
        sources.select(F.col(node_col).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            # checkpoint the FRONTIER too, not just visited: an
            # unmaterialized frontier would re-execute every previous
            # hop's join chain at each expansion (O(hops²) joins) and
            # compute nxt twice (once into visited, once as next probe)
            .localCheckpoint(eager=True)
        )
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited
