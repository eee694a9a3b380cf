"""Graph ranking — iterative PageRank on a DataFrame edge list.

Companion to the connected-components operator (dedup.py:341): CC
answers "which nodes belong together", PageRank answers "which nodes
are central". Both are join-per-iteration algorithms expressed as
ordinary DataFrame ops, not a graph framework: at 100 TB the edge
list is a parquet table like any other, and each iteration is one
equi-join + one grouped sum that AQE/co-partitioning optimize like
any other join.

Semantics: the classic damped recurrence
``r'(v) = (1-d)·t(v) + d * sum_{(u,v) in E} r(u)/outdeg(u)``, with the
teleport vector t uniform over all nodes (``pagerank``) or over a seed
set (``personalized_pagerank``). Dangling nodes (no out-edges) are NOT
redistributed — callers that need conserved mass should close the
graph (e.g. add reverse edges, as the trade-graph query does) or
append sink self-loops.

Scale notes:
- the edge list, its node set and its out-degree table are each
  materialized ONCE (``localCheckpoint``) before iterating, so the
  caller's edge lineage (often a join + distinct over fact tables)
  runs once instead of once per iteration and reference;
- the node count is a 1-row aggregate crossed into the teleport table
  once, never a driver-side ``count()`` action;
- the rank and out-degree tables are broadcast into each iteration's
  edge join: they hold one row per NODE, the edge list one per EDGE,
  so only the map-side-combined contribution sum shuffles — ONE
  Exchange per iteration. The node set must fit a broadcast (the
  usual case: counterparties vs trades);
- each node's teleport term rides that sum on a zero-contribution row,
  so applying it needs no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _graph(
    edges: DataFrame, src: str, dst: str, dedupe: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(edges, nodes, out-degree), each materialized once.

    localCheckpoint, not persist: blocks are tied to this DataFrame's
    RDD identity, so a fresh call recomputes from source — no cross-run
    plan-fragment cache leak."""
    edges = edges.select(src, dst)
    if dedupe:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.groupBy(src)
        .agg(F.count(F.lit(1)).cast("double").alias("_od"))
        .localCheckpoint(eager=True)
    )
    return edges, nodes, deg


def _iterate(
    edges: DataFrame,
    deg: DataFrame,
    tele: DataFrame,
    iters: int,
    damping: float,
    src: str,
    dst: str,
) -> DataFrame:
    """``iters`` damped steps from ``tele`` (node, r = r₀, _t = the
    node's teleport term (1-d)·t(v)) → (node, r).

    ONE shuffle per iteration: instead of rebuilding ranks with a
    node-sized ``tele ⟕ incoming`` join (two Exchanges + two Sorts per
    iteration), a zero contribution row per node, carrying ``_t``, rides
    the SAME grouped sum that aggregates the edge contributions.
    Contributions carry a null ``_t``, so max(_t) per node recovers the
    node's single teleport term exactly; no-in-edge nodes sum to exactly
    0.0 (x + 0.0 is exact for the non-negative contributions)."""
    tele = tele.localCheckpoint(eager=True)
    ranks = tele.select("node", "r")
    zeros = tele.select("node", "_t", F.lit(0.0).alias("_c"))
    deg = F.broadcast(deg)
    for _ in range(iters):
        rhs = F.broadcast(ranks)
        contrib = (
            edges.join(rhs, edges[src] == rhs.node)
            .join(deg, src)
            .select(
                F.col(dst).alias("node"),
                F.lit(None).cast("double").alias("_t"),
                (F.col("r") / F.col("_od")).alias("_c"),
            )
        )
        incoming = contrib.unionByName(zeros).groupBy("node").agg(
            F.max("_t").alias("_t"), F.sum("_c").alias("_s")
        )
        ranks = incoming.select(
            "node", (F.col("_t") + F.lit(damping) * F.col("_s")).alias("r")
        )
    return ranks


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    dedupe: bool = True,
) -> DataFrame:
    """PageRank over a directed edge list -> (node, r).

    PRECONDITION (enforced by default): the edge list must be simple —
    multi-edges silently double-count contributions and skew ranks.
    ``dedupe=True`` (the default) inserts ``edges.distinct()`` so every
    caller gets correct semantics; callers that have already deduped
    (e.g. the trade-graph query, whose edge build ends in distinct())
    pass ``dedupe=False`` to skip the redundant Exchange.
    Nodes are the union of both endpoint columns; every node starts at
    1/n and teleports (1-d)/n. An empty edge list gives 0 rows.
    """
    edges, nodes, deg = _graph(edges, src, dst, dedupe)
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    tele = nodes.crossJoin(F.broadcast(nn)).select(
        "node",
        (F.lit(1.0) / F.col("_n")).alias("r"),
        (F.lit(1.0 - damping) / F.col("_n")).alias("_t"),
    )
    return _iterate(edges, deg, tele, iters, damping, src, dst)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    dedupe: bool = True,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to a SEED SET
    instead of the uniform vector — relevance-to-the-seeds rather than
    global centrality (the recommendation / related-entity /
    seed-expansion workhorse). Recurrence:
    r'(v) = (1-d)·t(v) + d·Σ_{u→v} r(u)/od(u), with t uniform over
    the seed set and r₀ = t.

    ``seeds``: a DataFrame with a ``node`` column. Seeds are
    intersected with the graph's node set FIRST — a seed with no
    edges would otherwise silently leak teleport mass and make the
    result depend on out-of-graph rows, which an engine replay could
    legitimately disagree on. Raises ``ValueError`` when no seed is in
    the graph. Same per-iteration shape as ``pagerank``."""
    edges, nodes, deg = _graph(edges, src, dst, dedupe)
    s = seeds.select("node").distinct().join(nodes, "node")
    if s.limit(1).count() == 0:
        raise ValueError(
            "personalized_pagerank: no seed intersects the graph's nodes"
        )
    ns = s.agg(F.count(F.lit(1)).cast("double").alias("_ns"))
    t = F.coalesce(F.col("_is"), F.lit(0.0)) / F.col("_ns")
    tele = (
        nodes.join(s.withColumn("_is", F.lit(1.0)), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node", t.alias("r"), (F.lit(1.0 - damping) * t).alias("_t")
        )
    )
    return _iterate(edges, deg, tele, iters, damping, src, dst)
