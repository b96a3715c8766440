"""Link-graph ranking for crawl prioritization.

A frontier scheduler needs a host/page authority signal: pages linked from
many high-rank pages should be fetched before deep spam clusters (the
classic crawl-ordering result of Cho, Garcia-Molina & Page, "Efficient
crawling through URL ordering", WWW 1998 [pub]). This module implements
PageRank (Page, Brin, Motwani & Winograd, "The PageRank citation ranking",
Stanford tech report 1999 [pub]) as a batch-iterative DataFrame operator in
the same shape as the engine's crawl loop: one shuffle per iteration, plans
truncated with ``localCheckpoint`` so the lineage stays O(1)-deep (the same
fix ``ops/dedup.cluster_pairs`` pins with
``test_cluster_pairs_iteration_cost_is_flat``).

Determinism contract: all arithmetic is **exact fixed-point integer** math.
Float PageRank sums are order-dependent (parallel reduction order changes
the low bits), which would break the driver's value-hash gate; integer sums
are associative-exact, so the ranks are bit-identical across partitionings,
parallelism levels, and engines. The update rule, with SCALE = 10^12 and
damping d = num/den (default 85/100):

    per_node   = SCALE div N
    rank_0(v)  = per_node
    contrib(u) = rank_k(u) div outdeg(u)          -- floor division
    rank_k+1(v) = ((den-num) * per_node) div den
                  + (num * sum_{u->v} contrib(u)) div den

Dangling nodes (no out-edges) contribute nothing — their mass leaks instead
of being redistributed. That is a documented simplification (redistribution
needs an extra global sum per iteration); both the Spark operator and any
oracle replicating it must make the same choice, and the floor divisions
must sit in exactly the same places.

Scale design (10^10-edge graph): edges are deduplicated and persisted once
with out-degree attached, so each iteration is ONE shuffle (groupBy dst)
plus a join against the cached edge table; ranks are ~N rows, hash-joined on
the node key. Iteration count is fixed (power iteration converges
geometrically at rate d; 8-12 iterations ranks a crawl frontier fine), so
there is no per-iteration convergence action — exactly one job per
iteration, pinned by ``test_pagerank_iteration_cost_is_flat``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 8,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
) -> DataFrame:
    """Exact fixed-point-integer PageRank over ``edges`` (src, dst).

    ``nodes`` is the full vertex set (single column ``node``) — it must
    cover every src and dst plus any isolated vertices that should receive
    the teleport mass. Returns (node, pagerank_scaled: bigint) where
    pagerank_scaled ≈ rank * scale.
    """
    # Plans are SQL text (selectExpr, joins on renamed columns): a
    # Column-API call costs ~12 py4j round trips, and the engine builds
    # this plan every pagerank round.
    e = edges.selectExpr(
        "CAST(src AS BIGINT) AS src", "CAST(dst AS BIGINT) AS dst"
    ).distinct()
    deg = e.groupBy("src").agg(F.expr("count(1) AS deg"))
    # Persist edges WITH degree attached: the per-iteration join then touches
    # one cached table, not two, and the degree division stays JVM-side.
    ed = e.join(deg, "src").persist()
    n_nodes = nodes.count()
    if n_nodes == 0:
        # Materialize even the empty frame (and release the edges persist),
        # exactly like the normal path below: the returned ranks never
        # depend on the storage this plan reads, so a caller may re-execute
        # them after that storage has been compacted/GC'd; eager
        # localCheckpoint roots them in materialized (empty) blocks.
        ed.unpersist()
        return nodes.selectExpr(
            "CAST(node AS BIGINT) AS node", "CAST(0 AS BIGINT) AS pagerank_scaled"
        ).localCheckpoint(eager=True)
    per_node = scale // n_nodes
    base = ((damping_den - damping_num) * per_node) // damping_den
    update = (
        f"CAST({base} AS BIGINT) + (CAST({damping_num} AS BIGINT)"
        f" * coalesce(m, CAST(0 AS BIGINT)) div CAST({damping_den} AS BIGINT))"
        " AS rank"
    )

    node_base = nodes.selectExpr("CAST(node AS BIGINT) AS node").localCheckpoint(
        eager=True
    )
    ranks = node_base.selectExpr("node", f"CAST({per_node} AS BIGINT) AS rank")
    for _ in range(iterations):
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .selectExpr("dst AS node", "rank div deg AS c")
            .groupBy("node")
            .agg(F.expr("sum(c) AS m"))
        )
        ranks = (
            node_base.join(contribs, "node", "left")
            .selectExpr("node", update)
            # eager=True: truncate the plan NOW (one job per iteration) so
            # iteration k+1 reads materialized blocks, not k joins of lineage.
            .localCheckpoint(eager=True)
        )
    ed.unpersist()
    return ranks.withColumnRenamed("rank", "pagerank_scaled")
