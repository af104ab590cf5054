"""Link-graph analytics: PageRank over (src, dst) edge tables — the
domain-authority signal web-corpus curation pipelines weight quality by
(Common Crawl publishes exactly this kind of centrality for its host
graph; seed-quality lists are rank-thresholded link graphs).

The iterative sibling of ``dedup.neardup_clusters``: bounded rounds of
pure DataFrame joins/aggregations with per-round checkpoint truncation
(the lineage would otherwise grow linearly and re-execute the whole
history on any recompute). Same scale contract — per-round cost is one
edges⋈ranks equi-join (shuffle on node id; AQE handles hub skew) plus
one node-keyed aggregation, and the rank table is node-sized, never
edge-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint

__all__ = ["pagerank", "hits"]

# Rounds between pagerank's lineage cuts. Each round references the
# rank table TWICE (contributions + dangling mass), so an un-truncated
# chain doubles in plan size per round — measured: cutting only at the
# end turns a 6 s 10-round run into 155 s (the 2^rounds re-expansion;
# the same pathology as un-materialized chained CTEs). 1 is one Spark
# job per round; 2 bounds the re-expansion at 4 leaf references while
# halving the checkpoint jobs — measured ~25% faster end-to-end with
# identical results (a cut never changes values). Larger values are a
# hazard, not a tuning knob: HITS at 5 wedged the driver 30+ min just
# rendering the re-expanded tree. The final round is always cut.
_PAGERANK_ROUNDS_PER_CUT = 2


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    quantize_dp: int | None = None,
) -> DataFrame:
    """Power-iteration PageRank: (node, rank) after ``n_iters`` rounds
    of ``rank = (1-d)/N + d·(Σ in-neighbor rank/out_degree +
    dangling_mass/N)`` — the standard formulation with dangling-node
    mass redistributed uniformly, so ``SUM(rank) = 1`` every round
    (pinned in tests against a numpy power-iteration reference).

    Nodes are every DISTINCT id appearing as src or dst; duplicate
    (src, dst) rows count as parallel edges (weight by multiplicity —
    dedup upstream if the graph is simple). Each round: one
    contributions join keyed on src (edge-sized, the only big shuffle),
    one dst-keyed sum, one left-join back to the node table for
    zero-in-degree nodes, then every ``_PAGERANK_ROUNDS_PER_CUT`` rounds
    a ``session.checkpoint`` truncating lineage. The dangling mass is
    a one-row aggregate of the node-sized rank table folded back in as
    a broadcast equi-join on a constant key (BroadcastHashJoin with a
    1-row build side — NOT a nested-loop cross join, and NOT a driver
    collect: round 6 removed the per-round collect, halving the Spark
    jobs per iteration; the whole round now executes inside the single
    checkpoint action).

    ``quantize_dp``: round each round's ranks to this many decimal
    places. Distributed double summation is order-dependent (partial
    aggregation order varies run-to-run and engine-to-engine); the
    accumulated noise (~1e-15 relative) sits far below a 1e-10 quantum,
    so per-round quantization makes the whole iteration BIT-REPRODUCIBLE
    across partitionings and across engines — the knob the registry
    oracle (x31) uses to hash-match an independent DuckDB unrolled
    power iteration. ``None`` (default) keeps full double precision.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank: damping must be in (0, 1)")
    if n_iters < 1:
        raise ValueError("pagerank: n_iters must be >= 1")

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    # edges annotated with the sender's out-degree, checkpointed once —
    # every round reuses this materialized table
    contrib_edges = checkpoint(e.join(out_deg, "src"))

    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for it in range(n_iters):
        sending = contrib_edges.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        )
        received = (
            sending.groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("_deg")).alias("_in"))
        )
        # dangling nodes (no outgoing edges) leak their mass — fold the
        # one-row sum back in via a constant-key broadcast equi-join,
        # spreading it uniformly so SUM(rank) = 1 every round. The
        # arithmetic association mirrors the pre-round-6 driver-side
        # form bit-for-bit: base + ((d * dang) / n) + d * in
        dang = (
            ranks.join(out_deg.select(F.col("src").alias("node")),
                       "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
            .withColumn("_k", F.lit(1))
        )
        new_rank = (
            F.lit(base)
            + (F.lit(damping) * F.col("_dang")) / F.lit(float(n_nodes))
            + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
        )
        if quantize_dp is not None:
            new_rank = F.round(new_rank, quantize_dp)
        ranks = (
            nodes.join(received, "node", "left")
            .withColumn("_k", F.lit(1))
            .join(F.broadcast(dang), "_k")
            .select("node", new_rank.alias("rank"))
        )
        if (it + 1) % _PAGERANK_ROUNDS_PER_CUT == 0 or it == n_iters - 1:
            ranks = checkpoint(ranks)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


def hits(
    edges: DataFrame,
    n_iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    quantize_dp: int | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) — PageRank's
    bidirectional sibling: a good AUTHORITY is linked from good hubs,
    a good HUB links to good authorities. For corpus curation the two
    scores separate roles PageRank conflates: link farms score as hubs
    but not authorities, canonical sources score as authorities
    without linking out. Returns (node, hub, auth) after ``n_iters``
    rounds of

        auth(v) = Σ_{(u,v)∈E} hub(u),   then L1-normalize
        hub(u)  = Σ_{(u,v)∈E} auth(v),  then L1-normalize

    L1 normalization (divide by the sum) rather than the textbook L2:
    the two are identical up to per-round scale — rankings and the
    fixed-point direction are unchanged — and L1 keeps every operation
    a sum and one division, which is what lets ``quantize_dp``
    rounding make the whole iteration bit-reproducible across engines
    and partitionings (the pagerank contract; an L2 norm inserts a
    libm sqrt into every round). Nodes without in-edges get auth 0,
    without out-edges hub 0; an edge-less graph returns all zeros
    rather than dividing by the zero sum.

    Scale shape per round: two edge-sized equi-joins + two node-keyed
    sums; the normalizing sums are one-row aggregates of the
    node-sized score table folded back via constant-key broadcast
    equi-joins (pagerank's dangling-mass pattern — no driver collect
    per round). Lineage is cut EVERY round (pagerank's re-expansion
    argument, but not its 2 rounds per cut): a HITS round is two
    chained phases that each reference the node table and a one-row
    total, so the per-round fan-out is ~4x where pagerank's is 2x, and
    the re-expansion overtakes the saved checkpoint jobs immediately
    (round-12 measure at sf0.1: every round = 3.0 s, every 2nd = 4.4
    s, every 3rd = 9.5 s, every 5th = minutes of pure driver plan-tree
    rendering)."""
    if n_iters < 1:
        raise ValueError("hits: n_iters must be >= 1")

    def _q(col):
        return F.round(col, quantize_dp) if quantize_dp is not None else col

    e = checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    nodes = checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "auth", F.lit(0.0)
        )
    scores = nodes.withColumn("hub", F.lit(1.0 / n_nodes))

    def _phase(prev: DataFrame, in_col: str, join_on: str, group_to: str,
               out_col: str) -> DataFrame:
        """One half-round: sum ``in_col`` over edges joined on
        ``join_on``, grouped to ``group_to``, L1-normalized + quantized
        as ``out_col`` over ALL nodes (absent → 0)."""
        raw = (
            e.join(
                prev.select(F.col("node").alias(join_on), in_col), join_on
            )
            .groupBy(F.col(group_to).alias("node"))
            .agg(F.sum(in_col).alias("_raw"))
        )
        total = raw.agg(
            F.coalesce(F.sum("_raw"), F.lit(0.0)).alias("_tot")
        ).withColumn("_k", F.lit(1))
        val = F.when(
            F.col("_tot") > 0.0,
            _q(F.coalesce(F.col("_raw"), F.lit(0.0)) / F.col("_tot")),
        ).otherwise(F.lit(0.0))
        return (
            nodes.join(raw, "node", "left")
            .withColumn("_k", F.lit(1))
            .join(F.broadcast(total), "_k")
            .select("node", val.alias(out_col))
        )

    for _ in range(n_iters):
        auths = _phase(scores, "hub", "src", "dst", "auth")
        hubs = _phase(auths, "auth", "dst", "src", "hub")
        scores = checkpoint(hubs.join(auths, "node"))
    return scores.select(
        "node", F.round("hub", 8).alias("hub"),
        F.round("auth", 8).alias("auth"),
    )
