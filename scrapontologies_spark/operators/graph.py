"""Iterative graph analytics over the materialized KG edge tables.

The reference stops at materializing entities/relations; a corpus-scale KG
needs importance scoring over the resulting graph (which entities matter,
which docs are hubs).  PageRank here is the canonical iterative DataFrame
algorithm: fixed-iteration power method, deterministic (no sampling, fixed
damping), so the result is value-checkable against a recursive-CTE SQL
oracle despite being iterative.

Scale shape per iteration:
- contributions: edges ⋈ ranks on src — one hash shuffle on src (the edge
  table is pre-keyed; Catalyst reuses the exchange across iterations where
  plans align), then groupBy(dst) with map-side partial sums;
- the rank vector is one row per node (tiny next to edges); out-degrees
  are computed ONCE before the loop;
- lineage is truncated every 4 rounds (localCheckpoint) exactly like
  operators/cc.py, so 20-iteration runs don't accumulate a 20-deep plan.

Dangling nodes (no out-edges) follow the "no redistribution" variant:
their mass leaves the system, matching the straightforward SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import persisted_rdd_ids, release_rdds

_DAMPING = 0.85
_CHECKPOINT_EVERY = 4


def pagerank(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Fixed-iteration PageRank: ``rank_{k+1}(n) = (1-d) + d * Σ
    rank_k(m)/outdeg(m)`` over in-edges m→n with d = 0.85, rank_0 = 1.0
    for every node.

    Returns (node, rank) for every node appearing as src or dst of
    ``edges(src, dst)``.  Duplicate edges are counted once (distinct) —
    parallel edges would double-count contributions nondeterministically
    vs the oracle.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # Materialize the loop-invariant state ONCE (lazy checkpoint — the first
    # iteration's action writes it): without this, iteration k's lazy plan
    # re-derives the upstream edge expression (scan/explode/distinct) k
    # times over.  deg rides along on the edge rows so the loop never
    # re-joins it; rank/deg (not rank·(1/deg)) keeps the float op order
    # identical to the SQL oracle.
    ew = e.join(out_deg, "src").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # release superseded in-loop checkpoints like operators/cc.py does:
    # DataFrame.unpersist cannot reach localCheckpoint blocks, and letting
    # one block set pile up per checkpointed round reproduces the measured
    # ~30 GB heap-growth / full-GC failure mode.  The loop-invariant ew /
    # nodes checkpoints and the FINAL ranks checkpoint stay live (the
    # returned frame reads them; truncated lineage cannot recompute).
    spark = edges.sparkSession
    prev_block_ids: set = set()
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(iters):
        contribs = (
            ew.join(ranks, ew.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - _DAMPING)
                    + F.lit(_DAMPING) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iters:
            before = persisted_rdd_ids(spark)
            ranks = ranks.localCheckpoint(eager=True)
            release_rdds(spark, prev_block_ids)
            prev_block_ids = persisted_rdd_ids(spark) - before
    return ranks
