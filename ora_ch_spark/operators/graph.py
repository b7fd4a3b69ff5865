"""Iterative graph algorithms on DataFrames.

Connected components (the dedup-cluster workhorse) lives in
``dedup.py``; this module holds the score-propagation family —
PageRank here — in the same design language:

- **Integer-exact arithmetic**: ranks are scaled int64 (1e9 = 1.0);
  per-edge contributions are integer divisions and the combine is an
  integer sum — order-independent, so the DuckDB oracle replays the
  exact trajectory (double-accumulation PageRank would drift by
  partition order and could never be value-gated).
- **Bounded-iteration DataFrame loop** run as ONE action: each
  iteration is one shuffle on the destination key (the standard
  message-passing plan), the rounds nest into one lineage, and a single
  eager ``localCheckpoint`` after the loop executes them together. For
  ``iters > 10`` the loop also checkpoints every 10 rounds, so the plan
  stays bounded (the exponential-plan trap the star-CC work documented
  does not apply, but analysis cost still grows with depth).
- **Scale shape**: edges are the big relation and are persisted once;
  ranks are one row per node. Each round = edges ⋈ ranks (broadcast
  when nodes fit, shuffle otherwise — Spark's AQE picks) → partial-agg
  sum by dst. 100 TB posture: identical to every production PageRank
  on a relational engine; the only state between rounds is the
  node-rank table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # rank fixed-point: 1e9 == 1.0
CHECKPOINT_EVERY = 10  # lineage truncation period; iters <= 10 never truncates


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list; returns
    (node, rank) with rank in SCALE fixed-point.

    Per iteration (all integer ops, exact in any order):
    ``contrib(e) = rank(src) div outdeg(src)``;
    ``rank'(v) = (100 - damping_pct)·SCALE div 100
    + damping_pct · Σ contrib div 100``. Dangling nodes (no out
    edges) leak their mass — the simple variant, matching what the
    oracle replays; nodes with no IN-edges keep the teleport term.
    ``damping_pct`` is an integer percentage so the damping multiply
    stays exact."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    ew = e.join(outdeg, "src").persist()
    ranks = nodes.withColumn("rank", F.lit(SCALE).cast("bigint"))
    teleport = (100 - damping_pct) * SCALE // 100
    for it in range(iters):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select("dst", F.expr("rank div odeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # NO per-round checkpoint at the catalog's depths: the rounds
        # nest into ONE lineage (one join+agg+join per round, no
        # self-referencing blowup like star-CC's) and the eager
        # checkpoint after the loop runs them as one fused query.
        # Per-round checkpoints paid a driver-sequenced job cycle each
        # (eager: 24 jobs / 5.65 s; lazy localCheckpoint still ran the
        # rounds at call time, 22 jobs). Deep loops truncate lineage
        # every CHECKPOINT_EVERY rounds so plan analysis stays bounded.
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(teleport).cast("bigint")
                + F.expr(f"{damping_pct} * coalesce(s, 0L) div 100")
            ).alias("rank"),
        )
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    # ONE action materializes the whole loop; the checkpoint blocks
    # then back the returned frame without the persisted inputs
    ranks = ranks.localCheckpoint(eager=True)
    # the final ranks are materialized checkpoint blocks — they no
    # longer reference the persisted inputs, so release all three
    e.unpersist()
    ew.unpersist()
    nodes.unpersist()
    return ranks
