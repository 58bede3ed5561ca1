"""Distributed connected components over an edge DataFrame.

The spatial-clustering backbone (DBSCAN with eps = the distance-join radius
and minPts=2: every edge endpoint is a core point, clusters are the
connected components of the epsilon graph).  rust-s2 has no relational
counterpart; this is the canonical iterative-Spark formulation:

**hash-min + pointer jumping + edge contraction** — per round:

1. every node takes the minimum label over itself and its neighbors in the
   CURRENT contracted edge set (one join + groupBy),
2. pointer jump: ``lbl <- lbl(lbl)`` (one self-join) keeps label chains
   short so interior nodes follow their cluster representative,
3. the edge set is rewritten through the new labels and deduped
   (``(lbl(u), lbl(v))``, dropping now-internal edges) — the working graph
   CONTRACTS geometrically, so late rounds cost almost nothing.  Without
   contraction, hash-min + jumping alone needed 25+ rounds of full-edge-set
   joins on the sf1 epsilon graph (67.8M directed edges, ~300k-node lattice
   components) and the per-round cost stayed O(|E|); with it the same graph
   converges in ~10 rounds whose cost tracks the shrinking frontier.

Correctness is enforced, not assumed: labels only ever decrease and only
ever hold ids of nodes in the same component (min over component members);
at the fixpoint the function VERIFIES label uniformity across every
ORIGINAL edge with one join (raises on violation).  Uniform + monotone +
member-valued implies the common label is the component minimum: the
minimum node's label can never drop below itself.

Scale shape: every step is an equi-shuffle keyed by node id; no driver data
motion except one-row convergence counts; per-round results are cut with an
eager localCheckpoint — ESSENTIAL in any iterative DataFrame loop, because
each round's logical plan embeds the previous one twice and uncut trees
double per round (measured: 5.7 s -> 23 s per round by round two, hung by
round ten, with all data cached).  On a resilient cluster deployment use
``sparkContext.setCheckpointDir`` + ``.checkpoint()`` for the same cut with
fault tolerance.  Component sizes never appear as shuffle keys — a giant
component costs no more than a small one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .memo import release

__all__ = ["connected_components"]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Labels every node appearing in ``edges`` with the minimum node id of
    its connected component.  Returns (node long, cluster long).

    ``edges`` may be directed pairs; the graph is treated as undirected.
    Deterministic: the fixpoint (min reachable id per node) does not depend
    on iteration order or partitioning.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = sym.persist()
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster"))
        .localCheckpoint(eager=True)
    )
    live = sym  # current contracted edge set (starts as the input graph)

    rounds = 0
    while True:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
        # 1. neighbor minimum over the live (contracted) edges
        nmin = (
            live.join(labels, live["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("cluster").alias("nmin"))
        )
        stepped = labels.join(nmin, labels["node"] == nmin["u"], "left").select(
            "node",
            F.least(
                F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
            ).alias("cluster"),
        )
        # 2. pointer jump: cluster <- cluster(cluster)
        jump_src = stepped.select(
            F.col("node").alias("jn"), F.col("cluster").alias("jl")
        )
        jumped = stepped.join(
            jump_src, stepped["cluster"] == jump_src["jn"], "left"
        ).select("node", F.coalesce(F.col("jl"), F.col("cluster")).alias("cluster"))
        jumped = jumped.localCheckpoint(eager=True)
        changed = (
            jumped.join(
                labels.select(F.col("node").alias("pn"), F.col("cluster").alias("pl")),
                jumped["node"] == F.col("pn"),
            )
            .where(F.col("cluster") != F.col("pl"))
            .count()
        )
        # each replaced round is released as soon as its successor is
        # materialized: checkpoint blocks are not freed by garbage collection
        release(labels)
        labels = jumped
        if changed == 0:
            break
        # 3. contract: rewrite live edges through the new labels, drop edges
        # that became internal to a cluster, dedupe.  Labels are monotone, so
        # contracting through newer labels preserves the quotient
        # connectivity; the final uniformity check below guards the claim.
        lu = labels.select(F.col("node").alias("cu"), F.col("cluster").alias("lu"))
        lv = labels.select(F.col("node").alias("cv"), F.col("cluster").alias("lv"))
        contracted = (
            live.join(lu, live["u"] == lu["cu"])
            .join(lv, live["v"] == lv["cv"])
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if live is not sym:
            release(live)
        live = contracted
    if live is not sym:
        release(live)
    if stats is not None:
        stats["rounds"] = rounds

    # Fixpoint certificate over the ORIGINAL edges: every edge's endpoints
    # must share a label.  With the monotone member-valued label invariant
    # this proves each component is uniformly labeled with its minimum id.
    lu = labels.select(F.col("node").alias("cu"), F.col("cluster").alias("lu"))
    lv = labels.select(F.col("node").alias("cv"), F.col("cluster").alias("lv"))
    violations = (
        sym.join(lu, sym["u"] == lu["cu"])
        .join(lv, sym["v"] == lv["cv"])
        .where(F.col("lu") != F.col("lv"))
        .count()
    )
    sym.unpersist()
    if violations:
        raise AssertionError(
            f"connected_components fixpoint violated on {violations} edges"
        )
    # the labels are a checkpointed leaf: O(|V|) rows, shallow plan.  The
    # caller owns its blocks (engine.memo.release frees them)
    return labels
