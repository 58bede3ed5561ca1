"""Distributed connected components over an edge DataFrame.

The spatial-clustering backbone (DBSCAN with eps = the distance-join radius
and minPts=2: every edge endpoint is a core point, clusters are the
connected components of the epsilon graph).  rust-s2 has no relational
counterpart; this is the standard two-phase scheme:

**Phase 1, partition-local union-find.**  The edges go through one
``rebalance`` shuffle and one ``mapInPandas``: each partition runs a numpy
union-find (min-label propagation with pointer jumping, ``_local_union_find``)
over its own edges and emits ``(node, local_root)``, the minimum id of the
node's partition-local component; the result is checkpointed.
``rebalance`` hands the partition count to AQE: small inputs are coalesced
into one partition and skewed ones split, so a partition holds about
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of edges and its numpy
state (the edge arrays, the sorted node ids and one label per node) is a
small multiple of that, whatever the graph's size.  The rebalance has no
keys, so edges are spread round-robin: a partition's components are those
of a random share of the edges, and the boundary phase below joins them.
When AQE made one partition, one union-find saw every edge and its roots
are the answer: nothing below runs (under the default sizes, the case for
graphs of a few thousand edges).

**One aggregation per node.**  Otherwise, grouping by node gives ``cluster
= min(local_root)`` and the node's set of local roots.  A node whose edges
fell into several partitions has several roots: each root is joined to the
node's minimum by a boundary edge ``(local_root, cluster)``.  Labels and
boundary edges are both read from this one checkpoint.

**Phase 2, the boundary graph.**  Only the boundary graph (vertices are
local roots) goes through the iterative hash-min + pointer jumping + edge
contraction loop (``_hash_min``); every node then maps through its root's
label.  No round runs when no node is shared between partitions.  The
loop, per round:

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

Correctness is enforced, not assumed: every label is at most its node's own
id and is always the id of a node in the same component (a local
component's minimum, then the minimum over connected roots); at the end the
function VERIFIES label uniformity across every ORIGINAL edge with one join
(raises on violation).  Uniform + at-most-own-id + member-valued implies the
common label is the component minimum: the minimum node's label can never
drop below itself.

Scale shape: apart from phase 1's rebalance, every step is an equi-shuffle
keyed by node id; no driver data motion except one-row emptiness and
convergence checks; results are cut with eager ``localCheckpoint`` —
ESSENTIAL in any iterative DataFrame loop, because each round's logical
plan embeds the previous one twice and uncut trees double per round
(measured: 5.7 s -> 23 s per round by round two, hung by round ten, with
all data cached).  On a resilient cluster deployment use
``sparkContext.setCheckpointDir`` + ``.checkpoint()`` for the same cut with
fault tolerance.  Component sizes never appear as shuffle keys — a giant
component costs no more than a small one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .memo import release

__all__ = ["connected_components"]


def _local_union_find(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, roots) over the undirected edges ``(u[i], v[i])``: every node
    once, in ascending order, with the minimum node id of its component.

    Labels are indices into the sorted node ids, so the smallest label is
    the smallest id.  Each round hooks every root to its smallest
    neighboring root, then jumps pointers until every node points at a
    root; edges inside one component are dropped as they appear, so a
    round costs only the edges still crossing components."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            return nodes, nodes[lab]
        a, b, la, lb = a[cross], b[cross], la[cross], lb[cross]
        np.minimum.at(lab, la, lb)
        np.minimum.at(lab, lb, la)
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def _local_roots(batches):
    """mapInPandas body: one partition's (u, v) edges -> (node, cluster),
    the cluster being the node's local root."""
    u, v = [], []
    for b in batches:
        u.append(b["u"].to_numpy(np.int64))
        v.append(b["v"].to_numpy(np.int64))
    if u:
        nodes, roots = _local_union_find(np.concatenate(u), np.concatenate(v))
        yield pd.DataFrame({"node": nodes, "cluster": roots})


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
    on iteration order or partitioning.  ``max_rounds`` bounds the boundary
    graph's fixpoint; ``stats["rounds"]`` is the number of rounds it ran
    (0 when the boundary graph is empty).
    """
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    local = (
        pairs.hint("rebalance")
        .mapInPandas(_local_roots, "node long, cluster long")
        .localCheckpoint(eager=True)
    )
    rounds = 0
    if local.rdd.getNumPartitions() <= 1:
        labels = local  # one union-find saw every edge: its roots are final
    else:
        agg = (
            local.groupBy("node")
            .agg(
                F.min("cluster").alias("cluster"),
                F.collect_set("cluster").alias("roots"),
            )
            .localCheckpoint(eager=True)
        )
        release(local)
        shared = agg.where(F.size("roots") > 1)
        root_lbl, final = None, agg
        if not shared.isEmpty():
            boundary = shared.select(
                F.explode("roots").alias("u"), F.col("cluster").alias("v")
            ).where(F.col("u") != F.col("v"))
            root_lbl, rounds = _hash_min(boundary, max_rounds)
            rl = root_lbl.select(F.col("node").alias("r"), F.col("cluster").alias("rc"))
            final = agg.join(rl, agg["cluster"] == rl["r"], "left").select(
                "node", F.coalesce(F.col("rc"), F.col("cluster")).alias("cluster")
            )
        labels = final.select("node", "cluster").localCheckpoint(eager=True)
        release(agg)
        if root_lbl is not None:
            release(root_lbl)
    if stats is not None:
        stats["rounds"] = rounds

    # Certificate over the ORIGINAL edges: every edge's endpoints must share
    # a label (a symmetric test, so each pair is checked in one direction).
    # With the at-most-own-id member-valued label invariant this proves each
    # component is uniformly labeled with its minimum id.
    lu = labels.select(F.col("node").alias("cu"), F.col("cluster").alias("lu"))
    lv = labels.select(F.col("node").alias("cv"), F.col("cluster").alias("lv"))
    violations = (
        pairs.join(lu, pairs["u"] == lu["cu"])
        .join(lv, pairs["v"] == lv["cv"])
        .where(F.col("lu") != F.col("lv"))
        .count()
    )
    pairs.unpersist()
    if violations:
        raise AssertionError(
            f"connected_components fixpoint violated on {violations} edges"
        )
    # the labels are a checkpointed leaf: O(|V|) rows, shallow plan.  The
    # caller owns its blocks (engine.memo.release frees them)
    return labels


def _hash_min(edges: DataFrame, max_rounds: int) -> tuple[DataFrame, int]:
    """(labels, rounds): the hash-min + pointer-jump + contraction fixpoint
    over the (u, v) edges, labels (node, cluster) a checkpointed leaf."""
    sym = (
        edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
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
        # connectivity; the final uniformity check guards the claim.
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
    sym.unpersist()
    return labels, rounds
