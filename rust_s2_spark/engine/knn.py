"""Distributed kNN via cap-covering candidate generation (cell-ring search).

The brute-force baseline (queries x all docs + window top-k) is exact but
scans everything; at 10^12 docs the scan must be pruned spatially.  This is
the covering analog of the reference's (absent) ClosestEdgeQuery
(shape_index.rs:624): per query point, grow a cap until it provably holds k
candidates, then refine only the covering join's candidates.

Correctness argument (exactness, not approximation): a neighbor can be
missed only if it lies outside the final cap; a query is "done" at the
smallest round whose cap holds >= k candidates strictly *within the cap
radius* (not merely inside covering cells), so the true k nearest are all
within that radius and the covering join — which over-covers the cap —
surfaced every one of them.

Scale shape (batched rounds): radius-doubling rounds are grouped into
*phases* of ``rounds_per_job`` rounds each.  One phase = a constant number
of Spark jobs: covering generation for every pending query at every round
in the group runs distributed (mapInPandas over tiny (query, round) rows —
the pure-Python coverer costs ~15 ms/cap, which would serialize the driver
at many query points), the coverings feed a single covering join (region
key = ``query_id|round``), and a single aggregation computes each query's
smallest satisfying round.  The driver collects only the distinct covering
levels plus the ids of queries still pending after the phase (left-anti
join — typically empty after phase 1), so driver work is O(pending) per
phase and the total job count is O(log(max_radius) / rounds_per_job),
independent of the number of queries.  Per-query state (done-round,
candidates) stays in DataFrames end to end — no per-round count collect,
no giant ``isin`` literals — so 10^5 simultaneous query points cost the
same number of jobs as 10.

Cost bound for batching rounds a query doesn't need: RegionCoverer's
max_cells bounds every round's covering to O(max_cells) cells, and
candidates are filtered to d2 <= r2 *before* the count aggregation, so a
round's shuffle volume is proportional to the docs actually inside its cap
— the later rounds of a group cost at most 4^(rounds_per_job-1) x the
done-round's candidate count for uniformly dense data.  ``rounds_per_job``
trades that redundancy against job-count serialization; 3-4 is the sweet
spot (most queries finish in the first group).

In production the doc table stores its cellid column (tile-partitioned), so
each phase's scan prunes to the covering cells' partitions; locally the
per-phase re-scan makes brute force look faster at toy sizes — the
crossover is where scan cost dominates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernel import hierarchy as h
from ..kernel.covering import RegionCoverer
from ..kernel.region import Cap
from . import tiling
from .join import covering_join
from .memo import hold

import numpy as np

_COVER_SCHEMA = (
    "region_id string, cover_cell long, cover_level int, range_min long, range_max long"
)


def _gen_coverings(max_cells: int):
    """mapInPandas generator: (query_id, round, qx, qy, qz, r2) rows ->
    covering rows tagged ``query_id|round``.  Covering generation is the
    serial driver bottleneck at many query points (~15 ms of pure-Python
    coverer per cap), so it runs executor-side; the driver only materializes
    one tiny row per (query, round)."""

    def gen(batches):
        import pandas as pd

        coverer = RegionCoverer(max_cells=max_cells)
        for pdf in batches:
            out = {c: [] for c in ("region_id", "cover_cell", "cover_level", "range_min", "range_max")}
            for qid, t, cx, cy, cz, r2 in zip(
                pdf["query_id"], pdf["round"], pdf["qx"], pdf["qy"], pdf["qz"], pdf["r2"]
            ):
                cap = Cap(np.array([cx, cy, cz]), float(r2))
                tag = f"{qid}|{int(t)}"
                for cid in coverer.covering(cap).ids:
                    u = np.uint64(cid)
                    out["region_id"].append(tag)
                    out["cover_cell"].append(int(np.int64(u)))
                    out["cover_level"].append(int(h.level(u)))
                    out["range_min"].append(int(np.int64(h.range_min(u))))
                    out["range_max"].append(int(np.int64(h.range_max(u))))
            yield pd.DataFrame(out)

    return gen


def knn_cellring(
    spark: SparkSession,
    docs_tiled: DataFrame,
    queries: list[tuple[str, float, float, float]],
    k: int,
    init_radius_deg: float = 1.0,
    id_col: str = "doc_id",
    max_rounds: int = 12,
    rounds_per_job: int = 4,
) -> DataFrame:
    """queries: (query_id, qx, qy, qz) unit vectors.  Returns
    (query_id, id_col, rank, d2) for the exact k nearest docs per query.

    Query ids must not contain '|' (used as the round-tag separator in the
    composite covering key).  The persisted candidate blocks the result
    reads are held in the session memo until its next clear.
    """
    coverer = RegionCoverer(max_cells=12)
    if any("|" in qid for qid, *_ in queries):
        raise ValueError("query ids must not contain '|'")
    # Project once; persist only if the input isn't already cached (the
    # memoized events_geo table is — double-caching it would hold two copies
    # of the same columns for the whole session).
    proj = docs_tiled.select(id_col, "cell_id", "lat", "lng")
    lvl = docs_tiled.storageLevel
    we_persisted = not (lvl.useMemory or lvl.useDisk)
    if we_persisted:
        proj = hold(spark, proj.persist())
    px, py, pz = tiling.xyz_cols("lat", "lng")

    qvec = {qid: (cx, cy, cz) for qid, cx, cy, cz in queries}
    pending = [qid for qid, *_ in queries]
    cands: list[DataFrame] = []  # per-phase in-radius candidates
    dones: list[DataFrame] = []  # per-phase (query_id, done_round)
    round0 = 0

    while pending and round0 < max_rounds:
        rounds = range(round0, min(round0 + rounds_per_job, max_rounds))
        qrows = []
        for qid in pending:
            cx, cy, cz = qvec[qid]
            for t in rounds:
                rad = math.radians(init_radius_deg * (2.0 ** t))
                s = math.sin(0.5 * min(rad, math.pi))
                qrows.append((qid, t, cx, cy, cz, 4.0 * s * s))
        qdf = spark.createDataFrame(
            qrows, "query_id string, round int, qx double, qy double, qz double, r2 double"
        )
        # covering generation runs distributed (one Arrow stage over the
        # (query, round) rows); persisted because both the levels probe and
        # the covering join consume it
        nslices = max(1, min(len(qrows) // 8, spark.sparkContext.defaultParallelism))
        coverings = hold(
            spark,
            qdf.repartition(nslices)
            .mapInPandas(_gen_coverings(coverer.max_cells), schema=_COVER_SCHEMA)
            .persist(),
        )
        levels = sorted(
            r["cover_level"]
            for r in coverings.select("cover_level").distinct().collect()
        )
        cand = covering_join(proj, coverings, id_col=id_col, levels=levels)
        split = F.split(F.col("region_id"), r"\|")
        cand = (
            cand.withColumn("query_id", split.getItem(0))
            .withColumn("round", split.getItem(1).cast("int"))
            .drop("region_id")
            .join(F.broadcast(qdf), on=["query_id", "round"])
        )
        d2 = (px - F.col("qx")) ** 2 + (py - F.col("qy")) ** 2 + (pz - F.col("qz")) ** 2
        # keep only verified in-radius candidates BEFORE anything shuffles:
        # bounds both the count agg and the persisted block to docs actually
        # inside each round's cap
        cand = hold(
            spark,
            cand.withColumn("d2", d2)
            .where(F.col("d2") <= F.col("r2"))
            .select("query_id", "round", id_col, "d2")
            .persist(),
        )
        # ONE aggregation: each query's smallest round holding >= k in-radius
        # candidates (done/pending transition entirely distributed)
        done = (
            cand.groupBy("query_id", "round")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= k)
            .groupBy("query_id")
            .agg(F.min("round").alias("done_round"))
        )
        cands.append(cand)
        dones.append(done)
        # driver learns only who is still pending (left-anti: tiny after
        # the first phase); this collect is the phase's single job
        qids_df = spark.createDataFrame([(q,) for q in pending], "query_id string")
        pending = [
            r["query_id"]
            for r in qids_df.join(done, on="query_id", how="left_anti").collect()
        ]
        round0 = rounds.stop

    if pending:
        raise RuntimeError(f"kNN did not converge for {sorted(pending)} — raise max_rounds")

    allc = cands[0]
    for c in cands[1:]:
        allc = allc.unionByName(c)
    alldone = dones[0]
    for d in dones[1:]:
        alldone = alldone.unionByName(d)
    # each query appears in exactly one phase's done frame (it leaves
    # `pending` the phase it converges), so this join is 1:1 per query
    final = allc.join(F.broadcast(alldone), on="query_id").where(
        F.col("round") == F.col("done_round")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col(id_col).asc())
    return (
        final.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "d2")
    )
