"""Cell-prefix spatial joins: covering explode, per-level equi-join, salting.

The cluster-scale replacement for the reference's single-machine ShapeIndex
(shape_index.rs:635-1728): docs carry a leaf cellid; query regions are exploded
to covering cells; the join is a *union of per-level equi-joins* on
``parent(doc_leaf, cover_level)`` — a pure bit-op column, so Catalyst sees an
ordinary equi-join it can broadcast or sort-merge, never a BNLJ range join.

Scale design:
- Region side is small (query shapes) -> broadcast() by default. At 100 TB the
  doc side streams through map-side hash joins with zero shuffle of doc rows
  for the coarse stage.
- Hot cells (cities) -> deterministic salting: doc side salts by
  pmod(xxhash64(doc_id), n); region side explodes xn. Used when the region
  side must be shuffled (sort-merge path) or when refine groups skew.
- Refine stage is a vectorized numpy predicate (cap chord / rect interval)
  over Arrow batches — exact, no trig in the cap path (cap.rs:212-214).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernel import hierarchy as h
from ..kernel.covering import RegionCoverer
from ..kernel.region import Cap, Rect
from ..kernel.stuv import latlng_to_xyz
from ..kernel.constants import MAX_LEVEL
from . import tiling

__all__ = [
    "cap_regions_df",
    "rect_regions_df",
    "covering_join",
    "covering_range_join",
    "cap_join",
    "rect_join",
    "salted",
    "distance_self_join",
]


# ---------------------------------------------------------------------------
# Region table construction (driver side: regions are few)
# ---------------------------------------------------------------------------


@dataclass
class CapSpec:
    region_id: str
    lat: float
    lng: float
    radius_deg: float


@dataclass
class RectSpec:
    region_id: str
    lat_lo: float
    lng_lo: float
    lat_hi: float
    lng_hi: float


def _covering_rows(region_id: str, region, coverer: RegionCoverer):
    cov = coverer.covering(region)
    rows = []
    for cid in cov.ids:
        u = np.uint64(cid)
        rows.append(
            (
                region_id,
                int(np.int64(u)),
                int(h.level(u)),
                int(np.int64(h.range_min(u))),
                int(np.int64(h.range_max(u))),
            )
        )
    return rows


_COVER_SCHEMA = (
    "region_id string, cover_cell long, cover_level int, range_min long, range_max long"
)


def cap_regions_df(
    spark: SparkSession, caps: list[CapSpec], coverer: RegionCoverer | None = None
) -> tuple[DataFrame, DataFrame]:
    """Returns (regions, coverings): regions carries the exact-refine params
    (unit-vector center + squared chord radius), coverings the exploded cells."""
    coverer = coverer or RegionCoverer(max_cells=8)
    reg_rows, cov_rows = [], []
    for c in caps:
        cap = Cap.from_latlng_radius(c.lat, c.lng, c.radius_deg)
        reg_rows.append(
            (c.region_id, float(cap.center[0]), float(cap.center[1]), float(cap.center[2]), cap.radius2)
        )
        cov_rows.extend(_covering_rows(c.region_id, cap, coverer))
    regions = spark.createDataFrame(
        reg_rows, "region_id string, cx double, cy double, cz double, radius2 double"
    )
    coverings = spark.createDataFrame(cov_rows, _COVER_SCHEMA)
    return regions, coverings


def rect_regions_df(
    spark: SparkSession, rects: list[RectSpec], coverer: RegionCoverer | None = None
) -> tuple[DataFrame, DataFrame]:
    coverer = coverer or RegionCoverer(max_cells=8)
    reg_rows, cov_rows = [], []
    for r in rects:
        rect = Rect.from_degrees(r.lat_lo, r.lng_lo, r.lat_hi, r.lng_hi)
        reg_rows.append((r.region_id, r.lat_lo, r.lng_lo, r.lat_hi, r.lng_hi))
        cov_rows.extend(_covering_rows(r.region_id, rect, coverer))
    regions = spark.createDataFrame(
        reg_rows,
        "region_id string, lat_lo double, lng_lo double, lat_hi double, lng_hi double",
    )
    coverings = spark.createDataFrame(cov_rows, _COVER_SCHEMA)
    return regions, coverings


# ---------------------------------------------------------------------------
# Coarse stage: covering join
# ---------------------------------------------------------------------------


def covering_join(
    docs: DataFrame,
    coverings: DataFrame,
    cell_col: str = "cell_id",
    broadcast_regions: bool = True,
    salt: int | None = None,
    salt_col: str = "doc_id",
    id_col: str | None = None,
    levels: list[int] | None = None,
) -> DataFrame:
    """Join docs (leaf cellid) with exploded covering cells.

    Single equi-join: the doc side explodes its leaf to the ancestor at every
    *distinct* covering level (a handful of pure bit-op values, one array
    explode — the parquet scan and the cellid UDF run exactly once), then one
    hash join against ``cover_cell``.  A cellid encodes its level in the lsb,
    so a level-L ancestor can only ever equal a level-L covering cell —
    cross-level false matches are impossible, and because a RegionCoverer
    covering is a *normalized* CellUnion (disjoint cells, cellunion.rs:61-127)
    each doc matches at most one covering cell per region: no dedup needed.

    Broadcast path (default): map-side hash join, zero shuffle of doc rows.
    ``salt``: explode region side x salt and key docs by a deterministic hash
    bucket, splitting hot covering cells across reducers (north_rule skew
    handling). Only useful on the shuffle (sort-merge) path.
    """
    if levels is None:
        levels = sorted(r[0] for r in coverings.select("cover_level").distinct().collect())
    if not levels:
        raise ValueError("empty covering set")

    d = docs.withColumn(
        "_join_cell",
        F.explode(F.array([tiling.parent_col(cell_col, lvl) for lvl in levels])),
    )
    cov = coverings
    if salt:
        cov = cov.withColumn("_salt_r", F.explode(F.array([F.lit(i) for i in range(salt)])))
        d = d.withColumn(
            "_salt_d", F.pmod(F.xxhash64(F.col(id_col or salt_col)), F.lit(salt))
        )
    if broadcast_regions:
        cov = F.broadcast(cov)
    if salt:
        out = d.join(
            cov,
            on=(F.col("_join_cell") == F.col("cover_cell"))
            & (F.col("_salt_d") == F.col("_salt_r")),
        ).drop("_salt_d", "_salt_r")
    else:
        out = d.join(cov, on=F.col("_join_cell") == F.col("cover_cell"))
    return out.drop("_join_cell")


def covering_range_join(
    docs: DataFrame,
    coverings: DataFrame,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Alternate plan shape: leaf-range join (cellid.rs:442-459 predicate).

    ``range_min <= leaf <= range_max`` over a *broadcast* covering table —
    Spark executes this as BroadcastNestedLoopJoin, which is fine only for
    tiny covering sets (ad-hoc queries). The production path is
    ``covering_join`` (equi-join on ancestor bit-ops); this variant exists
    because the range form is the natural expression of the same semantics
    and a useful cross-check (tests assert both produce identical rows).
    """
    leaf = F.col(cell_col)
    return docs.join(
        F.broadcast(coverings),
        on=(leaf >= F.col("range_min")) & (leaf <= F.col("range_max")),
    )


def salted(df: DataFrame, key_col: str, n_salt: int, out: str = "salt") -> DataFrame:
    """Deterministic salt bucket for hot-key mitigation."""
    return df.withColumn(out, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salt)))


# ---------------------------------------------------------------------------
# Exact refine stage
# ---------------------------------------------------------------------------


def _cap_refine_udf():
    @pandas_udf("boolean")
    def _refine(
        lat: pd.Series, lng: pd.Series, cx: pd.Series, cy: pd.Series, cz: pd.Series, r2: pd.Series
    ) -> pd.Series:
        # cap.rs:212-214: |c-p|^2 <= radius2 — one fused numpy expression.
        px, py, pz = latlng_to_xyz(lat, lng)
        d2 = (
            (px - cx.to_numpy(np.float64)) ** 2
            + (py - cy.to_numpy(np.float64)) ** 2
            + (pz - cz.to_numpy(np.float64)) ** 2
        )
        return pd.Series(d2 <= r2.to_numpy(np.float64))

    return _refine


def cap_join(
    docs_tiled: DataFrame,
    regions: DataFrame,
    coverings: DataFrame,
    cell_col: str = "cell_id",
    broadcast_regions: bool = True,
    salt: int | None = None,
    id_col: str = "doc_id",
    jvm_refine: bool = True,
    levels: list[int] | None = None,
) -> DataFrame:
    """Exact cap-containment spatial join: covering prefilter + chord refine.

    Output: one row per (region_id, doc) pair with the doc inside the cap.

    Precondition: `coverings` must be a *normalized* (disjoint) CellUnion per
    region — as produced by RegionCoverer / CellUnion.normalize. Overlapping
    coverings would yield duplicate match rows; no defensive dedupe is done
    here because the normalized covering makes it a per-doc single match and
    the dedupe would add a full shuffle.
    """
    coarse = covering_join(
        docs_tiled, coverings, cell_col, broadcast_regions, salt, id_col=id_col, levels=levels
    )
    reg = F.broadcast(regions) if broadcast_regions else regions
    joined = coarse.join(reg, on="region_id")
    if jvm_refine:
        # same |c-p|^2 <= r2 predicate in pure Column math: stays inside
        # whole-stage codegen, no Arrow round-trip for the refine.
        px, py, pz = tiling.xyz_cols("lat", "lng")
        d2 = (
            (px - F.col("cx")) ** 2 + (py - F.col("cy")) ** 2 + (pz - F.col("cz")) ** 2
        )
        refined = joined.where(d2 <= F.col("radius2"))
    else:
        refined = joined.where(
            _cap_refine_udf()(
                F.col("lat"), F.col("lng"), F.col("cx"), F.col("cy"), F.col("cz"), F.col("radius2")
            )
        )
    keep = [c for c in docs_tiled.columns] + ["region_id"]
    return refined.select(*keep)


def rect_join(
    docs_tiled: DataFrame,
    regions: DataFrame,
    coverings: DataFrame,
    cell_col: str = "cell_id",
    broadcast_regions: bool = True,
    salt: int | None = None,
    id_col: str = "doc_id",
    levels: list[int] | None = None,
) -> DataFrame:
    """Exact lat/lng-rect containment join (rect.rs:693-707 semantics).

    Refine is pure Column math (interval tests with dateline wrap) — no UDF.
    """
    coarse = covering_join(
        docs_tiled, coverings, cell_col, broadcast_regions, salt, id_col=id_col, levels=levels
    )
    reg = F.broadcast(regions) if broadcast_regions else regions
    joined = coarse.join(reg, on="region_id")
    lat_ok = (F.col("lat") >= F.col("lat_lo")) & (F.col("lat") <= F.col("lat_hi"))
    # lng interval may be inverted (crosses the antimeridian, s1/interval.rs:36-50)
    not_inv = F.col("lng_lo") <= F.col("lng_hi")
    lng_ok = F.when(
        not_inv, (F.col("lng") >= F.col("lng_lo")) & (F.col("lng") <= F.col("lng_hi"))
    ).otherwise((F.col("lng") >= F.col("lng_lo")) | (F.col("lng") <= F.col("lng_hi")))
    refined = joined.where(lat_ok & lng_ok)
    keep = [c for c in docs_tiled.columns] + ["region_id"]
    return refined.select(*keep)


# ---------------------------------------------------------------------------
# Within-distance pairwise self-join
# ---------------------------------------------------------------------------


def distance_self_join(
    pts: DataFrame,
    radius_rad: float,
    lvl: int | None = None,
    id_col: str = "event_id",
    cell_col: str = "cell_id",
) -> DataFrame:
    """All unordered point pairs within angular distance ``radius_rad``.

    The canonical within-distance spatial self-join (the DBSCAN-epsilon /
    dedup-by-location primitive).  rust-s2 ships the *pieces* — CellID Moore
    neighborhoods (cellid.rs:389-439) and the chord-distance predicate
    (cap.rs:212-214) — but never the relational operator; this is the
    cluster-scale composition:

    - **coarse**: key every point by its level-L ancestor (pure bit Column),
      where L is the finest level with ``min_width(L) > radius``.  Two points
      within the radius then ALWAYS sit in the same or Moore-adjacent cells:
      cells that do not touch are separated by a slab of whole cells, and
      crossing a cell from edge to opposite edge is >= min_width(L)
      (metric.rs:56-110 MIN_WIDTH).  The Moore map is built over the DISTINCT
      occupied cells — grid-bounded, <= 6*4^L rows at ANY input scale (the
      same bound the vectorize mask relies on) — and broadcast, so the only
      data shuffle is ONE equi-partition of points by cell key.
    - **refine**: exact squared-chord predicate in pure Column math inside
      whole-stage codegen (the cap_join refine order).  The MEMBERSHIP is
      engine-exact: JVM and DuckDB libm trig differ by 1-4 ulp (measured),
      which perturbs chord2 by <= ~2e-17, while the closest event pair sits
      >= 2.4e-10 from the threshold at sf0.1 — seven orders of margin.  The
      emitted distance is rounded to 7 dp for the same reason: the raw
      doubles are NOT bit-identical across engines (first query to emit
      trig-derived doubles raw would fail the hash gate on ulp noise).

    Each qualifying pair is emitted exactly once (``id_a < id_b``): the
    per-cell neighbor list is deduped, Moore adjacency is symmetric, and a
    point pair matches through exactly one (cell_a, cell_b) list entry.

    Skew note: a hot cell (all points in one city block) makes the OUTPUT
    itself quadratic in that cell's population — that is inherent to the
    operator, not the plan; salting cannot shrink it.  The cell key spreads
    distinct cells uniformly (Hilbert positions), and AQE splits oversized
    reduce partitions at scale.
    """
    from ..kernel.constants import MIN_WIDTH

    if lvl is None:
        lvl = MIN_WIDTH.max_level(radius_rad)
        if MIN_WIDTH.value(lvl) <= radius_rad:  # max_level ties: step coarser
            lvl -= 1
    if not MIN_WIDTH.value(lvl) > radius_rad:
        raise ValueError(
            f"min_width(level {lvl}) = {MIN_WIDTH.value(lvl)} must exceed "
            f"radius {radius_rad}: Moore adjacency would miss pairs"
        )
    chord = 2.0 * math.sin(radius_rad / 2.0)
    r2 = chord * chord

    px, py, pz = tiling.xyz_cols("lat", "lng")
    base = pts.select(
        F.col(id_col).alias("_id"),
        tiling.parent_col(cell_col, lvl).alias("_cell"),
        px.alias("_x"),
        py.alias("_y"),
        pz.alias("_z"),
    )

    # Moore map over DISTINCT occupied cells: grid-bounded driver collect.
    occupied = np.array(
        [r[0] for r in base.select("_cell").distinct().collect()], dtype=np.int64
    )
    spark = pts.sparkSession
    if occupied.size == 0:
        return spark.createDataFrame(
            [], "event_a long, event_b long, chord2_r double"
        )
    nbrs = h.all_neighbors_same_level(occupied.view(np.uint64)).view(np.int64)
    # self + 8 neighbors, deduped per row fully vectorized (duplicates occur
    # only at cube-face corners): sort each row, mask repeats.  Valid cellids
    # are positive in int64 (face <= 5 keeps the sign bit clear), so the
    # int64 sort order is the cellid order.
    nine = np.concatenate([occupied[:, None], nbrs], axis=1)
    nine.sort(axis=1)
    keep = np.ones(nine.shape, dtype=bool)
    keep[:, 1:] = nine[:, 1:] != nine[:, :-1]
    cells = np.repeat(occupied[:, None], nine.shape[1], axis=1)[keep]
    nbr_df = spark.createDataFrame(
        pd.DataFrame({"cell": cells, "nbr": nine[keep]})
    )

    a = base.join(F.broadcast(nbr_df), on=F.col("_cell") == F.col("cell")).select(
        F.col("_id").alias("_ida"),
        F.col("nbr"),
        F.col("_x").alias("_xa"),
        F.col("_y").alias("_ya"),
        F.col("_z").alias("_za"),
    )
    cand = a.join(
        base, on=(F.col("nbr") == F.col("_cell")) & (F.col("_ida") < F.col("_id"))
    )
    chord2 = (
        (F.col("_xa") - F.col("_x")) * (F.col("_xa") - F.col("_x"))
        + (F.col("_ya") - F.col("_y")) * (F.col("_ya") - F.col("_y"))
        + (F.col("_za") - F.col("_z")) * (F.col("_za") - F.col("_z"))
    )
    return (
        cand.withColumn("chord2", chord2)
        .where(F.col("chord2") <= F.lit(r2))
        .select(
            F.col("_ida").alias("event_a"),
            F.col("_id").alias("event_b"),
            F.round("chord2", 7).alias("chord2_r"),
        )
    )
