"""Driver-contract queries: each takes (spark, sf_dir) and returns a DataFrame.

Every query here has a matching DuckDB oracle in ``oracles.py`` (or is
explicitly rows-only for approximate operators).  Column names are aliased
identically on both sides; shared literals come from ``specs.py``.

Scale discipline (the point of each query, beyond correctness):
- geometry runs in vectorized pandas UDFs or pure Column bit math;
- joins are broadcast where one side is small, exploded-covering equi-joins
  for the spatial path (never BNLJ range joins);
- money aggregations are decimal-exact, then cast to double once at the edge;
- no collect()-driven loops anywhere.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernel.covering import RegionCoverer
from ..kernel.region import Cap, Rect
from ..kernel.stuv import latlng_to_xyz
from . import specs, tiling
from .join import cap_join, rect_join, covering_join
from .memo import clear as clear_geo_cache, memo, release
from .polyjoin import _pip_refine_udf, region_refine_udf, session_broadcast
from ..kernel import hierarchy as h

# ---------------------------------------------------------------------------
# Shared inputs
# ---------------------------------------------------------------------------


# Fact tables get spread to defaultParallelism on read (hash on their key —
# deterministic, the local analog of a production table's thousands of
# splits).  The sandbox testdata is one parquet file with ONE row group per
# table, so without this every scan — and every stage above it — collapses
# to a single task: refines, window aggs and Arrow stages all run 1-threaded.
# At 100 TB the exchange disappears (the scan itself has enough splits and
# the guard below skips the repartition).  Dims (region/nation) stay as-is:
# they broadcast.
_SPREAD_KEYS = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
}


def _read(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread_key: str | None = None,
    spread: bool = True,
) -> DataFrame:
    # memoized per (session, dataset, table, spread key): the spread-on-read
    # probe (`df.rdd.getNumPartitions()`) runs full physical planning + RDD
    # conversion, ~0.5 s of driver time per call — measurable when every
    # query in the suite starts with 1-2 reads.  DataFrames are immutable,
    # so handing back the same plan object is safe.
    #
    # ``spread_key`` overrides the table's default: a consumer whose first
    # operator shuffles on a known key (window/agg partitionBy) passes that
    # key so the spread IS the downstream partitioning — one Exchange total
    # instead of a redundant spread Exchange below the operator's own.
    #
    # ``spread=False`` skips the spread entirely: the right call when the
    # consumer's FIRST operator is an aggregation (map-side partial combine
    # collapses the input before any shuffle — a pre-spread Exchange would
    # move the full table to save nothing) or a pure map/filter (no shuffle
    # anywhere — the scan's own splits are the parallelism, and at
    # production split counts the spread guard is a no-op anyway).
    #
    # The plan object pins a file-listing snapshot, so a rewritten dataset
    # dir is re-listed only after clear_geo_cache().
    key = (spread_key or _SPREAD_KEYS.get(name)) if spread else None

    def build() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        n = spark.sparkContext.defaultParallelism
        if key is not None and df.rdd.getNumPartitions() < n:
            df = df.repartition(n, F.col(key))
        return df

    return memo(spark, sf_dir, ("read", name, key), build)


def events_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + deterministic derived (lat, lng) + leaf cellid (persisted
    once per session per scale factor — the materialized tiled table).

    The production design materializes the ingest+tile stage ONCE
    (CheckpointManager / Iceberg table) and every query reads it; the
    session-memo persist is the in-session analog — spatial queries stop
    re-deriving the encode per query, and the InMemoryRelation boundary
    keeps Catalyst from re-planning through it."""

    def build() -> DataFrame:
        lat_sql, lng_sql = specs.latlng_sql("event_id")
        df = _read(spark, sf_dir, "events").select(
            "event_id", F.expr(lat_sql).alias("lat"), F.expr(lng_sql).alias("lng")
        )
        return tiling.with_leaf_cellid(df).persist()

    return memo(spark, sf_dir, "events_geo", build)


# ---------------------------------------------------------------------------
# S2 geometry queries
# ---------------------------------------------------------------------------


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaf CellID + level-10 tile per event (Hilbert encode kernel §3.1)."""
    df = events_geo(spark, sf_dir)
    return df.select(
        "event_id",
        F.col("cell_id").alias("cell_id"),
        tiling.parent_col("cell_id", 10).alias("cell_l10"),
    )


_POW61 = 2305843009213693952  # 2^61


def _derived_cell_sql() -> str:
    """Spark-SQL expression deriving a valid random cellid from event_id.

    Level = event_id%31, face = event_id%6, position bits from two LCG steps.
    Pure integer arithmetic — the oracle derives the identical id.
    """
    x1 = f"((event_id * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    x2 = f"(({x1} * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    lvl = "(event_id % 31)"
    pos60 = f"(({x1} % 1073741824) * 1073741824 + ({x2} % 1073741824))"
    pos61 = f"({pos60} * 2 + 1)"
    lsbv = f"shiftleft(CAST(1 AS BIGINT), CAST(2 * (30 - {lvl}) AS INT))"
    cellpos = f"({pos61} - ({pos61} % (2 * {lsbv})) + {lsbv})"
    sface = "((event_id % 6) - (CASE WHEN (event_id % 6) >= 4 THEN 8 ELSE 0 END))"
    return f"({sface} * {_POW61} + {cellpos})"


def q_cell_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellID hierarchy ops as pure bit columns (cellid.rs:245-299, 442-459).

    The engine side computes level/parent/range from the id alone (bit math);
    the oracle recomputes them arithmetically from the construction params —
    independent formulations that must agree.
    """
    ev = _read(spark, sf_dir, "events").select("event_id")
    df = ev.withColumn("cell_id", F.expr(_derived_cell_sql()))
    plvl = F.expr("CAST((event_id % 31) AS INT) div 2").cast("int")
    return df.select(
        "event_id",
        "cell_id",
        tiling.level_col("cell_id").alias("lvl"),
        tiling.face_col("cell_id").alias("face"),
        (tiling.level_col("cell_id") == F.lit(30)).alias("is_leaf"),
        tiling.range_min_col("cell_id").alias("rmin"),
        tiling.range_max_col("cell_id").alias("rmax"),
        tiling.parent_var_col("cell_id", plvl).alias("parent_id"),
        tiling.cellid_to_token_udf()(F.col("cell_id")).alias("token"),
    )


@functools.cache
def _cap_cov_rows() -> tuple:
    coverer = RegionCoverer(max_cells=12)
    cov_rows = []
    for rid, cx, cy, cz, r2 in specs.cap_rows():
        cap = Cap(np.array([cx, cy, cz]), r2)
        cov_rows.extend(_cov_rows_for(rid, coverer.covering(cap).ids))
    return tuple(cov_rows)


def _cov_rows_for(rid: str, ids) -> list[tuple]:
    out = []
    for cid in ids:
        u = np.uint64(cid)
        out.append(
            (rid, int(np.int64(u)), int(h.level(u)),
             int(np.int64(h.range_min(u))), int(np.int64(h.range_max(u))))
        )
    return out


_COVER_SCHEMA = (
    "region_id string, cover_cell long, cover_level int, range_min long, range_max long"
)


def _cap_setup(spark: SparkSession):
    regions = spark.createDataFrame(
        specs.cap_rows(), "region_id string, cx double, cy double, cz double, radius2 double"
    )
    cov_rows = _cap_cov_rows()
    coverings = spark.createDataFrame(list(cov_rows), _COVER_SCHEMA)
    levels = sorted({r[2] for r in cov_rows})
    return regions, coverings, levels


def q_cap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-containment spatial join: covering prefilter + exact chord refine.

    The oracle brute-forces the chord predicate over the full cross product;
    equality proves the covering prefilter loses/invents no rows.
    """
    docs = events_geo(spark, sf_dir)
    regions, coverings, levels = _cap_setup(spark)
    out = cap_join(docs, regions, coverings, id_col="event_id", levels=levels)
    return out.select("region_id", "event_id")


def _clustered_events_path(spark: SparkSession, sf_dir: str) -> str:
    """The Hilbert-clustered materialization of the tiled events table, one
    per (session, dataset).  The in-session analog of maintaining the
    production table as a cell_id-sorted Iceberg layout (engine/layout.py):
    written once, then every range scan prunes at the parquet-footer level.
    The path is a pure function of (applicationId, sf_dir), so a rebuild
    after a clear overwrites the same directory."""
    import hashlib
    import os

    from .layout import write_clustered

    def build() -> str:
        base = os.environ.get("SPARK_GRAFT_TMP", "/tmp/spark_graft")
        # key the on-disk path by the FULL dataset dir (hash + basename for
        # readability): two datasets sharing a basename must not alias to —
        # and overwrite — one clustered copy
        norm = os.path.normpath(sf_dir)
        sf_name = os.path.basename(norm)
        tag = hashlib.sha1(norm.encode()).hexdigest()[:10]
        app_id = spark.sparkContext.applicationId
        path = f"{base}/{app_id}/clustered/{sf_name}-{tag}/events_geo"
        # 2k-row groups (schema is 4 fixed-width cols ≈ 32 B/row) so the
        # bench tables get enough groups for the covering ranges to skip
        # most of them.  At 10^12 rows the default 128 MB groups give the
        # same effect for free: group span in curve space shrinks ∝ 1/n,
        # so touched fraction converges to the covering's curve weight.
        write_clustered(
            events_geo(spark, sf_dir),
            path,
            n_files=spark.sparkContext.defaultParallelism,
            rows_per_group=2048,
            bytes_per_row_hint=32,
        )
        return path

    return memo(spark, sf_dir, "clustered_path", build)


@functools.lru_cache(maxsize=None)
def _merged_ranges(cov_rows: tuple) -> tuple[tuple[int, int], ...]:
    """A covering's leaf ranges, sorted and merged (disjoint)."""
    spans = sorted((r[3], r[4]) for r in cov_rows)
    merged = [list(spans[0])]
    for lo, hi in spans[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return tuple((lo, hi) for lo, hi in merged)


def _clustered_scan(spark: SparkSession, sf_dir: str, cov_rows) -> DataFrame:
    """THE default docs side for spatial queries: the Hilbert-clustered
    events table with the covering's merged leaf ranges pushed into the
    scan as ``cell_id BETWEEN`` filters.  On the cell_id-sorted layout
    every row group covers a compact curve interval, so parquet footer
    stats prune all but the touched groups before a data page is read.
    Lossless prefilter: a doc can only match a covering cell if its leaf
    id lies in that cell's [range_min, range_max].  One parsed SQL
    fragment (not ~60 chained Column ops -> py4j round trips); the scan
    plan object is memoized so re-invocations skip the parquet re-listing.
    """
    docs = memo(
        spark,
        sf_dir,
        "clustered_scan",
        lambda: spark.read.parquet(_clustered_events_path(spark, sf_dir)),
    )
    pred = F.expr(
        " OR ".join(
            f"cell_id BETWEEN {lo}L AND {hi}L"
            for lo, hi in _merged_ranges(tuple(cov_rows))
        )
    )
    return docs.where(pred)


def q_cap_join_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap join over the Hilbert-CLUSTERED events table (storage-side half).

    Identical semantics (and oracle) to s2_cap_join, but the docs side reads
    the cell_id-sorted parquet layout with the covering's merged leaf ranges
    pushed into the scan as ``cell_id BETWEEN`` filters — on the sorted table
    every row group covers a compact curve interval, so the footer stats
    prune all but the touched groups before a data page is read.  This is the
    100 TB data-skipping path made end-to-end: covering → range predicate →
    clustered scan → equi-join → exact refine.  The range prefilter is
    lossless: a doc can only match a covering cell if its leaf id lies in
    that cell's [range_min, range_max].
    """
    docs = _clustered_scan(spark, sf_dir, _cap_cov_rows())
    regions, coverings, levels = _cap_setup(spark)
    out = cap_join(docs, regions, coverings, id_col="event_id", levels=levels)
    return out.select("region_id", "event_id")


def q_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lat/lng-rect containment join incl. an antimeridian-crossing rect.

    Docs side is the clustered scan (the default spatial path): covering →
    merged ``cell_id BETWEEN`` ranges pushed into the sorted layout →
    row-group pruning → equi-join → exact refine."""
    cov_rows = _rect_cov_rows()
    docs = _clustered_scan(spark, sf_dir, cov_rows)
    regions = spark.createDataFrame(
        list(specs.RECTS),
        "region_id string, lat_lo double, lng_lo double, lat_hi double, lng_hi double",
    )
    coverings = spark.createDataFrame(list(cov_rows), _COVER_SCHEMA)
    levels = sorted({r[2] for r in cov_rows})
    out = rect_join(docs, regions, coverings, id_col="event_id", levels=levels)
    return out.select("region_id", "event_id")


@functools.cache
def _rect_cov_rows() -> tuple:
    coverer = RegionCoverer(max_cells=12)
    cov_rows = []
    for rid, lat_lo, lng_lo, lat_hi, lng_hi in specs.RECTS:
        rect = Rect.from_degrees(lat_lo, lng_lo, lat_hi, lng_hi)
        cov_rows.extend(_cov_rows_for(rid, coverer.covering(rect).ids))
    return tuple(cov_rows)


def _ring_crosses(rings) -> list[tuple[float, float, float]]:
    """Edge-plane normals cross(v_k, v_{k+1}) of every spec ring in turn,
    as exact literals."""
    out = []
    for ring in rings:
        verts = specs.polygon_vertices_xyz(ring)
        n = len(verts)
        for k in range(n):
            a, b = verts[k], verts[(k + 1) % n]
            out.append(
                (
                    a[1] * b[2] - a[2] * b[1],
                    a[2] * b[0] - a[0] * b[2],
                    a[0] * b[1] - a[1] * b[0],
                )
            )
    return out


def polygon_edge_crosses() -> dict[str, list[tuple[float, float, float]]]:
    """Per-polygon edge-plane normals cross(v_k, v_{k+1}) as exact literals."""
    return {rid: _ring_crosses([ring]) for rid, ring in specs.POLYGONS}


_PX_SQL = "(cos(radians(lat)) * cos(radians(lng)))"
_PY_SQL = "(cos(radians(lat)) * sin(radians(lng)))"
_PZ_SQL = "(sin(radians(lat)))"


def _d(x: float) -> str:
    """Bit-exact double literal: string->double cast round-trips IEEE754
    exactly (plain decimal literals would parse as DECIMAL)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _margin_sql(crosses) -> str:
    """|det(cross_k, p)| > PIP_MARGIN for every edge, as ONE parsed SQL
    fragment.  The chained-Column form costs ~0.5 s of py4j round trips
    per query build; the parsed text yields the identical analyzed
    expression tree (same function calls, same operand order)."""
    if not crosses:
        return "true"  # degenerate ring: keep the old Column form's lit(True)
    return " AND ".join(
        f"(abs({_d(cx)} * {_PX_SQL} + {_d(cy)} * {_PY_SQL} + {_d(cz)} * {_PZ_SQL})"
        f" > {_d(specs.PIP_MARGIN)})"
        for cx, cy, cz in crosses
    )


def _margin_pred(region_col: str = "region_id"):
    """|det(cross_k, p)| > PIP_MARGIN for every edge — JVM trig, one expr."""
    arms = " ".join(
        f"WHEN '{rid}' THEN ({_margin_sql(crosses)})"
        for rid, crosses in polygon_edge_crosses().items()
    )
    return F.expr(f"CASE {region_col} {arms} ELSE false END")


@functools.cache
def _loop_setup():
    from ..kernel.pip import Loop

    coverer = RegionCoverer(max_cells=12)
    verts, cov_rows = {}, []
    for rid, ring in specs.POLYGONS:
        v = np.asarray(specs.polygon_vertices_xyz(ring), dtype=np.float64)
        verts[rid] = v
        cov_rows.extend(_cov_rows_for(rid, coverer.covering(Loop(v)).ids))
    return verts, tuple(cov_rows)


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join: covering prefilter + crossing-number PIP kernel.

    Oracle uses an independent method (convex edge-sign tests); points within
    PIP_MARGIN of any edge plane are excluded on both sides.  The coarse
    phase reads the clustered scan (the default spatial path) with the
    loop coverings' merged ranges pushed into the sorted layout.
    """
    verts, cov_rows = _loop_setup()
    docs = _clustered_scan(spark, sf_dir, cov_rows)
    coverings = spark.createDataFrame(list(cov_rows), _COVER_SCHEMA)
    levels = sorted({r[2] for r in cov_rows})
    coarse = covering_join(docs, coverings, id_col="event_id", levels=levels)
    coarse = coarse.where(_margin_pred())
    refined = coarse.where(
        _pip_refine_udf(spark, verts, tag="loops")(
            F.col("region_id"), F.col("lat"), F.col("lng")
        )
    )
    return refined.select("region_id", "event_id")


@functools.cache
def _nested_setup():
    from ..kernel.pip import Loop, Polygon

    loops = [
        Loop(np.asarray(specs.polygon_vertices_xyz(r), dtype=np.float64))
        for r in specs.NESTED_RINGS
    ]
    poly = Polygon.from_loops(loops)
    # max_level caps corner subdivision: without it the coverer emits a few
    # leaf-level cells at ring corners, which adds a useless explode branch
    # (level-30 ancestors) to every doc row in the covering join
    coverer = RegionCoverer(max_cells=16, max_level=12)
    cov = tuple(_cov_rows_for(specs.NESTED_POLYGON_ID, coverer.covering(poly).ids))
    return poly, cov


def q_poly_nested_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against a 4-deep nested polygon (country > lake > island >
    pond): covering prefilter over the whole hierarchy, JVM margin
    prefilter on every ring edge, then the parity crossing-number refine.
    The oracle recomputes containment independently as XOR of per-ring
    convex edge-sign tests."""
    docs = events_geo(spark, sf_dir)
    poly, cov_rows = _nested_setup()
    coverings = spark.createDataFrame(list(cov_rows), _COVER_SCHEMA)
    levels = sorted({r[2] for r in cov_rows})
    coarse = covering_join(docs, coverings, id_col="event_id", levels=levels)
    coarse = coarse.where(F.expr(_margin_sql(_ring_crosses(specs.NESTED_RINGS))))
    refine = region_refine_udf(spark, "nested", lambda: {specs.NESTED_POLYGON_ID: poly})
    refined = coarse.where(refine(F.col("region_id"), F.col("lat"), F.col("lng")))
    return refined.select("region_id", "event_id")


def q_region_area_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region area-weighted stats: event count inside each polygon
    region (the three convex POLYGONS + the nested polygon), the region's
    surface-integral area and true centroid (loop.rs:1833-1980 kernels,
    computed driver-side per region — regions are few), and event density.
    The oracle recomputes counts by edge-sign tests and the area/centroid
    by evaluating the same triangle-fan formulas in DuckDB SQL from the
    vertex literals."""
    from ..kernel.pip import Loop

    docs = events_geo(spark, sf_dir)
    verts, cov_rows = _loop_setup()
    npoly, ncov = _nested_setup()
    regions = {rid: Loop(v) for rid, v in verts.items()}
    regions[specs.NESTED_POLYGON_ID] = npoly
    # ONE covering join + ONE Arrow refine over the union of all regions
    # (loops + nested polygon); both the margin CASE and the refine dispatch
    # per region_id, so per-region semantics match the single-kind joins.
    all_cov = list(cov_rows) + list(ncov)
    coverings = spark.createDataFrame(all_cov, _COVER_SCHEMA)
    levels = sorted({r[2] for r in all_cov})
    coarse = covering_join(docs, coverings, id_col="event_id", levels=levels)
    arms = " ".join(
        f"WHEN '{rid}' THEN ({_margin_sql(crosses)})"
        for rid, crosses in polygon_edge_crosses().items()
    )
    nested_ok = _margin_sql(_ring_crosses(specs.NESTED_RINGS))
    narm = f"WHEN '{specs.NESTED_POLYGON_ID}' THEN ({nested_ok})"
    coarse = coarse.where(F.expr(f"CASE region_id {arms} {narm} ELSE false END"))
    hits = coarse.where(
        region_refine_udf(spark, "areastats", lambda: regions)(
            F.col("region_id"), F.col("lat"), F.col("lng")
        )
    ).select("region_id", "event_id")
    counts = hits.groupBy("region_id").agg(F.count("*").alias("n_events"))

    # region geometry stats via the kernel (driver-side: regions are few)
    geo_rows = []
    for rid, region in regions.items():
        c = region.centroid()
        geo_rows.append((rid, region.area(), float(c[0]), float(c[1]), float(c[2])))
    geo = spark.createDataFrame(
        geo_rows, "region_id string, area double, cx double, cy double, cz double"
    )
    out = counts.join(F.broadcast(geo), on="region_id")
    return out.select(
        "region_id",
        "n_events",
        F.round("area", 9).alias("area_r"),
        F.round("cx", 9).alias("cx_r"),
        F.round("cy", 9).alias("cy_r"),
        F.round("cz", 9).alias("cz_r"),
        F.round(F.col("n_events") / F.col("area"), 6).alias("density_r"),
    )


@functools.cache
def _overlay_setup():
    """Build union/intersection/difference polygons of the spec operand pair
    via the boolean overlay kernel, plus their coverings."""
    from ..kernel.overlay import loop_overlay
    from ..kernel.pip import Loop

    a = Loop(np.asarray(specs.polygon_vertices_xyz(specs.OVERLAY_A), dtype=np.float64))
    b = Loop(np.asarray(specs.polygon_vertices_xyz(specs.OVERLAY_B), dtype=np.float64))
    coverer = RegionCoverer(max_cells=16, max_level=12)
    polys = {}
    cov_rows = []
    for op, rid in (("union", "ovl_union"), ("intersection", "ovl_inter"), ("difference", "ovl_diff")):
        p = loop_overlay(a, b, op)
        polys[rid] = p
        cov_rows.extend(_cov_rows_for(rid, coverer.covering(p).ids))
    return polys, tuple(cov_rows)


@functools.cache
def _coastline_setup():
    from ..kernel.pip import Loop

    verts = np.asarray(specs.coastline_vertices_xyz(), dtype=np.float64)
    lp = Loop(verts)  # 512 vertices: uses the per-face edge-index covering path
    coverer = RegionCoverer(max_cells=24, max_level=12)
    cov = tuple(_cov_rows_for(specs.COASTLINE_ID, coverer.covering(lp).ids))
    return verts, cov


def q_coastline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against a coastline-scale polygon (512-vertex convex ring):
    the covering is generated through the per-face edge index (the
    O(n_edges)-per-cell sweep would crawl here), the margin prefilter stays
    JVM-side over all 512 edge planes, and the exact refine is the
    vectorized crossing-number kernel.  Convexity keeps the independent
    edge-sign oracle valid."""
    from pyspark.sql.functions import pandas_udf

    from ..kernel.pip import Loop

    docs = events_geo(spark, sf_dir)
    verts, cov_rows = _coastline_setup()
    coverings = spark.createDataFrame(list(cov_rows), _COVER_SCHEMA)
    levels = sorted({r[2] for r in cov_rows})
    coarse = covering_join(docs, coverings, id_col="event_id", levels=levels)
    # Margin prefilter + crossing-number PIP in ONE Arrow stage: at 512
    # edges a Column-expression margin tree (512 conds x trig) costs ~20 s
    # of plan build + codegen per query, while the same |cross(v_k,v_k+1).p|
    # tests are a single 512x3 @ 3xm numpy matmul over the (tiny,
    # covering-pruned) candidate batch.  3-term dot order matches the
    # oracle's SQL exactly.  A fresh Loop ships: the covering's per-face
    # edge index would triple the payload and the refine never reads it.
    bc = session_broadcast(
        spark,
        "coastline_refine",
        lambda: (Loop(verts), np.cross(verts, np.roll(verts, -1, axis=0))),
    )

    @pandas_udf("boolean")
    def _inside(lat: pd.Series, lng: pd.Series) -> pd.Series:
        lp, cr = bc.value
        p = np.stack(latlng_to_xyz(lat, lng))
        dets = cr @ p  # (n_edges, m)
        ok = (np.abs(dets) > specs.PIP_MARGIN).all(axis=0)
        ok &= lp.contains_points(p[0], p[1], p[2])
        return pd.Series(ok)

    refined = coarse.where(_inside(F.col("lat"), F.col("lng")))
    return refined.select("region_id", "event_id")


def q_poly_overlay_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-overlay spatial join: events classified against the UNION,
    INTERSECTION and DIFFERENCE polygons constructed by the overlay kernel
    (kernel/overlay.py — a capability the reference engine lacks entirely).
    The oracle never sees the overlay: it recomputes membership as the
    boolean algebra of the two operands' convex edge-sign tests, so a wrong
    overlay boundary flips rows and fails the hash."""
    docs = events_geo(spark, sf_dir)
    polys, cov_rows = _overlay_setup()
    coverings = spark.createDataFrame(list(cov_rows), _COVER_SCHEMA)
    levels = sorted({r[2] for r in cov_rows})
    coarse = covering_join(docs, coverings, id_col="event_id", levels=levels)
    ok = F.expr(_margin_sql(_ring_crosses((specs.OVERLAY_A, specs.OVERLAY_B))))
    coarse = coarse.where(ok)
    refine = region_refine_udf(spark, "overlay", lambda: polys)
    refined = coarse.where(refine(F.col("region_id"), F.col("lat"), F.col("lng")))
    return refined.select("region_id", "event_id")


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest events per query point by squared chord distance.

    Baseline: broadcast queries x events + window top-k (point.rs:424-429
    distance).  The cell-ring variant must return identical rows.
    """
    docs = events_geo(spark, sf_dir)
    q_rows = []
    for qid, lat, lng in specs.KNN_QUERIES:
        la, ln = math.radians(lat), math.radians(lng)
        q_rows.append((qid, math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)))
    queries = spark.createDataFrame(q_rows, "query_id string, qx double, qy double, qz double")
    px = F.cos(F.radians("lat")) * F.cos(F.radians("lng"))
    py = F.cos(F.radians("lat")) * F.sin(F.radians("lng"))
    pz = F.sin(F.radians("lat"))
    d2 = (px - F.col("qx")) ** 2 + (py - F.col("qy")) ** 2 + (pz - F.col("qz")) ** 2
    joined = docs.crossJoin(F.broadcast(queries)).withColumn("d2", d2)
    # single window: Catalyst's WindowGroupLimit (Spark >= 3.5; this repo
    # targets Spark 4.x) inserts the map-side partial top-k below the
    # Exchange itself (Partial mode), so the shuffle carries
    # O(partitions * k) rows, not O(n) — the hand-written per-partition
    # pre-window this replaces added a redundant second
    # Sort+Exchange+Window chain for the same bound.  On Spark < 3.5 the
    # shuffle would carry O(n) rows (correctness unaffected).
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("event_id").asc())
    ranked = joined.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= specs.KNN_K)
    return ranked.select("query_id", "event_id", "rank", F.round("d2", 6).alias("d2_r"))


def q_covering_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellUnion set algebra via DataFrame set ops (fills cellunion.rs:932-938).

    A = level-12 cells of even events, B = of events % 3 == 0; output the
    union tagged by membership (intersect/except expressed as DF ops).
    """
    ev = _read(spark, sf_dir, "events").select("event_id")
    cell = F.expr(_derived_cell12_sql())
    cells = ev.withColumn("cell12", cell)
    # Set algebra as ONE membership groupBy: tagging each cell with max(in_a)
    # / max(in_b) flags is row-for-row identical to
    # a.intersect(b) / a.exceptAll(b) / b.exceptAll(a) over the distinct cell
    # sets (pinned by tests/test_relational_ops.py against the literal
    # intersect/exceptAll plan), but costs ONE shuffle where the set-op form
    # pays five and evaluates each distinct subtree three times — at 100 TB
    # the flags plan is the only sane one.
    agg = cells.groupBy("cell12").agg(
        F.max((F.col("event_id") % 2 == 0).cast("int")).alias("in_a"),
        F.max((F.col("event_id") % 3 == 0).cast("int")).alias("in_b"),
    )
    return agg.where((F.col("in_a") == 1) | (F.col("in_b") == 1)).select(
        F.col("cell12").alias("cell_id"),
        F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), F.lit("both"))
        .when(F.col("in_a") == 1, F.lit("a_only"))
        .otherwise(F.lit("b_only"))
        .alias("tag"),
    )


def _derived_cell12_sql() -> str:
    """Valid level-12 cellid from event_id (arithmetic, oracle-reproducible)."""
    x1 = f"((event_id * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    x2 = f"(({x1} * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    pos60 = f"(({x1} % 1073741824) * 1073741824 + ({x2} % 1073741824))"
    pos61 = f"({pos60} * 2 + 1)"
    lsbv = 1 << (2 * (30 - 12))
    cellpos = f"({pos61} - ({pos61} % {2 * lsbv}) + {lsbv})"
    sface = "((event_id % 6) - (CASE WHEN (event_id % 6) >= 4 THEN 8 ELSE 0 END))"
    return f"({sface} * {_POW61} + {cellpos})"


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / text analysis
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on normalized text (md5 key)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.lower(F.col("text")).cast("binary")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("rep_doc"))
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring stats: token/vowel/punct counts via exact char math."""
    docs = _read(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = F.length(text) - F.length(F.regexp_replace(text, " ", "")) + F.lit(1)
    # translate-based char-class counts: identical builtin in both engines.
    vowels = F.length(text) - F.length(F.translate(text, specs.VOWELS, ""))
    punct = F.length(text) - F.length(F.translate(text, specs.PUNCT_CHARS, ""))
    avg_wlen = F.round(
        (F.length(F.regexp_replace(text, " ", "")).cast("double")) / n_tokens.cast("double"), 6
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        vowels.alias("n_vowels"),
        punct.alias("n_punct"),
        avg_wlen.alias("avg_wlen"),
    )


def _lang_count_expr(marker: str) -> str:
    padded = "(' ' || lower(text) || ' ')"
    pat = f"' {marker} '"
    return f"((length({padded}) - length(replace({padded}, {pat}, ''))) div {len(marker) + 2})"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: padded-stopword counting + argmax CASE."""
    docs = _read(spark, sf_dir, "documents")
    cols = ["doc_id", "lang"]
    names = []
    for lg, markers in specs.LANG_MARKERS:
        expr = " + ".join(_lang_count_expr(m) for m in markers)
        names.append((lg, f"cnt_{lg}"))
        cols.append(F.expr(expr).alias(f"cnt_{lg}"))
    df = docs.select(*cols)
    # argmax with fixed precedence (first language wins ties)
    pred = None
    for i, (lg, cn) in enumerate(names):
        cond = F.lit(True)
        for lg2, cn2 in names[i + 1 :]:
            cond = cond & (F.col(cn) >= F.col(cn2))
        pred = F.when(cond, F.lit(lg)) if pred is None else pred.when(cond, F.lit(lg))
    pred = pred.otherwise(F.lit(names[-1][0]))
    return df.withColumn("predicted", pred).withColumn(
        "is_match", F.col("predicted") == F.col("lang")
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint, fold in Catalyst."""
    docs = _read(spark, sf_dir, "documents")
    fp = F.expr(
        f"aggregate(filter(split(text, ''), c -> c <> ''), CAST(0 AS BIGINT), "
        f"(acc, c) -> (acc * {specs.FP_MULT} + ascii(c)) % {specs.FP_MOD})"
    )
    return docs.select("doc_id", fp.alias("fp"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3gram Jaccard near-dup pairs via inverted-index join.

    At scale the candidate generation is MinHash-LSH (q_minhash_lsh); this is
    the exact verifier, oracle-checked brute force.

    Skew cap: grams with document frequency > specs.NGRAM_DF_CAP are
    stop-grams — dropped before the self-join (and from the per-doc sizes:
    Jaccard is defined over non-stop grams).  Without the cap one hot gram
    is O(df^2) in the join; the hot-gram set itself is tiny by construction
    (few grams can exceed an absolute df cap), so it broadcasts.
    """
    def _build_grams() -> DataFrame:
        docs = _read(spark, sf_dir, "documents")
        g = docs.withColumn("t", F.split(F.col("text"), " ")).select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN "
                    "array_distinct(transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', element_at(t, i), "
                    "element_at(t, i + 1), element_at(t, i + 2)))) "
                    "ELSE array() END"
                )
            ).alias("gram"),
        )
        hot = (
            g.groupBy("gram")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > specs.NGRAM_DF_CAP)
            .select("gram")
        )
        return g.join(F.broadcast(hot), on="gram", how="left_anti")

    # four plan branches consume grams (sizes + both self-join sides);
    # without the persist each re-explodes the corpus.  Keyed cache:
    # re-invocations reuse instead of stacking persists.
    grams = memo(spark, sf_dir, "ngram_grams", lambda: _build_grams().persist())
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, on="gram")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    # no broadcast hint: sizes is O(docs); AQE picks the join from runtime stats
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= 0.04)
    )
    return j.select("doc_a", "doc_b", "inter", F.round("jaccard", 6).alias("jaccard_r"))


_TOKEN_HASH = f"(acc, c) -> (acc * {specs.FP_MULT} + ascii(c)) % {specs.FP_MOD}"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over distinct word tokens (polynomial token hash).

    The signature table is persisted once per (session, dataset) — it is
    the checkpoint table simhash_dedup and simhash_banded both read (at
    100 TB this is one materialized narrow table feeding every
    hamming-clustering job, not a per-job re-derivation)."""

    def _build() -> DataFrame:
        docs = _read(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
        ).where(F.col("tok") != "")
        th = F.expr(
            f"aggregate(filter(split(tok, ''), c -> c <> ''), CAST(0 AS BIGINT), {_TOKEN_HASH})"
        )
        toks = toks.withColumn("th", th)
        # single expr strings: building these 64 expressions as chained Column
        # ops costs ~1.5 s of py4j round trips per invocation; parsed SQL
        # fragments yield the identical analyzed plan in ~4 ms
        votes = [
            F.expr(f"sum(CASE WHEN (shiftright(th, {b}) & 1) = 1 THEN 1 ELSE -1 END)").alias(f"v{b}")
            for b in range(32)
        ]
        agg = toks.groupBy("doc_id").agg(*votes)
        sim = F.expr(
            " + ".join(
                f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
                for b in range(32)
            )
        )
        return agg.select("doc_id", sim.alias("simhash"))

    return memo(spark, sf_dir, "simhash_sig", lambda: _build().persist())


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-collision dedup clusters: every doc is assigned the minimum
    doc_id sharing its 32-bit simhash (the canonical representative), plus
    a dup flag.  Scale shape: ONE window over the simhash groups — no
    self-join, no pair explosion (this corpus is heavily templated: a
    hamming<=4 pair listing would emit ~60% of all pairs; the cluster
    form stays O(n) regardless of clustering).  q_simhash_banded covers the
    hamming-tolerant candidate-pair shape (with the template cap)."""
    sig = q_simhash(spark, sf_dir)
    w = Window.partitionBy("simhash")
    return sig.select(
        "doc_id",
        "simhash",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


SIMHASH_HAMMING_K = 3  # hamming tolerance -> K+1 bands of 32/(K+1) bits


def q_simhash_banded(spark: SparkSession, sf_dir: str, k: int = SIMHASH_HAMMING_K) -> DataFrame:
    """Hamming-tolerant SimHash near-dup pairs via banded self-join.

    Pigeonhole: two 32-bit simhashes within hamming distance k agree on at
    least one of k+1 disjoint bands, so bucketing each doc by its (band_idx,
    band_value) and equi-joining recovers EVERY pair with
    ``bit_count(a ^ b) <= k`` — exact recall, no probabilistic gap (unlike
    minhash).  The band join is the minhash_lsh plan shape: ONE self-join on
    (band_idx, band_val), never one join per band, with the same
    ``specs.LSH_BUCKET_CAP`` skew guard — a band bucket larger than the cap
    is a near-identical template cluster (exact/simhash_dedup's job) that
    would emit O(size^2) pairs, so it is dropped whole via a broadcast
    left-anti join.  The hamming verify ``bit_count(a ^ b) <= k`` runs
    in-JVM (whole-stage codegen) on the surviving candidates.

    Scale shape: 100 TB corpus -> bands explode the doc table 4x (narrow
    rows: id + 1 byte band value + 32-bit sig), shuffle on the band key,
    and the verify is a codegen'd bit op — no Python, no pair blow-up past
    the cap.  For wider tolerance raise k; bands = k+1 keeps the pigeonhole
    guarantee."""
    bands = k + 1
    width = 32 // bands
    sig = q_simhash(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.shiftrightunsigned(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bval"),
        )
        for b in range(bands)
    ]
    bands_df = sig.select(
        "doc_id", "simhash", F.explode(F.array(band_structs)).alias("b")
    ).select(
        "doc_id", "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.bval").alias("bval")
    )
    hot = (
        bands_df.groupBy("band_idx", "bval")
        .agg(F.count("*").alias("bc"))
        .where(F.col("bc") > specs.LSH_BUCKET_CAP)
        .select("band_idx", "bval")
    )
    bands_df = bands_df.join(F.broadcast(hot), on=["band_idx", "bval"], how="left_anti")
    a = bands_df.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sha"), "band_idx", "bval"
    )
    b = bands_df.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("shb"), "band_idx", "bval"
    )
    cand = (
        a.join(b, on=["band_idx", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sha", "shb")
        .distinct()
    )
    ham = F.expr("bit_count(sha ^ shb)").cast("long")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= k)
        .select("doc_a", "doc_b", "hamming")
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (fully oracled: every stage is
    deterministic integer/string math DuckDB replays — see o_minhash_lsh).

    128 permutations via affine hashes of the word-3gram polynomial hash;
    16 bands x 8 rows; banded equi-join yields candidate pairs, then exact
    MinHash similarity estimate.  Deterministic (fixed hash params).
    """
    n_perm, bands, rows_per = 128, 16, 8

    def _build_sig() -> DataFrame:
        docs = _read(spark, sf_dir, "documents")
        g = docs.withColumn("t", F.split(F.col("text"), " ")).select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN "
                    "array_distinct(transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', element_at(t, i), "
                    "element_at(t, i + 1), element_at(t, i + 2)))) "
                    "ELSE array() END"
                )
            ).alias("gram"),
        )
        gh = F.expr(
            f"aggregate(filter(split(gram, ''), c -> c <> ''), CAST(0 AS BIGINT), {_TOKEN_HASH})"
        )
        g = g.withColumn("gh", gh)
        # one parsed fragment per permutation (not a 6-op py4j Column chain
        # each — the s2_cap_join_clustered lesson: plan-BUILD time at 128
        # perms was ~4.5 s of py4j round trips, ~6x more calls than parses)
        mins = [
            F.expr(f"min((gh * {2 * i + 1} + {i * 7919 + 1}) % {specs.FP_MOD})").alias(f"m{i}")
            for i in range(n_perm)
        ]
        return g.groupBy("doc_id").agg(*mins)

    # signature table computed once and persisted: it feeds the band join and
    # both sides of the estimate join (at 100 TB this is the checkpoint
    # table); keyed cache so repeated invocations reuse, never accumulate
    sig = memo(spark, sf_dir, "minhash_sig", lambda: _build_sig().persist())
    band_structs = ", ".join(
        "struct({b} AS band_idx, md5(concat_ws('_', {cols})) AS bk)".format(
            b=bnd,
            cols=", ".join(
                f"CAST(m{bnd * rows_per + r} AS STRING)" for r in range(rows_per)
            ),
        )
        for bnd in range(bands)
    )
    # one self-join on (band_idx, band_key) — not one join per band
    bands_df = sig.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("b")
    ).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.bk").alias("bk")
    )
    # skew cap: a band bucket holding > LSH_BUCKET_CAP docs is a
    # near-identical template cluster (exact/simhash dedup's job) and would
    # emit O(size^2) pairs — drop the bucket whole.  The hot-bucket set is
    # tiny by construction, so it broadcasts into a left-anti join.
    hot = (
        bands_df.groupBy("band_idx", "bk")
        .agg(F.count("*").alias("bc"))
        .where(F.col("bc") > specs.LSH_BUCKET_CAP)
        .select("band_idx", "bk")
    )
    bands_df = bands_df.join(F.broadcast(hot), on=["band_idx", "bk"], how="left_anti")
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    cand = (
        a.join(b, on=["band_idx", "bk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    siga = sig.toDF("doc_a", *[f"a{i}" for i in range(n_perm)])
    sigb = sig.toDF("doc_b", *[f"b{i}" for i in range(n_perm)])
    est_sql = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(n_perm)
    )
    # plain shuffle joins: the signature table is O(n_docs) x 128 cols and
    # must never be broadcast at scale; the candidate-pair side is the small
    # one post-LSH, so AQE is free to broadcast *it* instead.
    out = (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .withColumn("est_sim", F.expr(f"CAST({est_sql} AS DOUBLE) / {n_perm}"))
    )
    return out.select("doc_a", "doc_b", F.round("est_sim", 6).alias("est_sim"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def _seq_dot_udf():
    """Arrow dot product, bit-identical to a sequential left-to-right fold.

    numpy accumulates across rows vectorized but across dims in index order,
    so the result equals the oracle's list_reduce fold exactly — while the
    Catalyst zip_with/aggregate lambdas it replaces are CodegenFallback
    (interpreted, ~100x slower at 10^6+ pairs).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        acc = np.zeros(len(ma))
        for i in range(ma.shape[1]):
            acc = acc + ma[:, i] * mb[:, i]
        return pd.Series(acc)

    return _dot


def _cosine_topk(j: DataFrame, k: int = 5) -> DataFrame:
    """Fold-exact cosine + deterministic top-k over (query_id, vec_id, ce,
    qe) candidate pairs — the shared scoring tail of every ANN variant
    (kept in ONE place so it can never drift from the oracles' _dot_fold)."""
    dot = F.expr(
        "aggregate(zip_with(ce, qe, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nc = F.expr(
        "aggregate(transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nq = F.expr(
        "aggregate(transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    j = j.withColumn("sim", dot / (F.sqrt(nc) * F.sqrt(nq)))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    ranked = j.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    return ranked.select("query_id", "vec_id", "rank", F.round("sim", 6).alias("sim_r"))


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: ordered fold dot product, double-exact."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cand = emb.select(F.col("vec_id"), F.col("embedding").alias("ce"))
    j = cand.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    return _cosine_topk(j)


LSH_TABLES = 4  # L independent hash tables
LSH_BITS = 6  # hyperplanes per table


def lsh_sign_planes(dim: int = 64):
    """Deterministic ±1.0 hyperplanes: list of (table, bit_k, [±1.0]*dim)
    3-tuples, one per (t, k).

    Signs come from an integer mix of the flat hyperplane/dimension index —
    no RNG state, so Spark and the DuckDB oracle reproduce the exact same
    planes (and ±1 components make every dot an exact signed sum)."""
    planes = []
    for t in range(LSH_TABLES):
        for k in range(LSH_BITS):
            idx = t * LSH_BITS + k
            signs = [
                1.0 if (((idx * dim + d) * 2654435761 + 0x9E3779B9) >> 16) & 1 == 0 else -1.0
                for d in range(dim)
            ]
            planes.append((t, k, signs))
    return planes


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (the multi-table bucketed alternative to
    ann_ivf's IVF).

    L=4 independent tables of B=6 deterministic ±1 hyperplanes; a vector's
    per-table signature is the 6-bit sign pattern of its dots (computed as
    the SAME sequential Catalyst fold the oracle replays — buckets are
    bit-exactly reproducible).  Candidates = union over tables of
    bucket collisions under MULTI-PROBE: each query probes its exact
    bucket plus all B hamming-1 neighbor buckets per table (standard
    multiprobe LSH — a near neighbor that lands one flipped sign bit away
    is still found, raising per-table hit probability from p^B to
    p^B + B*p^(B-1)*(1-p) without adding tables).  Scale shape:
    signatures are one narrow projection; multiprobe multiplies only the
    QUERY side by (1+B) rows — the corpus-side bucket table is untouched
    — so the probe join touches ~L*(1+B)/2^B of the corpus, never
    all-pairs; at 100 TB you raise B with corpus size and L/probes with
    the recall target.  Approximate by design; recall gated in
    tests/test_ann_recall.py and the pipeline replayed exactly by
    o_ann_lsh."""
    def _build_bkt() -> DataFrame:
        from pyspark.sql.functions import pandas_udf

        emb = _read(spark, sf_dir, "embeddings")
        planes = lsh_sign_planes()

        # Arrow signature stage: numpy accumulates across rows vectorized but
        # across dims in index order (the _seq_dot_udf trick), so every dot —
        # and therefore every sign bucket — is bit-identical to the oracle's
        # sequential list_reduce fold, without the interpreted CodegenFallback
        # cost of 24 Catalyst aggregate/zip_with lambdas over the full corpus.
        @pandas_udf("array<int>")
        def _sigs(e: pd.Series) -> pd.Series:
            m = np.array(e.tolist(), dtype=np.float64)
            sigs = np.zeros((len(m), LSH_TABLES), dtype=np.int32)
            for t, k, signs in planes:
                acc = np.zeros(len(m))
                for d, s in enumerate(signs):
                    acc = acc + m[:, d] * s
                sigs[:, t] |= (acc >= 0.0).astype(np.int32) << k
            return pd.Series(list(sigs))

        b = emb.select("vec_id", "embedding", _sigs("embedding").alias("sigs"))
        return b.select(
            "vec_id",
            "embedding",
            F.posexplode("sigs").alias("t", "sig"),
        )

    # persisted once per (session, dataset): the bucketed-signature table is
    # the LSH index — the probe joins read it, they never re-hash the corpus
    bkt = memo(spark, sf_dir, "ann_lsh_bkt", lambda: _build_bkt().persist())
    # multiprobe: the query side explodes into the exact bucket + the B
    # hamming-1 neighbor buckets (flip one sign bit at a time)
    probe_arr = F.array(
        F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(LSH_BITS)]
    )
    q = (
        bkt.where(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            "t",
            F.explode(probe_arr).alias("sig"),
        )
    )
    cand = bkt.select("vec_id", F.col("embedding").alias("ce"), "t", "sig")
    j = (
        cand.join(F.broadcast(q), ["t", "sig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])  # a pair may collide in several tables
    )
    return _cosine_topk(j)


# ---------------------------------------------------------------------------
# Interleaved-span pipeline + multimodal stub
# ---------------------------------------------------------------------------

_SPAN_SYNTH = """
array(
  named_struct('kind', 'text', 'text', text, 'media_ref', CAST(NULL AS STRING), 'offset', 0),
  named_struct('kind', 'geo',
    'text', CAST(((doc_id * {A} + {C}) % {M}) % 170001 AS STRING) || ':' ||
            CAST(((((doc_id * {A} + {C}) % {M}) * {A} + {C}) % {M}) % 360000 AS STRING),
    'media_ref', CAST(NULL AS STRING), 'offset', 1),
  named_struct('kind', 'media', 'text', CAST(NULL AS STRING),
    'media_ref', 'media://blob/' || CAST(doc_id AS STRING), 'offset', 2)
)
"""


def _spans_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved doc table synthesized from documents via pure Catalyst.

    Docs with doc_id%4==0 carry a media span; others get the first two spans.
    """
    docs = _read(spark, sf_dir, "documents")
    synth = _SPAN_SYNTH.format(A=specs.LCG_A, C=specs.LCG_C, M=specs.LCG_M)
    spans = F.when(
        F.col("doc_id") % 4 == 0, F.expr(synth)
    ).otherwise(F.expr(f"slice({synth}, 1, 2)"))
    return docs.select("doc_id", spans.alias("spans"))


def q_span_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode -> shuffle -> reassemble spans; prove (kind, text, media_ref,
    order) sequence survives exactly (BASELINE input_hint invariant)."""
    spans = _spans_df(spark, sf_dir)
    flat = spans.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    # round-trip through a shuffle, then reassemble in span order
    re = (
        flat.repartition(16, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("seq")
        )
    )
    kinds = F.expr("concat_ws(',', transform(seq, s -> s.kind))")
    sig = F.md5(
        F.expr(
            "concat_ws('', transform(seq, s -> concat_ws('', s.kind, "
            "coalesce(s.text, ' '), coalesce(s.media_ref, ' '), CAST(s.offset AS STRING))))"
        ).cast("binary")
    )
    return re.select(
        "doc_id", F.size("seq").alias("n_spans"), kinds.alias("kinds"), sig.alias("span_sig")
    )


def q_geo_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-geo extraction (pure Catalyst) -> scaled-int degrees -> tile."""
    spans = _spans_df(spark, sf_dir)
    geo_text = F.filter("spans", lambda s: s["kind"] == F.lit("geo"))[0]["text"]
    parts = F.split(geo_text, ":")
    lat = parts[0].cast("long") / F.lit(1000.0) - F.lit(85.0)
    lng = parts[1].cast("long") / F.lit(1000.0) - F.lit(180.0)
    df = spans.select("doc_id", lat.alias("lat"), lng.alias("lng"))
    df = tiling.with_leaf_cellid(df)
    return df.select("doc_id", "lat", "lng", tiling.parent_col("cell_id", 8).alias("cell_l8"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode: media spans -> blob bytes -> parsed header features.

    The blob column is a deterministic fixture (structurally real PNG/JPEG
    byte streams — no media ships in the testdata), but the decoder is an
    honest header parser (PNG IHDR fields, JPEG SOF segment walk) that
    computes every feature FROM THE BYTES and works on real files (see
    engine/multimodal.py + tests/test_multimodal.py).
    """
    from .multimodal import decode_media_features

    spans = _spans_df(spark, sf_dir)
    media = spans.select(
        "doc_id", F.explode("spans").alias("s")
    ).where(F.col("s.kind") == "media").select("doc_id", F.col("s.media_ref").alias("media_ref"))
    return decode_media_features(media)


# ---------------------------------------------------------------------------
# Relational layer (stock Spark; oracle = plain SQL)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary; decimal-exact money sums.

    spread=False: the first operator is the aggregation itself — map-side
    partial combine reduces each scan split to <=6 group rows, so the only
    Exchange in the plan is the agg's own (hash on the group keys)."""
    li = _read(spark, sf_dir, "lineitem", spread=False)
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    # small factors keep the triple product within decimal(38,_) exactly
    disc = F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)")
    tax = F.lit(1).cast("decimal(8,2)") + F.col("l_tax").cast("decimal(8,2)")
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("_sq"),
            F.sum(dec("l_extendedprice")).alias("_sp"),
            F.sum(dec("l_extendedprice") * disc).alias("_sd"),
            F.sum(dec("l_extendedprice") * disc * tax).alias("_sc"),
            F.count("*").alias("cnt"),
        )
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sp").cast("double").alias("sum_base"),
        F.col("_sd").cast("double").alias("sum_disc"),
        F.col("_sc").cast("double").alias("sum_charge"),
        "cnt",
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation with broadcast dims; decimal revenue."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    out = j.groupBy("n_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
        F.count("*").alias("n_orders"),
    )
    return out.select("n_name", F.col("_rev").cast("double").alias("revenue"), "n_orders")


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (window top-k)."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank", "o_totalprice")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour event rollup (batch analog of the streaming window agg)."""
    ev = _read(spark, sf_dir, "events")
    out = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
        )
    )
    return out.select("hour", "event_type", "cnt", F.col("_sv").cast("double").alias("sum_value"))


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup in ONE pass: CUBE(hour, event_type) computes
    the (hour,type), (hour), (type) and grand-total aggregates with a single
    shuffle — map-side partial aggregation expands each row into its grouping
    combinations, so this beats 4 separate jobs at any scale.  grouping_id
    disambiguates NULL-as-total from genuine NULL keys; sums ride
    decimal(18,2) so the result is addition-order independent (exact).
    spread=False: Expand feeds a partial HashAggregate directly above the
    scan, so the cube's own Exchange is the plan's only shuffle."""
    ev = _read(spark, sf_dir, "events", spread=False)
    base = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    out = base.cube("hour", "event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("v").alias("_sv"),
        F.grouping_id().alias("_gid"),
    )
    return out.select(
        "hour",
        "event_type",
        F.col("_gid").cast("bigint").alias("gid"),
        "cnt",
        F.col("_sv").cast("double").alias("sum_value"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle) via window lag + running sum.

    Reads events spread by user_id: the spread partitioning IS the window's
    partitionBy, so the whole query runs on ONE Exchange (the groupBy below
    clusters on a superset of user_id and reuses it too)."""
    ev = _read(spark, sf_dir, "events", spread_key="user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    new_sess = F.when(
        lag_ts.isNull() | (F.unix_timestamp("ts") - F.unix_timestamp(lag_ts) > 1800), 1
    ).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "sess_no", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .select("user_id", "sess_no", "n_events", "first_event", "last_event")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attribute each purchase to the user's most recent click
    at-or-before it (a click at the exact purchase timestamp counts).

    Scale shape: the canonical distributed as-of — interleave both sides in
    ONE shuffle keyed by user, then a running ``last(..., ignorenulls)``
    window carries the click forward.  No range-band join, no per-key
    explosion; wall cost is one sort per key group regardless of how the
    click/purchase timestamps interleave.  (Spark has no built-in as-of
    join; this composition is the standard plan a range join would
    otherwise approximate at O(matches) cost.)  Reads events spread by
    user_id so the spread is that one shuffle — no second Exchange.
    """
    ev = _read(spark, sf_dir, "events", spread_key="user_id")
    pc = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    # Clicks sort before purchases at equal ts (is_p asc) => "at-or-before".
    w = Window.partitionBy("user_id").orderBy("ts", "is_p", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = pc.withColumn(
        "click_id", F.last(F.when(F.col("is_p") == 0, F.col("event_id")), ignorenulls=True).over(w)
    ).withColumn(
        "click_ts", F.last(F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True).over(w)
    )
    return (
        out.where(F.col("is_p") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_id",
            "click_ts",
            # timestampdiff handles TIMESTAMP_NTZ (unix_micros does not)
            F.expr("timestampdiff(MICROSECOND, click_ts, ts)").alias("gap_us"),
        )
    )


# GPT-2-style pretokenizer pieces: contraction suffixes, space-prefixed
# letter runs, digit runs, other-symbol runs.  Leftmost-first alternation
# behaves identically in Java regex (Spark) and RE2 (DuckDB oracle).
# Whitespace is an EXPLICIT class, not \s: Java's \s includes \x0b
# (vertical tab) while RE2's does not, so \s would silently diverge on
# the first corpus containing one.
BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0b\f\r']+"


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish regex pretokenizer.

    Pure Catalyst regexp/char math (whole-stage codegen, no Python); the
    per-doc piece/word ratio is the standard tokens-per-word cost signal a
    curation pipeline thresholds on.  spread=False: pure map — zero
    Exchanges; the scan's splits are the parallelism."""
    docs = _read(spark, sf_dir, "documents", spread=False)
    text = F.col("text")
    n_ws = F.length(text) - F.length(F.regexp_replace(text, " ", "")) + F.lit(1)
    n_bpe = F.regexp_count(text, F.lit(BPE_PAT))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        F.round(n_bpe.cast("double") / n_ws.cast("double"), 6).alias("pieces_per_word"),
    )


def q_doc_keyterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K distinctive terms per document — TF-IDF-shaped keyword
    extraction, the per-doc topical signal a curation pipeline attaches as
    training metadata.

    The score is a pure RATIONAL lift, (tf/n_tokens)/(df/n_docs), emitted
    as the 6-dp scaled integer (2e6*tf*n_docs + n_tokens*df) div
    (2*n_tokens*df) — exact integer half-up division, so no log() (whose
    libm varies by engine) and no engine round() (whose halfway semantics
    diverge on doubles) anywhere.  Ties (common under a small vocabulary)
    break by token ASC, making the rank window a total order.

    Plan shape: explode -> partial-agg tf [Exchange 1 on (doc,tok)],
    PERSISTED (both consumers' subtrees prune different columns, so
    ReuseExchange cannot deduplicate them — without the persist the
    corpus is scanned and exploded once per consumer); df as a
    vocab-sized groupBy joined back onto the cached tf (a window over tok
    would SORT the full tf table; AQE broadcasts the vocab side while it
    is small and falls back to a shuffle join at corpus scale), rank
    window over doc_id; n_docs is a 1-row scalar broadcast over a
    doc_id-pruned scan.  No Python; at 100 TB each Exchange carries only
    (doc,term,count) rows — corpus text is read exactly once."""
    docs = _read(spark, sf_dir, "documents", spread=False)

    def build_tf() -> DataFrame:
        text = F.col("text")
        n_tokens = (
            F.length(text)
            - F.length(F.regexp_replace(text, " ", ""))
            + F.lit(1)
        ).cast("long")
        toks = docs.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.explode(F.split(text, " ")).alias("tok"),
        ).where(F.col("tok") != "")
        return toks.groupBy("doc_id", "n_tokens", "tok").agg(
            F.count(F.lit(1)).alias("tf")
        )

    # persisted: tf feeds both the df vocab aggregate and the lift join;
    # column pruning makes the two subtrees non-canonical, so ReuseExchange
    # cannot deduplicate them and the corpus would be scanned + exploded
    # once per consumer (the doc_bigrams mechanism).  tf is
    # distinct-terms-per-doc-bounded — well below the token stream.
    tf = memo(spark, sf_dir, "keyterms_tf", lambda: build_tf().persist())
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    # no broadcast hint on df_tbl: the vocab scales with the corpus (AQE
    # broadcasts it while it is small, falls back to shuffle join at scale)
    df_tbl = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    d = tf.join(df_tbl, on="tok").crossJoin(F.broadcast(n_docs))
    lift = F.expr(
        "(2000000 * tf * n_docs + n_tokens * df) div (2 * n_tokens * df)"
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("lift_e6").desc(), F.col("tok").asc()
    )
    return (
        d.withColumn("lift_e6", lift)
        .withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= specs.KEYTERMS_K)
        .select("doc_id", "rnk", "tok", "tf", "df", "n_tokens", "lift_e6")
    )


def q_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation extraction: top-K consecutive word pairs
    by PMI-shaped lift — the phrase-mining step (think "new york",
    "machine learning") a training-data pipeline runs before tokenizer
    retraining or stop-phrase screens.

    Like doc_keyterms the score is a pure RATIONAL, (c_xy/N)/(c_x/N *
    c_y/N) = c_xy*N/(c_x*c_y), emitted as an exact integer half-up 6-dp
    division — no log() (libm varies by engine), no engine round()
    (halfway semantics diverge on doubles).  Hapax pairs are screened by
    BIGRAM_MIN_COUNT; output is the global top-BIGRAM_K by (lift, w1, w2)
    — a total order, so LIMIT is deterministic.

    Plan shape: ONE corpus scan feeds ONE combined explode (each doc
    emits its unigrams as (w, NULL) and its bigrams as (w1, w2)) into ONE
    (w1, w2) partial-agg Exchange, materialized as a PERSISTED count
    table.  The persist is load-bearing, not a warm-bench convenience:
    the three consumers filter on the grouping key (w2 IS [NOT] NULL), so
    Catalyst pushes a DIFFERENT predicate below each branch's aggregate,
    the canonical subtrees stop being equal, and ReuseExchange no longer
    deduplicates them — without the persist the corpus would be scanned
    and exploded once PER CONSUMER (measured: 4 FileScans).  The persisted
    table is term-pair-bounded (vocab + distinct bigrams — far below
    corpus scale), the price of ONE corpus scan total.  The lift join
    touches vocab-bounded tables (AQE broadcasts while small); the global
    top-K is TakeOrderedAndProject — each task keeps K rows, one tiny
    collect, so nothing driver-side scales with the corpus."""

    def build() -> DataFrame:
        docs = _read(spark, sf_dir, "documents", spread=False)
        toks = docs.select(
            F.expr("filter(split(text, ' '), x -> x != '')").alias("a")
        )
        # unigram rows are struct(w, NULL); bigram rows struct(w1, w2) —
        # one explode, one groupBy exchange for every count this query
        # needs.  (slice start beyond the array and length 0 both yield
        # [], so 0- and 1-token docs contribute no bigrams; greatest()
        # guards the 0 case.)
        combined = (
            "concat("
            "transform(a, x -> struct(x AS w1, CAST(NULL AS STRING) AS w2)), "
            "zip_with(slice(a, 1, greatest(size(a)-1, 0)), "
            "slice(a, 2, greatest(size(a)-1, 0)), "
            "(x, y) -> struct(x AS w1, y AS w2)))"
        )
        return (
            toks.select(F.explode(F.expr(combined)).alias("p"))
            .select("p.w1", "p.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    cnt = memo(spark, sf_dir, "bigram_counts", lambda: build().persist())
    uni = cnt.where(F.col("w2").isNull()).select(
        F.col("w1").alias("w"), F.col("c").alias("cu")
    )
    n_tok = uni.agg(F.sum("cu").alias("n_tok"))
    big = cnt.where(F.col("w2").isNotNull()).where(
        F.col("c") >= specs.BIGRAM_MIN_COUNT
    )
    d = (
        big.join(
            uni.select(F.col("w").alias("w1"), F.col("cu").alias("c_x")),
            on="w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("c_y")),
            on="w2",
        )
        .crossJoin(F.broadcast(n_tok))
    )
    lift = F.expr("(2000000 * c * n_tok + c_x * c_y) div (2 * c_x * c_y)")
    d = d.withColumn("lift_e6", lift)
    top = d.orderBy(
        F.col("lift_e6").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(specs.BIGRAM_K)
    w = Window.orderBy(F.col("lift_e6").desc(), F.col("w1").asc(), F.col("w2").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "rnk",
        "w1",
        "w2",
        F.col("c").alias("c_xy"),
        "c_x",
        "c_y",
        "n_tok",
        "lift_e6",
    )


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based document sampling (30% rate).

    Training-data pipelines need samples that are reproducible across
    retries, speculative re-execution, and engines — so the predicate is a
    char-fold hash of doc_id, not rand().  Scale shape: a pure pushed-down
    filter — no shuffle, no RNG state, trivially parallel, and the same
    rows survive on any cluster size or retry.  spread=False: the plan is
    scan -> filter -> project with zero Exchanges."""
    docs = _read(spark, sf_dir, "documents", spread=False)
    h = F.expr(
        "aggregate(filter(split(CAST(doc_id AS STRING), ''), c -> c <> ''), "
        f"CAST(0 AS BIGINT), {_TOKEN_HASH})"
    )
    return (
        docs.withColumn("bucket", (h % 10).cast("int"))
        .where(F.col("bucket") < 3)
        .select("doc_id", "source", "bucket")
    )


def _polyline_segs_broadcast(spark: SparkSession):
    """The shared polyline's segment endpoints ``[(a, b)]`` as xyz arrays,
    broadcast once per session."""
    return session_broadcast(
        spark,
        "polyline_segs",
        lambda: [(np.asarray(a), np.asarray(b)) for a, b in specs.polyline_segments_xyz()],
    )


def q_segment_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min distance from each event to a polyline (edgeutil kernel in-engine).

    The pandas UDF runs the vectorized chord2_point_to_edge kernel
    (edgeutil.rs:177-332 semantics) over broadcast segments; the oracle
    replicates the same interior/vertex chord formula in SQL.
    """
    from pyspark.sql.functions import pandas_udf

    from ..kernel import edgeutil as eu

    bc = _polyline_segs_broadcast(spark)

    @pandas_udf("double")
    def _dist(lat: pd.Series, lng: pd.Series) -> pd.Series:
        xs = np.stack(latlng_to_xyz(lat, lng), axis=1)
        best = None
        for a, b in bc.value:
            d = eu.chord2_point_to_edge(xs, a, b)
            best = d if best is None else np.minimum(best, d)
        ang = np.degrees(2.0 * np.arcsin(0.5 * np.sqrt(np.minimum(best, 4.0))))
        return pd.Series(ang)

    docs = events_geo(spark, sf_dir)
    out = docs.withColumn("dist_deg", _dist(F.col("lat"), F.col("lng")))
    return out.select("event_id", F.round("dist_deg", 6).alias("dist_deg_r"))


def q_snap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-segment snap / map-matching (ClosestEdgeQuery analog,
    closest_edge_query semantics over the shared polyline).

    Same vectorized chord2_point_to_edge kernel as q_segment_distance
    (edgeutil.rs:177-332), but tracking WHICH segment attains the minimum:
    np.argmin's first-minimum tie-break is mirrored by the oracle's ordered
    CASE over the same least() chain, so the assignment is deterministic in
    both engines.  Plan shape: pure map over the tiled table (broadcast
    segments, one Arrow stage, zero shuffles) — the 100 TB snap is
    embarrassingly parallel."""
    from pyspark.sql.functions import pandas_udf

    from ..kernel import edgeutil as eu

    bc = _polyline_segs_broadcast(spark)

    @pandas_udf("struct<seg: long, dist: double>")
    def _snap(lat: pd.Series, lng: pd.Series) -> pd.DataFrame:
        xs = np.stack(latlng_to_xyz(lat, lng), axis=1)
        ds = np.stack([eu.chord2_point_to_edge(xs, a, b) for a, b in bc.value], axis=0)
        seg = np.argmin(ds, axis=0)
        best = ds[seg, np.arange(ds.shape[1])]
        ang = np.degrees(2.0 * np.arcsin(0.5 * np.sqrt(np.minimum(best, 4.0))))
        return pd.DataFrame({"seg": seg.astype(np.int64), "dist": ang})

    docs = events_geo(spark, sf_dir)
    out = docs.withColumn("sn", _snap(F.col("lat"), F.col("lng")))
    return out.select(
        "event_id",
        F.col("sn.seg").alias("seg"),
        F.round(F.col("sn.dist"), 6).alias("dist_deg_r"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate cosine search (the 100 TB scale path).

    Deterministic "training": centroids are the first 16 vectors.  Every
    vector is assigned to its nearest centroid by a vectorized numpy pUDF
    (one matmul per Arrow batch); queries probe the nprobe=4 nearest
    centroid buckets, so the candidate set shrinks ~4x here (and ~n_lists/
    nprobe-fold at scale).  Approximate by design -> rows-only check; the
    exact counterpart is ann_cosine.
    """
    from pyspark.sql.functions import pandas_udf

    emb = _read(spark, sf_dir, "embeddings")

    def _cents():
        cent_rows = (
            emb.where(F.col("vec_id") < 16)
            .orderBy("vec_id")
            .select("embedding")
            .collect()
        )
        cents = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        return cents

    # tag carries sf_dir: the payload is data-derived, one memo per dataset
    bc = session_broadcast(spark, ("ivf_centroids", sf_dir), _cents)

    @pandas_udf("int")
    def _bucket(e: pd.Series) -> pd.Series:
        m = np.array(e.tolist(), dtype=np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        return pd.Series(np.argmax(m @ bc.value.T, axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def _probes(e: pd.Series) -> pd.Series:
        m = np.array(e.tolist(), dtype=np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        sims = m @ bc.value.T
        top = np.argsort(-sims, axis=1)[:, :4].astype(np.int32)
        return pd.Series(list(top))

    cand = emb.select("vec_id", F.col("embedding").alias("ce"), _bucket("embedding").alias("bucket"))
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.explode(_probes("embedding")).alias("bucket"),
    )
    j = cand.join(F.broadcast(q), on="bucket").where(F.col("vec_id") != F.col("query_id"))
    return _cosine_topk(j)


# Target rows per IVF bucket: sized so a bucket-pair's dense sim block
# (~B^2 float64) fits comfortably in one applyInPandas task (4096^2 * 8B
# = 128 MB).  K grows with the corpus so blocks stay task-sized.
EMBED_ROWS_PER_BLOCK = 4096


def _embed_k(n: int, k: int | None) -> int:
    """K = f(corpus size, rows-per-block target).  Floor of 16 keeps the
    bucketed plan shape at toy scale; ceiling of 4096 bounds the driver-side
    O(K^2) admissible-pair enumeration (16 M pairs) — past that the pair
    enumeration itself should become a distributed job."""
    if k is not None:
        return min(k, n)
    return max(16, min(4096, -(-n // EMBED_ROWS_PER_BLOCK), n))


def _embed_setup(spark: SparkSession, sf_dir: str, tau: float, k: int | None = None):
    """IVF training for embed_dedup: centroids (first K vectors), per-vector
    home buckets, per-bucket radii, and the triangle-inequality-admissible
    bucket-pair table.  Deterministic per (session, dataset), so memoized
    exactly like the tiled-events table — repeated invocations skip the two
    training jobs (centroid collect + radii pass).  Reclaimed by
    clear_geo_cache.

    The admissibility argument is K-independent: for ANY bucket assignment,
    vectors u (home i, |u - c_i| <= R_i) and v (home j) with cos(u,v) >= tau
    satisfy d(c_i, c_j) <= |c_i - u| + |u - v| + |v - c_j| <= R_i + D + R_j,
    so pair (i, j) is admissible whenever it can hold a qualifying pair —
    the output is exactly the cos >= tau set at every K (proven by
    tests/test_embed_dedup_k.py running K=16 and K=64 on the same corpus).
    """
    return memo(
        spark, sf_dir, ("embed_setup", tau, k), lambda: _embed_train(spark, sf_dir, tau, k)
    )


def _embed_train(spark: SparkSession, sf_dir: str, tau: float, k: int | None):
    import math

    emb = _read(spark, sf_dir, "embeddings")
    K = _embed_k(emb.count(), k)
    cent_rows = (
        emb.where(F.col("vec_id") < K).orderBy("vec_id").select("embedding").collect()
    )
    cents = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
    # a corpus smaller than the K floor yields fewer centroids than
    # requested; every downstream shape (radii, cd, adm) follows the
    # EFFECTIVE count
    K = cents.shape[0]
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)
    bc = spark.sparkContext.broadcast(cents)
    # slack covers float rounding in assignment/radius math (exact-math bound
    # plus epsilon, never less)
    big_d = math.sqrt(max(2.0 - 2.0 * tau, 0.0)) + 1e-9

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<bucket:int,hd:double>")
    def _home(e: pd.Series) -> pd.DataFrame:
        m = np.array(e.tolist(), dtype=np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        sims = mn @ bc.value.T
        b = np.argmax(sims, axis=1)
        hd = np.sqrt(np.maximum(2.0 - 2.0 * sims[np.arange(len(m)), b], 0.0))
        return pd.DataFrame({"bucket": b.astype(np.int32), "hd": hd})

    homes = (
        emb.select("vec_id", "embedding", _home("embedding").alias("h"))
        .select("vec_id", "embedding", F.col("h.bucket").alias("bucket"), F.col("h.hd").alias("hd"))
        .persist()
    )
    # per-bucket radii: K rows to the driver (like centroid training)
    radii = {int(r["bucket"]): float(r["mr"]) for r in homes.groupBy("bucket").agg(F.max("hd").alias("mr")).collect()}
    cd = np.sqrt(np.maximum(2.0 - 2.0 * (cents @ cents.T), 0.0))
    # vectorized admissibility: occupied upper-triangle pairs with
    # d(c_i, c_j) <= R_i + R_j + D (empty buckets get R = -inf -> never)
    R = np.full(K, -np.inf)
    for b, r in radii.items():
        R[b] = r
    adm = (cd <= R[:, None] + R[None, :] + big_d) & np.triu(np.ones((K, K), dtype=bool))
    ii, jj = np.nonzero(adm)
    pair_rows = []
    for pid, (i, j) in enumerate(zip(ii.tolist(), jj.tolist())):
        pair_rows.append((i, pid, i, j))
        if j != i:
            pair_rows.append((j, pid, i, j))
    pairs_long = spark.createDataFrame(
        pair_rows, "bucket int, pair_id int, ba int, bb int"
    )
    return homes, pairs_long, bc


def _block_sim_matrix(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """Block cosine-similarity matrix by dimension-order accumulation:
    entry-wise bit-identical to the oracle's sequential fold (a BLAS
    matmul would sum in another order, and the gate hashes exact doubles)."""
    acc = np.zeros((len(ma), len(mb)))
    na = np.zeros(len(ma))
    nb = np.zeros(len(mb))
    for d in range(ma.shape[1]):
        acc += np.outer(ma[:, d], mb[:, d])
        na += ma[:, d] * ma[:, d]
        nb += mb[:, d] * mb[:, d]
    return acc / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])


def q_embed_dedup(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT block-pair join.

    Scale design (no crossJoin, no per-pair Python):
      1. every vector is assigned to its nearest of K centroids (one numpy
         matmul per Arrow batch — the IVF "home bucket");
      2. bucket-pair enumeration is pruned by the centroid triangle
         inequality: pair (i, j) can hold a qualifying vector pair only if
         d(c_i, c_j) <= R_i + R_j + D with D = sqrt(2 - 2*tau), so the
         candidate set PROVABLY contains every pair with cos >= tau — the
         result is exact and the brute-force DuckDB oracle is unchanged;
      3. each admissible bucket pair becomes one applyInPandas group that
         accumulates the block-sim matrix dimension-by-dimension in index
         order — bit-identical to the oracle's sequential fold, but dense
         numpy instead of O(n^2) rows through a UDF.
    On clustered data (real near-dup corpora: tau ~0.9) step 2 prunes most
    bucket pairs; on uniform data it degrades to all K(K+1)/2 pairs but the
    work is still balanced dense matmuls.  At 100 TB: K ~ n / rows-per-task
    so each block fits an executor; shuffle volume is O(n * avg bucket
    degree), never O(n^2).
    """
    tau = float(specs.EMBED_DEDUP_TAU)
    homes, pairs_long, _ = _embed_setup(spark, sf_dir, tau, k)
    rep = homes.join(F.broadcast(pairs_long), on="bucket")

    def _block_sims(key, pdf):
        ba, bb = int(pdf["ba"].iloc[0]), int(pdf["bb"].iloc[0])
        ids_a = pdf.loc[pdf["bucket"] == ba, "vec_id"].to_numpy()
        ma = np.array(pdf.loc[pdf["bucket"] == ba, "embedding"].tolist(), dtype=np.float64)
        if ba == bb:
            ids_b, mb = ids_a, ma
        else:
            ids_b = pdf.loc[pdf["bucket"] == bb, "vec_id"].to_numpy()
            mb = np.array(pdf.loc[pdf["bucket"] == bb, "embedding"].tolist(), dtype=np.float64)
        if len(ma) == 0 or len(mb) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        sim = _block_sim_matrix(ma, mb)
        ia, ib = np.nonzero(sim >= tau)
        id_a, id_b = ids_a[ia], ids_b[ib]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        keep = lo < hi
        if ba == bb:
            keep &= id_a < id_b  # upper triangle only: avoid double emission
        return pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "sim": sim[ia[keep], ib[keep]]}
        )

    out = rep.groupBy("pair_id").applyInPandas(
        _block_sims, schema="id_a long, id_b long, sim double"
    )
    return out.select("id_a", "id_b", F.round("sim", 6).alias("sim_r"))


def q_cap_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside >=1 cap — left-semi join against the spatial match set."""
    docs = events_geo(spark, sf_dir)
    regions, coverings, levels = _cap_setup(spark)
    hits = cap_join(docs, regions, coverings, id_col="event_id", levels=levels)
    return docs.join(hits.select("event_id"), on="event_id", how="left_semi").select(
        "event_id"
    )


def q_cap_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside no cap — left-anti join (negative-space filter)."""
    docs = events_geo(spark, sf_dir)
    regions, coverings, levels = _cap_setup(spark)
    hits = cap_join(docs, regions, coverings, id_col="event_id", levels=levels)
    return docs.join(hits.select("event_id"), on="event_id", how="left_anti").select(
        "event_id"
    )


def q_knn_cellring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed kNN: cap-covering candidate pruning + exact refine.

    Must return exactly the brute-force s2_knn rows (same oracle) — the
    covering search is exact, not approximate (see engine/knn.py).

    The search phases run eagerly and persist candidate blocks, so the
    result is memoized per (session, dataset): re-invocations reuse the
    finished search instead of re-running it and stacking persists.
    """
    from .knn import knn_cellring

    def build() -> DataFrame:
        docs = events_geo(spark, sf_dir)
        qs = []
        for qid, lat, lng in specs.KNN_QUERIES:
            la, ln = math.radians(lat), math.radians(lng)
            qs.append((qid, math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)))
        out = knn_cellring(spark, docs, qs, specs.KNN_K, id_col="event_id")
        return out.select("query_id", "event_id", "rank", F.round("d2", 6).alias("d2_r"))

    return memo(spark, sf_dir, "knn_cellring", build)


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance pairwise self-join over the event points: every
    unordered pair closer than DISTANCE_JOIN_RADIUS (~89 km), with its exact
    squared chord distance.  The DBSCAN-epsilon / spatial-dedup primitive —
    candidates from a level-6 Moore-adjacency cell equi-join (grid-bounded
    broadcast neighbor map, ONE shuffle on the cell key), exact chord refine
    in whole-stage codegen; the oracle brute-forces all pairs under a
    lat-band prefilter and must reproduce chord2 bit-exactly
    (join.py distance_self_join; cellid.rs:389-439, cap.rs:212-214).

    Memoized per (session, dataset): building the plan runs one bounded
    distinct-cells job (the Moore map), and the RESULT is persisted —
    four consumers (the epsilon-graph trio, Ripley's K) re-read the pair
    table, and without the persist each re-invocation re-runs the
    cell-keyed shuffle join (pairs scale linearly with the corpus at
    fixed density, so the cache is the same order as the input the join
    already shuffled)."""
    from .join import distance_self_join

    return memo(
        spark,
        sf_dir,
        "distance_join",
        lambda: distance_self_join(
            events_geo(spark, sf_dir), specs.DISTANCE_JOIN_RADIUS, id_col="event_id"
        ).persist(),
    )


def q_spatial_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial clustering: connected components of the within-distance
    epsilon graph (DBSCAN with eps = DISTANCE_JOIN_RADIUS, minPts = 2 — every
    edge endpoint is core).  Each clustered event gets its component's
    minimum event_id as cluster_id, plus the cluster size.  Edges reuse the
    memoized s2_distance_join pairs; components come from
    engine/cluster.py: a partition-local numpy union-find, one aggregation
    per node, and the hash-min + pointer-jumping loop only over the boundary
    edges between partitions (no round at all when the graph fits one
    partition).  The oracle recomputes the fixpoint
    as recursive-CTE reachability (min reachable id per node) — feasible at
    the sf0.01 gate scale where component-size^2 row counts stay small.

    Memoized per (session, dataset): the iterative search runs once; the
    memo holds the checkpointed labels with the result."""
    from .cluster import connected_components

    def build() -> tuple[DataFrame, DataFrame]:
        edges = q_distance_join(spark, sf_dir).select("event_a", "event_b")
        cc = connected_components(edges, src="event_a", dst="event_b")
        # no broadcast hint: cluster count scales with the data (AQE may still
        # choose a broadcast when the aggregate side is small)
        sizes = cc.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
        out = cc.join(sizes, on="cluster").select(
            F.col("node").alias("event_id"),
            F.col("cluster").alias("cluster_id"),
            "cluster_size",
        )
        return out, cc

    return memo(spark, sf_dir, "spatial_cluster", build)[0]


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DBSCAN over the event points (eps = DISTANCE_JOIN_RADIUS,
    minPts = specs.DBSCAN_MINPTS): every event classified core / border /
    noise with a deterministic cluster id.

    Semantics (Ester et al. 1996, with canonical tie-breaks):

    - **core**: |N_eps(p)| >= minPts, counting p itself;
    - **clusters**: connected components of the core-core epsilon edges —
      density-reachability restricted to cores is symmetric, so the
      component structure IS the DBSCAN cluster structure; cluster_id is
      the component's minimum core event_id.  A core whose neighbors are
      all border points is its own singleton cluster;
    - **border**: non-core with >= 1 core neighbor.  The textbook
      algorithm assigns border points in scan order (nondeterministic on a
      cluster); the canonical deterministic choice is the minimum
      cluster_id over the point's core neighbors;
    - **noise**: everything else; cluster_id = -1.

    Plan shape: the memoized distance join supplies the epsilon edges;
    degrees are ONE groupBy keyed by event_id; the core filter and the
    core-core edge restriction are equi-joins on event_id (no broadcast
    hint — the core set scales with the data; AQE broadcasts it while it
    is small); components come from engine/cluster.py (partition-local
    union-find, then the contracting hash-min loop on the boundary graph
    only).  Every join and aggregation is keyed on event_id — no driver
    data motion, nothing keyed by cluster size, so one continent-sized
    cluster costs the same shuffles as a thousand hamlets.

    Memoized per (session, dataset) like the distance join it builds on."""
    return _dbscan(spark, sf_dir)[0]


def _dbscan(spark: SparkSession, sf_dir: str) -> tuple:
    """The memoized DBSCAN labels: (result, wide labels with lat/lng)."""
    return memo(spark, sf_dir, "dbscan", lambda: _dbscan_build(spark, sf_dir))


def _dbscan_build(spark: SparkSession, sf_dir: str) -> tuple:
    from .cluster import connected_components

    # persist the epsilon edges: sym / degrees / core-edge restriction /
    # border assignment all consume them — unpersisted, every one of those
    # materializations would re-run the full distance join
    edges = q_distance_join(spark, sf_dir).select("event_a", "event_b").persist()
    sym = edges.select(
        F.col("event_a").alias("node"), F.col("event_b").alias("nbr")
    ).unionByName(
        edges.select(F.col("event_b").alias("node"), F.col("event_a").alias("nbr"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("nnb"))
    core = (
        deg.where(F.col("nnb") + F.lit(1) >= F.lit(specs.DBSCAN_MINPTS))
        .select("node")
        .persist()
    )
    core_edges = edges.join(
        core.select(F.col("node").alias("event_a")), on="event_a"
    ).join(core.select(F.col("node").alias("event_b")), on="event_b")
    cc = connected_components(core_edges, src="event_a", dst="event_b")
    # singleton cores (no core neighbor) label themselves
    core_lbl = (
        core.join(
            cc.select(F.col("node").alias("cn"), F.col("cluster")),
            core["node"] == F.col("cn"),
            "left",
        )
        .select(
            "node", F.coalesce(F.col("cluster"), F.col("node")).alias("cluster_id")
        )
        .persist()
    )
    border = (
        sym.join(
            core_lbl.select(
                F.col("node").alias("cn"), F.col("cluster_id").alias("ncid")
            ),
            sym["nbr"] == F.col("cn"),
        )
        .join(core.select(F.col("node").alias("xn")), sym["node"] == F.col("xn"), "left_anti")
        .groupBy("node")
        .agg(F.min("ncid").alias("cluster_id"))
    )
    labeled = core_lbl.select(
        "node", F.lit("core").alias("role"), "cluster_id"
    ).unionByName(border.select("node", F.lit("border").alias("role"), "cluster_id"))
    wide = (
        events_geo(spark, sf_dir)
        .select("event_id", "lat", "lng")
        .join(
            labeled.withColumnRenamed("node", "event_id"), on="event_id", how="left"
        )
        .select(
            "event_id",
            F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
            F.coalesce(F.col("cluster_id"), F.lit(-1).cast("long")).alias(
                "cluster_id"
            ),
            "lat",
            "lng",
        )
        # checkpoint the LABELS (wide: with the point coordinates), not
        # just the epsilon-graph intermediates: s2_dbscan re-reads them
        # every warm pass and s2_cluster_stats aggregates over them.
        # localCheckpoint rather than persist because the label plan embeds
        # the full distance-join + component trees: with persist, every
        # downstream ACTION re-analyzes that tree on the driver (measured
        # 1.7-2.0 s per action on a fully cached 100k-row table); the
        # checkpoint cuts the lineage to a LogicalRDD leaf.  Same
        # cluster-deployment note as engine/cluster.py: use a reliable
        # checkpoint dir for fault tolerance.
        .localCheckpoint(eager=True)
    )
    # the eager checkpoint cut the labels' lineage: nothing reads the
    # intermediates any more (dependents first, as in memo.clear)
    release((core_lbl, cc, core, edges))
    return wide.select("event_id", "role", "cluster_id"), wide


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster summaries over the DBSCAN labeling — the curation view a
    training pipeline samples from ("how big is each spatial cluster, where
    is it, which doc represents it").  For every non-noise cluster: member
    count, core count, representative (minimum event_id), and the lat/lng
    bounding box.

    Every aggregate is ORDER-INDEPENDENT-EXACT: counts are integers, the
    representative is an integer min, and the bbox is min/max over the
    derived lat/lng DEGREES (pure LCG +*/ arithmetic — no trig), so both
    engines agree bit-for-bit with no rounding anywhere.

    Plan shape: ONE groupBy on cluster_id over the persisted wide DBSCAN
    label table (which already carries each point's lat/lng — no join at
    all), with map-side partial min/max/count — a continent-sized cluster
    reduces to one row per map task before the exchange, so no cluster is
    a straggler."""
    lab = _dbscan(spark, sf_dir)[1].where(F.col("cluster_id") >= 0)
    return (
        lab.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.when(F.col("role") == "core", 1).otherwise(0))
            .cast("long")
            .alias("n_core"),
            F.min("event_id").alias("rep_id"),
            F.min("lat").alias("lat_lo"),
            F.max("lat").alias("lat_hi"),
            F.min("lng").alias("lng_lo"),
            F.max("lng").alias("lng_hi"),
        )
    )


def _grid_counts(spark: SparkSession, sf_dir: str, lvl: int) -> DataFrame:
    """Occupied level-``lvl`` tiles with event counts and decoded grid
    coordinates (tile, face, ti, tj, n) — the shared, session-persisted
    base table for the grid-space queries (cell disk, compaction).  One
    groupBy over the tiled events + one Arrow decode of the DISTINCT tile
    set (grid-bounded: ≤ 6·4^lvl rows at any corpus size)."""
    sh = 30 - lvl

    def _counts():
        docs = events_geo(spark, sf_dir)
        raw = docs.groupBy(tiling.parent_col("cell_id", lvl).alias("tile")).agg(
            F.count("*").alias("n")
        )

        def decode(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                t = pdf["tile"].to_numpy(np.int64)
                face, i, j, _ = h.cellid_to_face_ij_orientation(t.view(np.uint64))
                yield pd.DataFrame(
                    {
                        "tile": t,
                        "face": face.astype(np.int64),
                        "ti": (i >> sh).astype(np.int64),
                        "tj": (j >> sh).astype(np.int64),
                        "n": pdf["n"].to_numpy(np.int64),
                    }
                )

        return raw.mapInPandas(
            decode, schema="tile long, face long, ti long, tj long, n long"
        )

    return memo(spark, sf_dir, f"grid_counts_l{lvl}", lambda: _counts().persist())


def q_cell_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kRing cell disk (the H3 gridDiskDistances analog on the S2 grid):
    for each face's densest DISK_LEVEL tile, every cell within DISK_K rook
    steps over the cube topology, with its ring distance (min #steps,
    crossing face borders via the FACE_WRAP transforms) and its event count
    (0 for unoccupied ring cells — the disk is a GRID neighborhood, not an
    occupancy query).

    Seeds are deterministic: per face, max count, ties broken by (ti, tj)
    ascending — grid coordinates, so the oracle replays the ordering without
    a Hilbert encode.  BFS runs seed-local inside ONE Arrow stage over
    grid-bounded frames (≤ 6·4^DISK_K rows at ANY corpus size): the
    unbounded events table is touched exactly once, by the counts groupBy
    (cellid.rs:336-347 edge_neighbors supplies the step)."""
    lvl = specs.DISK_LEVEL
    sh = 30 - lvl
    counts = _grid_counts(spark, sf_dir, lvl)

    w = Window.partitionBy("face").orderBy(
        F.col("n").desc(), F.col("ti").asc(), F.col("tj").asc()
    )
    seeds = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(F.col("face").alias("seed_face"), "tile")
    )

    # The whole DISK_K BFS is seed-local (no cross-seed state), so it runs
    # inside ONE Arrow stage — frontier expansion via the vectorized
    # edge_neighbors kernel, ring = first-visit depth (BFS min distance by
    # construction, identical to the min-over-all-paths the previous
    # chained-stage formulation aggregated).  Collapses DISK_K map stages,
    # a union, a min(ring) Exchange, and a decode stage into one
    # grid-bounded stage — the disk is <= 6*4^DISK_K rows at ANY corpus
    # size, so per-seed python iteration costs microseconds.
    def expand_bfs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for sfc, t0 in zip(
                pdf["seed_face"].tolist(), pdf["tile"].tolist()
            ):
                seen = {t0: 0}
                frontier = [t0]
                for r in range(1, specs.DISK_K + 1):
                    arr = np.asarray(frontier, dtype=np.int64)
                    nb = (
                        np.asarray(h.edge_neighbors(arr.view(np.uint64)))
                        .view(np.int64)
                        .reshape(-1)
                    )
                    frontier = []
                    for x in nb.tolist():
                        if x not in seen:
                            seen[x] = r
                            frontier.append(x)
                tiles = np.fromiter(seen.keys(), np.int64, len(seen))
                rings = np.fromiter(seen.values(), np.int64, len(seen))
                face, i, j, _ = h.cellid_to_face_ij_orientation(
                    tiles.view(np.uint64)
                )
                yield pd.DataFrame(
                    {
                        "seed_face": np.full(len(seen), sfc, dtype=np.int64),
                        "face": face.astype(np.int64),
                        "ti": (i >> sh).astype(np.int64),
                        "tj": (j >> sh).astype(np.int64),
                        "ring": rings,
                        "tile": tiles,
                    }
                )

    decoded = seeds.mapInPandas(
        expand_bfs,
        schema="seed_face long, face long, ti long, tj long, ring long, tile long",
    )
    # counts is grid-bounded (<= 6*4^DISK_LEVEL rows at ANY corpus size),
    # so broadcasting it is scale-safe and saves shuffling both sides of
    # the occupancy join
    return decoded.join(
        F.broadcast(counts.select("tile", "n")), on="tile", how="left"
    ).select(
        "seed_face",
        "face",
        "ti",
        "tj",
        "ring",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
    )


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-union compaction (the H3 compactCells analog; semantics of
    CellUnion.normalize, cellunion.rs:82-124, applied to the occupied
    level-COMPACT_LEVEL tile set): the minimal set of cells, of any level
    ≤ COMPACT_LEVEL, covering exactly the occupied tiles — 4 complete
    siblings are replaced by their parent, recursively.

    CLOSED FORM, no iteration: the S2 parent in (face, i, j) space is the
    quadtree parent (ti >> 1, tj >> 1), and an ancestor is "complete" iff
    ALL 4^(L-l) of its level-L descendants are occupied — completeness is
    monotone down the tree, so the compacted set is exactly {complete cells
    whose parent is not complete}.  One explode over the L+1 ancestor
    levels of the grid-bounded counts table, one groupBy, one self-anti-join
    — vs the reference's (and H3's) sequential sort-and-scan, which has no
    distributed analog.

    Output per kept cell: level, face, (ti, tj at that level), n_tiles
    (occupied leaf descendants = 4^(L-level) by construction), n_events."""
    lvl = specs.COMPACT_LEVEL
    counts = _grid_counts(spark, sf_dir, lvl)
    anc = (
        counts.select(
            F.explode(F.expr(f"sequence(0, {lvl})")).alias("level"),
            "face",
            "ti",
            "tj",
            "n",
        )
        .select(
            "level",
            "face",
            F.expr(f"shiftright(ti, {lvl} - level)").alias("ti_l"),
            F.expr(f"shiftright(tj, {lvl} - level)").alias("tj_l"),
            "n",
        )
        .groupBy("level", "face", "ti_l", "tj_l")
        .agg(F.count("*").alias("n_tiles"), F.sum("n").alias("n_events"))
    )
    # keyed like the other persisted intermediates: a re-invocation builds
    # the same plan, so it reuses the one cached relation
    comp = memo(
        spark,
        sf_dir,
        "cell_compact_tiles",
        lambda: anc.where(
            F.expr(f"n_tiles = shiftleft(CAST(1 AS BIGINT), 2 * ({lvl} - level))")
        ).persist(),
    )
    parents = comp.select(
        (F.col("level") + 1).alias("level"),
        F.col("face").alias("pf"),
        F.col("ti_l").alias("pti"),
        F.col("tj_l").alias("ptj"),
    )
    kept = comp.join(
        parents,
        on=[
            comp["level"] == parents["level"],
            comp["face"] == parents["pf"],
            F.expr("shiftright(ti_l, 1)") == parents["pti"],
            F.expr("shiftright(tj_l, 1)") == parents["ptj"],
        ],
        how="left_anti",
    )
    return kept.select(
        F.col("level").cast("long").alias("level"),
        F.col("face").cast("long").alias("face"),
        F.col("ti_l").alias("ti"),
        F.col("tj_l").alias("tj"),
        "n_tiles",
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile rollup — the tile-server / heatmap workload:
    event counts at every PYRAMID_LEVELS zoom level in ONE pass, each tile
    carrying its occupied-leaf count and its share of its pyramid parent
    (the level two above; quadtree zoom steps of 2 in ij space).

    Plan shape: one explode of the grid-bounded leaf counts over the 4
    levels, ONE groupBy — partial aggregation collapses each map task to
    ≤ 6·4^level rows before the exchange — then one self-join on the parent
    key (both sides grid-bounded, AQE broadcasts).  The unbounded events
    table is touched only by the shared counts groupBy.  frac_of_parent is
    a single bigint/bigint IEEE division, identical across engines; level-0
    rows have no parent (null)."""
    lvl = specs.COMPACT_LEVEL
    levels = ", ".join(str(l) for l in specs.PYRAMID_LEVELS)
    base = _grid_counts(spark, sf_dir, lvl)
    pyr = (
        base.select(
            F.explode(F.expr(f"array({levels})")).alias("level"),
            "face",
            "ti",
            "tj",
            "n",
        )
        .select(
            "level",
            "face",
            F.expr(f"shiftright(ti, {lvl} - level)").alias("ti_l"),
            F.expr(f"shiftright(tj, {lvl} - level)").alias("tj_l"),
            "n",
        )
        .groupBy("level", "face", "ti_l", "tj_l")
        .agg(F.sum("n").alias("n_events"), F.count("*").alias("n_tiles"))
    )
    par = pyr.select(
        (F.col("level") + 2).alias("level"),
        F.col("face").alias("pf"),
        F.col("ti_l").alias("pti"),
        F.col("tj_l").alias("ptj"),
        F.col("n_events").alias("parent_n"),
    )
    return pyr.join(
        par,
        on=[
            pyr["level"] == par["level"],
            pyr["face"] == par["pf"],
            F.expr("shiftright(ti_l, 2)") == par["pti"],
            F.expr("shiftright(tj_l, 2)") == par["ptj"],
        ],
        how="left",
    ).select(
        pyr["level"].cast("long").alias("level"),
        F.col("face").cast("long").alias("face"),
        F.col("ti_l").alias("ti"),
        F.col("tj_l").alias("tj"),
        F.col("n_events").cast("long").alias("n_events"),
        "n_tiles",
        (F.col("n_events").cast("double") / F.col("parent_n")).alias(
            "frac_of_parent"
        ),
    )


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup document clustering — the step a real training-data dedup
    pipeline runs AFTER candidate generation: MinHash-LSH pairs at
    est_sim >= DEDUP_SIM_THRESHOLD are dup edges, connected components over
    them are the dup clusters, and every document maps to a canonical id
    (the component minimum; itself when unique).  The downstream keep-filter
    is then just ``doc_id = canonical_id``.

    Plan shape: the pair table is the (already skew-capped) LSH output —
    tiny relative to the corpus; components come from a partition-local
    union-find plus a fixpoint over the boundary edges only
    (engine/cluster.py); the final labeling is ONE left join of the corpus
    against the labels on doc_id.  No stage is keyed by cluster size.

    Memoized per (session, dataset) with the result persisted, like the
    other component queries: the label table is the pipeline's checkpoint
    artifact — the iterative search must run once, not once per consumer."""
    return memo(spark, sf_dir, "dedup_cluster", lambda: _dedup_build(spark, sf_dir))[0]


def _dedup_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from .cluster import connected_components

    pairs = q_minhash_lsh(spark, sf_dir).where(
        F.col("est_sim") >= F.lit(specs.DEDUP_SIM_THRESHOLD)
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("cluster").agg(F.count("*").alias("csz"))
    lbl = cc.join(sizes, on="cluster")
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    out = (
        docs.join(
            lbl.select(
                F.col("node").alias("doc_id"),
                F.col("cluster").alias("c"),
                "csz",
            ),
            on="doc_id",
            how="left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("c"), F.col("doc_id")).alias("canonical_id"),
            F.coalesce(F.col("csz"), F.lit(1).cast("long")).alias("cluster_size"),
            (F.coalesce(F.col("c"), F.col("doc_id")) == F.col("doc_id")).alias(
                "is_canonical"
            ),
        )
        .persist()
    )
    return out, cc


def q_cap_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline in one oracled query: spatial join -> level-8 tile ->
    per-(region, tile) counts. The oracle recomputes the tile through the
    recursive-CTE Hilbert encoder and arithmetic parent truncation."""
    docs = events_geo(spark, sf_dir)
    regions, coverings, levels = _cap_setup(spark)
    hits = cap_join(docs, regions, coverings, id_col="event_id", levels=levels)
    tiled = hits.withColumn("tile", tiling.parent_col("cell_id", 8))
    return tiled.groupBy("region_id", "tile").agg(F.count("*").alias("n_docs"))


def _focal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session persisted (tile, n, focal_n) table at FOCAL_LEVEL —
    the density feature table both q_focal_density and the training-feature
    capstone consume.  GRID-BOUNDED (<= 6*4^L rows at any corpus size), so
    the persist is tiny; the unbounded events table is scanned once per
    session per SF."""

    def build() -> DataFrame:
        lvl = specs.FOCAL_LEVEL
        ev = events_geo(spark, sf_dir)
        counts = ev.groupBy(tiling.parent_col("cell_id", lvl).alias("tile")).agg(
            F.count("*").alias("n")
        )
        return tiling.focal_counts(counts)

    return memo(spark, sf_dir, "focal_table", lambda: build().persist())


def q_focal_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal (edge-neighbor) density on the S2 grid — raster map algebra.

    Level-FOCAL_LEVEL tile counts, smoothed with a rook/von-Neumann focal
    sum over the cube topology: for every occupied tile,
    ``focal_n = n(tile) + sum(n over its 4 FACE_WRAP edge neighbors)`` —
    the density feature a geo training pipeline attaches to documents
    (how busy is this tile AND its surroundings), and the grid analog of a
    3x3 convolution that classical rasters get for free but a sphere only
    gets through the cube-face wrap (cellid.rs:336-347 edge_neighbors).

    Plan shape: counts are ONE groupBy keyed by tile; the contribution
    explode (each tile sends its count to itself + 4 neighbors) is a
    narrow Arrow stage over the GRID-BOUNDED count table (<= 6*4^L rows at
    any input scale), so the focal groupBy and the final equi-join shuffle
    only grid-bounded data — the unbounded events table is touched exactly
    once.  Output keys are grid coordinates (face, ti, tj): the
    engine-independent key the oracle recomputes combinatorially via the
    FACE_WRAP CASE tables (same machinery the vectorize oracles trust)."""
    lvl = specs.FOCAL_LEVEL
    out = _focal_table(spark, sf_dir)
    sh = 30 - lvl

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["tile"].to_numpy(np.int64)
            face, i, j, _ = h.cellid_to_face_ij_orientation(t.view(np.uint64))
            yield pd.DataFrame(
                {
                    "face": face,
                    "ti": i >> sh,
                    "tj": j >> sh,
                    "n": pdf["n"].to_numpy(np.int64),
                    "focal_n": pdf["focal_n"].to_numpy(np.int64),
                }
            )

    # all-bigint schema: the driver's hash compare wants type-identical
    # columns on both engines (tests/test_driver_contract.py)
    return out.mapInPandas(
        decode, schema="face long, ti long, tj long, n long, focal_n long"
    )


def q_geo_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-balanced sampler: deterministic top-K events per FOCAL_LEVEL
    tile — the training-mix cap that stops dense cities from dominating a
    geo corpus (the consumer of the tile_stats/geo_density views).

    Order within a tile is a SEEDED HASH (the shared LCG, replayable in
    any engine), tie-broken by event_id, so the sample is reproducible and
    engine-independent — never a physical-order LIMIT.  Plan shape: ONE
    shuffle keyed by tile; Spark >= 3.5 rewrites the row_number filter
    into WindowGroupLimit, so each map task keeps only its local top-K
    before the exchange — at 100 TB the shuffle moves O(K * tiles), not
    the corpus."""
    lvl = specs.FOCAL_LEVEL
    docs = events_geo(spark, sf_dir)
    tiled = docs.select(
        "event_id", tiling.parent_col("cell_id", lvl).alias("tile")
    )
    ordkey = (
        F.col("event_id") * F.lit(specs.LCG_A) + F.lit(specs.LCG_C)
    ) % F.lit(specs.LCG_M)
    w = Window.partitionBy("tile").orderBy(ordkey.asc(), F.col("event_id").asc())
    return (
        tiled.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= specs.GEO_SAMPLE_K)
        .select("event_id", "tile", "rk")
    )


def q_trajectory_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory steps: for each user's events in (ts, event_id)
    order, the squared chord distance from the previous event — the
    movement primitive under speed filters, anomalous-jump detection, and
    travel-distance rollups (trajectory analog of sessionize).

    Emits one row PER STEP (never a per-user float SUM — an unordered
    float aggregation would be nondeterministic across engines; a
    downstream rollup can sum the rounded steps deterministically if it
    sorts first).  chord2 mirrors the oracle's operation order term for
    term; rounded to 7 dp because JVM and DuckDB libm trig differ by 1-4
    ulp (the distance-join rationale).  Plan shape: ONE shuffle keyed by
    user_id (the sessionize Exchange), lag + chord math in whole-stage
    codegen."""
    docs = events_geo(spark, sf_dir).select("event_id", "lat", "lng")
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "ts"
    )
    la, ln = F.radians("lat"), F.radians("lng")
    g = ev.join(docs, on="event_id").select(
        "user_id",
        "event_id",
        "ts",
        (F.cos(la) * F.cos(ln)).alias("x"),
        (F.cos(la) * F.sin(ln)).alias("y"),
        F.sin(la).alias("z"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    g = g.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        F.lag("z").over(w).alias("pz"),
        "x",
        "y",
        "z",
    )
    chord2 = (
        (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
        + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
        + (F.col("z") - F.col("pz")) * (F.col("z") - F.col("pz"))
    )
    return g.where(F.col("prev_event").isNotNull()).select(
        "user_id",
        "event_id",
        "prev_event",
        F.round(chord2, 7).alias("chord2_r"),
    )


def q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory rollup: event/step counts, total + max step
    length, lat/lng bounding box, net displacement, and straightness ratio
    — the per-entity movement summary a geo training pipeline joins onto
    users (travel-distance features, stationary-user filters, GPS-jitter
    detection via straightness).

    Exactness design: per-step chord lengths are rounded to a scaled
    BIGINT (round(chord*1e7)) BEFORE aggregation, so the per-user total is
    an order-independent integer sum — exact across engines regardless of
    reduction order (the s2_vectorize integer-checksum rationale; a float
    SUM over shuffled partitions would be nondeterministic).  bbox min/max
    are order-independent-exact doubles.  Straightness divides the two
    exact integers in IEEE doubles.

    Plan shape: ONE Exchange keyed by user_id — the window sort and the
    groupBy reuse the same partitioning (Catalyst elides the second
    shuffle); first/last points come from row_number flags folded into the
    same aggregate, not extra joins.  At 100 TB: shuffle volume is one row
    per event, state per key is O(1)."""
    docs = events_geo(spark, sf_dir).select("event_id", "lat", "lng")
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "ts"
    )
    la, ln = F.radians("lat"), F.radians("lng")
    g = ev.join(docs, on="event_id").select(
        "user_id",
        "event_id",
        "ts",
        "lat",
        "lng",
        (F.cos(la) * F.cos(ln)).alias("x"),
        (F.cos(la) * F.sin(ln)).alias("y"),
        F.sin(la).alias("z"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    g = g.select(
        "user_id",
        "lat",
        "lng",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(w2).alias("rn2"),
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        F.lag("z").over(w).alias("pz"),
        "x",
        "y",
        "z",
    )
    dx = F.col("x") - F.col("px")
    dy = F.col("y") - F.col("py")
    dz = F.col("z") - F.col("pz")
    chord = F.sqrt(dx * dx + dy * dy + dz * dz)
    step_q = F.when(
        F.col("px").isNotNull(),
        F.round(chord * F.lit(1e7), 0).cast("long"),
    )
    g = g.withColumn("step_q", step_q)

    def _at(flag: str, col: str):
        return F.max(F.when(F.col(flag) == 1, F.col(col)))

    a = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("step_q").alias("n_steps"),
        F.coalesce(F.sum("step_q"), F.lit(0)).cast("long").alias("total_chord_e7"),
        F.max("step_q").alias("max_step_e7"),
        F.min("lat").alias("lat_min"),
        F.max("lat").alias("lat_max"),
        F.min("lng").alias("lng_min"),
        F.max("lng").alias("lng_max"),
        _at("rn", "x").alias("fx"),
        _at("rn", "y").alias("fy"),
        _at("rn", "z").alias("fz"),
        _at("rn2", "x").alias("lx"),
        _at("rn2", "y").alias("ly"),
        _at("rn2", "z").alias("lz"),
    )
    ddx = F.col("lx") - F.col("fx")
    ddy = F.col("ly") - F.col("fy")
    ddz = F.col("lz") - F.col("fz")
    disp_q = F.round(F.sqrt(ddx * ddx + ddy * ddy + ddz * ddz) * F.lit(1e7), 0).cast(
        "long"
    )
    a = a.withColumn("disp_e7", disp_q)
    straight = F.when(
        F.col("total_chord_e7") > 0,
        F.round(
            F.col("disp_e7").cast("double") / F.col("total_chord_e7").cast("double"),
            6,
        ),
    )
    return a.select(
        "user_id",
        "n_events",
        "n_steps",
        "total_chord_e7",
        "max_step_e7",
        "lat_min",
        "lat_max",
        "lng_min",
        "lng_max",
        "disp_e7",
        straight.alias("straightness_r"),
    )


def q_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step great-circle initial bearing + turn angle + turn class —
    the heading features under route clustering, mode-of-travel detection,
    and GPS-spoof filtering (a trajectory whose turns are all 0° or 180°
    is a straight-line interpolation, not a device).

    bearing = atan2(sin Δλ·cos φ₂, cos φ₁·sin φ₂ − sin φ₁·cos φ₂·cos Δλ)
    in degrees, normalized to [0, 360); turn = signed delta vs the
    previous step's bearing normalized to (−180, 180].  Both engines run
    the identical IEEE op order; trig results are rounded to 6 dp (the
    trajectory_step rationale — JVM/DuckDB libm differ by ulps), and the
    turn is computed FROM THE ROUNDED bearings so the subtraction and
    fmod are deterministic across engines.

    Plan shape: ONE Exchange keyed by user_id; the two stacked Window
    operators share the partitioning and sort, so the second lag (over
    bearings) adds no shuffle and no re-sort."""
    docs = events_geo(spark, sf_dir).select("event_id", "lat", "lng")
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "ts"
    )
    g = ev.join(docs, on="event_id").select(
        "user_id",
        "event_id",
        "ts",
        F.radians("lat").alias("p2"),
        F.radians("lng").alias("l2"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    g = g.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lag("p2").over(w).alias("p1"),
        F.lag("l2").over(w).alias("l1"),
        "p2",
        "l2",
    )
    dl = F.col("l2") - F.col("l1")
    ycomp = F.sin(dl) * F.cos("p2")
    xcomp = F.cos("p1") * F.sin("p2") - F.sin("p1") * F.cos("p2") * F.cos(dl)
    bearing = F.round(
        (F.degrees(F.atan2(ycomp, xcomp)) + F.lit(360.0)) % F.lit(360.0), 6
    )
    steps = g.where(F.col("prev_event").isNotNull()).select(
        "user_id", "event_id", "ts", "prev_event", bearing.alias("bearing_r")
    )
    pb = F.lag("bearing_r").over(w)
    turn = (
        (F.col("bearing_r") - F.col("pb") + F.lit(540.0)) % F.lit(360.0)
    ) - F.lit(180.0)
    out = steps.withColumn("pb", pb).select(
        "user_id",
        "event_id",
        "prev_event",
        "bearing_r",
        F.when(F.col("pb").isNotNull(), F.round(turn, 6)).alias("turn_r"),
    )
    turn_class = (
        F.when(F.col("turn_r").isNull(), F.lit("first"))
        .when(F.col("turn_r") > 15.0, F.lit("right"))
        .when(F.col("turn_r") < -15.0, F.lit("left"))
        .otherwise(F.lit("straight"))
    )
    return out.select(
        "user_id",
        "event_id",
        "prev_event",
        "bearing_r",
        "turn_r",
        turn_class.alias("turn_class"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality scoring + keep/drop decision — the
    curation filter a training pipeline runs before dedup: length band,
    stopword density, repetition (distinct-token ratio), and vowel ratio,
    folded into a 0..1 score with an explicit keep flag.

    Every signal is exact integer char math (translate/replace counting,
    array_distinct token sets) and every flag compares an exact
    int/int IEEE division — no trig, no rounding dependence, so the
    oracle match is bit-exact.  Ratios are ALSO emitted rounded (6 dp)
    for human consumption, but flags derive from the unrounded values.

    Scale shape: a pure map over the scan (zero Exchanges, spread=False);
    the filter composes with sample_hash / dedup_exact downstream.  All
    expressions are whole-stage codegen (no Python)."""
    docs = _read(spark, sf_dir, "documents", spread=False)
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = n_chars - F.length(F.regexp_replace(text, " ", "")) + F.lit(1)
    n_distinct = F.size(F.array_distinct(F.split(text, " ")))
    n_vowels = n_chars - F.length(F.translate(text, specs.VOWELS, ""))
    stop_hits = F.expr(
        " + ".join(_lang_count_expr(m) for m in specs.QUALITY_STOPWORDS)
    ).cast("long")
    d = docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        stop_hits.alias("stop_hits"),
        (n_distinct.cast("double") / n_tokens.cast("double")).alias("dr"),
        (n_vowels.cast("double") / n_chars.cast("double")).alias("vr"),
    )
    f_len = (F.col("n_tokens") >= specs.QUALITY_LEN_MIN) & (
        F.col("n_tokens") <= specs.QUALITY_LEN_MAX
    )
    f_stop = F.col("stop_hits") >= specs.QUALITY_STOP_MIN
    f_rep = F.col("dr") >= specs.QUALITY_DISTINCT_MIN
    f_vowel = (F.col("vr") >= specs.QUALITY_VOWEL_MIN) & (
        F.col("vr") <= specs.QUALITY_VOWEL_MAX
    )
    score = (
        f_len.cast("int") + f_stop.cast("int") + f_rep.cast("int") + f_vowel.cast("int")
    ).cast("double") / F.lit(4.0)
    return d.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "stop_hits",
        F.round(F.col("dr"), 6).alias("distinct_ratio_r"),
        F.round(F.col("vr"), 6).alias("vowel_ratio_r"),
        f_len.alias("flag_len"),
        f_stop.alias("flag_stop"),
        f_rep.alias("flag_rep"),
        f_vowel.alias("flag_vowel"),
        score.alias("quality_score"),
        (score >= 0.75).alias("keep"),
    )


def q_geo_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone: one wide per-document feature table joining
    every pipeline stage a geo training corpus needs — span-extracted
    location + S2 tile, the events-derived focal density of that tile (how
    busy is this place), BPE token cost, the Gopher-style quality score,
    and the near-dup canonical flag — ending in ONE train_keep decision
    (quality keep AND dedup canonical).  This is the table a 100 TB run
    materializes as its output.

    Plan shape: the geo span parse, quality signals, and token count are
    all pure maps over documents, FUSED into one projection over a single
    corpus scan (three standalone stages joined on doc_id would read the
    100 TB table three times and shuffle it twice); the only doc-side
    join is against the (memoized) dedup labels; the focal table is
    GRID-BOUNDED (<= 6*4^L rows) and joins as a broadcast; the unbounded
    events table is touched exactly once (inside focal_counts)."""
    lvl = specs.FOCAL_LEVEL
    focal = _focal_table(spark, sf_dir).select("tile", "focal_n")

    # ONE corpus scan: the geo span parse, the quality signals, and the
    # token count are all pure maps over documents — fusing them into a
    # single projection (instead of joining three standalone stages on
    # doc_id) reads the 100 TB table once and joins nothing doc-sided
    # except the (memoized) dedup labels.
    docs = _read(spark, sf_dir, "documents", spread=False)
    synth = _SPAN_SYNTH.format(A=specs.LCG_A, C=specs.LCG_C, M=specs.LCG_M)
    spans_expr = F.when(F.col("doc_id") % 4 == 0, F.expr(synth)).otherwise(
        F.expr(f"slice({synth}, 1, 2)")
    )
    geo_text = F.filter(spans_expr, lambda s: s["kind"] == F.lit("geo"))[0]["text"]
    parts = F.split(geo_text, ":")
    lat = parts[0].cast("long") / F.lit(1000.0) - F.lit(85.0)
    lng = parts[1].cast("long") / F.lit(1000.0) - F.lit(180.0)
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = n_chars - F.length(F.regexp_replace(text, " ", "")) + F.lit(1)
    n_distinct = F.size(F.array_distinct(F.split(text, " ")))
    n_vowels = n_chars - F.length(F.translate(text, specs.VOWELS, ""))
    stop_hits = F.expr(
        " + ".join(_lang_count_expr(m) for m in specs.QUALITY_STOPWORDS)
    ).cast("long")
    dr = n_distinct.cast("double") / n_tokens.cast("double")
    vr = n_vowels.cast("double") / n_chars.cast("double")
    f_len = (n_tokens >= specs.QUALITY_LEN_MIN) & (n_tokens <= specs.QUALITY_LEN_MAX)
    f_stop = stop_hits >= specs.QUALITY_STOP_MIN
    f_rep = dr >= specs.QUALITY_DISTINCT_MIN
    f_vowel = (vr >= specs.QUALITY_VOWEL_MIN) & (vr <= specs.QUALITY_VOWEL_MAX)
    score = (
        f_len.cast("int") + f_stop.cast("int") + f_rep.cast("int") + f_vowel.cast("int")
    ).cast("double") / F.lit(4.0)
    n_bpe = F.regexp_count(text, F.lit(BPE_PAT)).cast("long")
    g = docs.select(
        "doc_id",
        lat.alias("lat"),
        lng.alias("lng"),
        n_bpe.alias("n_bpe_tokens"),
        score.alias("quality_score"),
        (score >= 0.75).alias("keep_quality"),
    )
    g = tiling.with_leaf_cellid(g).withColumn(
        "tile", tiling.parent_col("cell_id", lvl)
    )

    dup = q_dedup_cluster(spark, sf_dir).select(
        "doc_id", "canonical_id", "is_canonical"
    )
    out = g.join(dup, on="doc_id").join(F.broadcast(focal), on="tile", how="left")
    return out.select(
        "doc_id",
        "lat",
        "lng",
        "tile",
        F.coalesce(F.col("focal_n"), F.lit(0).cast("long")).alias("focal_n"),
        "n_bpe_tokens",
        "quality_score",
        "keep_quality",
        "canonical_id",
        "is_canonical",
        (F.col("keep_quality") & F.col("is_canonical")).alias("train_keep"),
    )


def q_colocation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal co-location: every pair of DIFFERENT users whose
    events fall within DISTANCE_JOIN_RADIUS of each other AND within
    COLOC_WINDOW_US (24 h) — the contact-graph / co-visit primitive
    (proximity marketing, epidemiology, fraud rings).

    Composition: the spatial half is the same cell-bucketed
    distance_self_join machinery as s2_distance_join at COLOC_RADIUS (3x
    the DBSCAN epsilon — the LCG ties nearby event ids to nearby
    timestamps, so the 1x graph has no diff-user pair inside any
    reasonable window at small SFs); this query adds the temporal
    predicate and the user identity join.  The time delta is exact int64
    microseconds in every engine, so the filter and the emitted dt_us are
    bit-exact.  Plan shape: ONE shuffle of the corpus on the cell key
    (inside distance_self_join), then two equi-joins of the pair table
    against the events projection on event_id.  Memoized per (session,
    dataset) like the other pair tables."""
    from .join import distance_self_join

    pairs = memo(
        spark,
        sf_dir,
        "coloc_pairs",
        lambda: distance_self_join(
            events_geo(spark, sf_dir), specs.COLOC_RADIUS, id_col="event_id"
        ),
    )
    # timestampdiff handles the parquet TIMESTAMP_NTZ type (unix_micros
    # does not); the delta is an exact int64 either way
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "ts"
    )
    a = ev.select(
        F.col("event_id").alias("event_a"),
        F.col("user_id").alias("user_a"),
        F.col("ts").alias("ts_a"),
    )
    b = ev.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    )
    dt = F.abs(F.expr("timestampdiff(MICROSECOND, ts_b, ts_a)"))
    return (
        pairs.join(a, on="event_a")
        .join(b, on="event_b")
        .where((F.col("user_a") != F.col("user_b")) & (dt <= specs.COLOC_WINDOW_US))
        .select(
            "event_a",
            "event_b",
            "user_a",
            "user_b",
            "chord2_r",
            dt.alias("dt_us"),
        )
    )


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix: consecutive per-user steps rolled up
    to (origin tile, destination tile) at OD_LEVEL, with step and distinct-
    user counts — the aggregate movement table (commute flows, migration,
    tile-to-tile demand) a geo pipeline derives from raw trajectories.

    Plan shape: ONE user_id Exchange for the lag window, then ONE groupBy
    Exchange on the (o_tile, d_tile) key; the flow table is grid-bounded
    (<= 36*16^L rows) regardless of corpus size.  Tile ids are pure bit
    Columns off the memoized tiled-events table."""
    lvl = specs.OD_LEVEL
    docs = events_geo(spark, sf_dir).select(
        "event_id", tiling.parent_col("cell_id", lvl).alias("tile")
    )
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "ts"
    )
    g = ev.join(docs, on="event_id")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    st = g.select(
        "user_id",
        F.col("tile").alias("d_tile"),
        F.lag("tile").over(w).alias("o_tile"),
    )
    return (
        st.where(F.col("o_tile").isNotNull())
        .groupBy("o_tile", "d_tile")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "o_tile",
            "d_tile",
            "n_steps",
            "n_users",
            (F.col("o_tile") != F.col("d_tile")).alias("moved"),
        )
    )


def q_voronoi_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub Voronoi assignment (ClosestPointQuery analog,
    closest_point_query semantics as ONE map expression): every event is
    assigned to the closest of the K deterministic hub points by squared
    chord distance, first-argmin tie-break.

    The per-hub distance fragments and the argmin CASE come from the shared
    specs builders, so Spark whole-stage codegen and DuckDB execute the
    IDENTICAL IEEE op tree — no rounding is needed for the assignment
    itself (chord2_r is rounded only for display).  Plan shape: pure
    JVM-codegen map over the tiled table, zero shuffles, zero Python —
    at 100 TB this is a scan-speed operator."""
    docs = events_geo(spark, sf_dir)
    la, ln = F.radians("lat"), F.radians("lng")
    d = docs.select(
        "event_id",
        (F.cos(la) * F.cos(ln)).alias("x"),
        (F.cos(la) * F.sin(ln)).alias("y"),
        F.sin(la).alias("z"),
    )
    dists = specs.voronoi_dist_sql()
    dcols = [f"d{i}" for i in range(len(dists))]
    d = d.withColumns({c: F.expr(e) for c, e in zip(dcols, dists)})
    best = dcols[0]
    for c in dcols[1:]:
        best = f"least({best}, {c})"
    d = d.withColumn("best", F.expr(best))
    pick = specs.voronoi_pick_sql(dcols)
    return d.select(
        "event_id",
        F.expr(pick).cast("long").alias("hub"),
        F.round(F.col("best"), 7).alias("chord2_r"),
    )


def q_step_midpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory resampling: the normalized midpoint of every consecutive
    step (edgeutil.rs interpolate at t=1/2 — slerp(0.5) == normalize(a+b),
    here as the explicit chord-midpoint normalization) encoded to its
    MID_LEVEL S2 tile — the "where did the movement happen" feature for
    flow rollups that attribute a step to the path rather than to its
    endpoints.

    Everything after the (bit-identical) lat/lng trig is exact IEEE
    +,*,/,sqrt mirrored op-for-op by the oracle, and the encode is the SAME
    pure-Column Hilbert walk the oracle replays recursively (the
    s2_tile_assign contract), so mid_tile is an exact integer in both
    engines.  Exact-antipodal pairs (midpoint norm 0) are excluded by both
    sides' ``nrm > 0`` guard.  Plan shape: ONE user_id Exchange (the
    trajectory window), then pure JVM codegen — no Python anywhere."""
    g = _traj_window(spark, sf_dir)
    m = g.select(
        "user_id",
        "event_id",
        "prev_event",
        (F.col("px") + F.col("x")).alias("mx"),
        (F.col("py") + F.col("y")).alias("my"),
        (F.col("pz") + F.col("z")).alias("mz"),
    )
    mn = m.withColumn(
        "nrm",
        F.sqrt(
            F.col("mx") * F.col("mx")
            + F.col("my") * F.col("my")
            + F.col("mz") * F.col("mz")
        ),
    ).where(F.col("nrm") > 0.0)
    u = mn.withColumns(
        {
            "ux": F.col("mx") / F.col("nrm"),
            "uy": F.col("my") / F.col("nrm"),
            "uz": F.col("mz") / F.col("nrm"),
        }
    )
    enc = tiling.with_leaf_cellid_xyz(u, "ux", "uy", "uz", out="mid_cell")
    return enc.select(
        "user_id",
        "event_id",
        "prev_event",
        tiling.parent_col("mid_cell", specs.MID_LEVEL).alias("mid_tile"),
    )


def q_tile_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal change detection on the tile grid: which CHURN_LEVEL tiles
    are newly occupied, abandoned, or stable between the early and late
    halves of the corpus's time span — the freshness/drift view a training
    pipeline uses to re-weight stale regions.

    The half boundary is the midpoint of [min ts, max ts] in exact integer
    microseconds; the comparison is ``2*offset <= span`` so no division
    rounding exists anywhere.  Plan shape: ONE pass over events (scan ->
    pure-Column encode -> parent tile), a broadcast of the 1-row min/max
    aggregate, and ONE grid-bounded groupBy — the unbounded table is never
    shuffled at full width."""
    lvl = specs.CHURN_LEVEL
    ev = _read(spark, sf_dir, "events", spread=False).select("event_id", "ts")
    lat_sql, lng_sql = specs.latlng_sql("event_id")
    pts = ev.select(
        "event_id",
        "ts",
        F.expr(lat_sql).alias("lat"),
        F.expr(lng_sql).alias("lng"),
    )
    tiled = tiling.with_leaf_cellid(pts).select(
        "ts", tiling.parent_col("cell_id", lvl).alias("tile")
    )
    b = ev.agg(F.min("ts").alias("ts_lo"), F.max("ts").alias("ts_hi"))
    j = tiled.crossJoin(F.broadcast(b))
    off2 = F.expr("timestampdiff(MICROSECOND, ts_lo, ts)") * F.lit(2)
    span = F.expr("timestampdiff(MICROSECOND, ts_lo, ts_hi)")
    h = F.when(off2 <= span, F.lit(0)).otherwise(F.lit(1))
    agg = j.groupBy("tile").agg(
        F.sum(F.when(h == 0, 1).otherwise(0)).cast("long").alias("n_early"),
        F.sum(F.when(h == 1, 1).otherwise(0)).cast("long").alias("n_late"),
    )
    status = (
        F.when(F.col("n_early") == 0, F.lit("new"))
        .when(F.col("n_late") == 0, F.lit("gone"))
        .otherwise(F.lit("stable"))
    )
    return agg.select(
        "tile",
        "n_early",
        "n_late",
        status.alias("status"),
        (F.col("n_late") - F.col("n_early")).cast("long").alias("delta"),
    )


def q_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord-style hotspot classification over the focal-density grid:
    each occupied FOCAL_LEVEL tile's focal count as a z-score against the
    occupied-grid mean, flagged hot above HOTSPOT_Z — the spatial-statistics
    step between raw density and the vectorized hotspot footprint.

    Grid stats come from EXACT integer aggregates (count, sum, sum of
    squares over bigint counts), so the double chain m = s1/n,
    var = s2/n - m*m, z = (x - m)/sqrt(var) is deterministic and mirrored
    op-for-op by the oracle.  Plan shape: everything after the shared
    _focal_table build touches only the grid-bounded table (<= 6*4^L rows
    at ANY corpus size): a 1-row aggregate broadcast back onto it, then a
    pure map."""
    fd = q_focal_density(spark, sf_dir)
    stats = fd.agg(
        F.count("*").alias("cnt"),
        F.sum("focal_n").alias("s1"),
        F.sum(F.col("focal_n") * F.col("focal_n")).alias("s2"),
    )
    j = fd.crossJoin(F.broadcast(stats))
    j = j.withColumn("m", F.col("s1").cast("double") / F.col("cnt").cast("double"))
    j = j.withColumn(
        "var",
        F.col("s2").cast("double") / F.col("cnt").cast("double")
        - F.col("m") * F.col("m"),
    )
    z = F.when(
        F.col("var") > 0.0,
        (F.col("focal_n").cast("double") - F.col("m")) / F.sqrt(F.col("var")),
    ).otherwise(F.lit(0.0))
    j = j.withColumn("z", z)
    return j.select(
        "face",
        "ti",
        "tj",
        "focal_n",
        F.round(F.col("z"), 6).alias("z_r"),
        (F.col("z") >= specs.HOTSPOT_Z).cast("long").alias("hot"),
    )


def q_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global + local Moran's I — spatial autocorrelation of the
    FOCAL_LEVEL tile counts under rook (FACE_WRAP edge-neighbor) binary
    weights restricted to occupied tiles (cellid.rs:336-347 adjacency).
    The inferential step after s2_hotspot: "are the dense tiles CLUSTERED,
    or is the density spatially random?" — the statistic every spatial
    epidemiology / geomarketing pipeline reports alongside its hotspot map.

    Exactness: with N occupied tiles and S total events, the scaled
    deviation D_i = N*x_i - S is an exact bigint (clears the mean S/N with
    no division) and the N^2 scale cancels in the ratio, so
    I = N * sum_i D_i*L_i / (W * sum_i D_i^2) with
    L_i = N*nbr_sum_i - nn_i*S (nbr_sum/nn = occupied-neighbor count-sum /
    arity, W = sum nn).  Every aggregate is integer; only the final ratio
    is a double — emitted as floor(1e6 * ratio) over a chain mirrored
    op-for-op by the oracle: the operands are IDENTICAL bigints on both
    engines, each cast rounds identically (IEEE nearest), each op is
    deterministic, and floor() of the same double agrees ALWAYS — immune
    to the round()-halfway divergence the sf1 gate caught on rational
    ratios (ROUND5.md session 6).

    Plan shape: the unbounded events table is touched only by the shared
    memoized _focal_table build (ONE groupBy); everything after is
    grid-bounded (<= 6*4^L rows at ANY corpus size): a narrow Arrow
    neighbor-contribution stage + tiny groupBy persisted once per session,
    then ONE 1-row aggregate (den/num expanded algebraically over plain
    per-tile sums so no second pass is needed) broadcast back, then a
    pure map.  At 100 TB the added cost over focal_density is
    milliseconds."""
    from ..kernel import hierarchy

    counts = _focal_table(spark, sf_dir).select("tile", "n")

    def contrib(batches):
        # each occupied tile sends (count, 1) to its 4 FACE_WRAP edge
        # neighbors — NOT to itself (w_ii = 0 by definition); adjacency is
        # symmetric, so arrivals at t are exactly t's occupied neighbors
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["tile"].to_numpy(np.int64)
            n = pdf["n"].to_numpy(np.int64)
            nbrs = np.asarray(
                hierarchy.edge_neighbors(t.view(np.uint64))
            ).view(np.int64)
            yield pd.DataFrame(
                {"target": nbrs.reshape(-1), "c": np.repeat(n, 4)}
            )

    def build_tbl() -> DataFrame:
        recv = (
            counts.mapInPandas(contrib, schema="target long, c long")
            .groupBy("target")
            .agg(
                F.sum("c").alias("nbr_sum"),
                F.count(F.lit(1)).alias("nn"),
            )
        )
        return counts.join(
            recv, counts["tile"] == recv["target"], "left"
        ).select(
            "tile",
            "n",
            F.coalesce(F.col("nbr_sum"), F.lit(0).cast("long")).alias("nbr_sum"),
            F.coalesce(F.col("nn"), F.lit(0).cast("long")).alias("nn"),
        )

    # persisted: the 1-row global aggregate below re-evaluates its input
    # lineage to build the broadcast, so without the persist the Arrow
    # contrib stage + groupBy would run once per consumer (grid-bounded
    # table — the persist is tiny at any corpus size)
    tbl = memo(spark, sf_dir, "moran_tbl", lambda: build_tbl().persist())
    # ONE global aggregate: den/num expand algebraically over per-tile
    # sums —
    #   den = sum (N*x - S)^2            = N*(N*sum(x^2) - S^2)
    #   num = sum (N*x - S)*(N*nb - nn*S)
    #       = N^2*sum(x*nb) - N*S*sum(nb) - N*S*sum(nn*x) + S^2*W
    # (exact bigint identities, so the emitted columns equal the oracle's
    # direct windowed sums term for term)
    g = tbl.agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("n").alias("s_tot"),
        F.sum("nn").alias("w_pairs"),
        F.sum(F.col("n") * F.col("n")).alias("sx2"),
        F.sum(F.col("n") * F.col("nbr_sum")).alias("sxnb"),
        F.sum("nbr_sum").alias("snb"),
        F.sum(F.col("nn") * F.col("n")).alias("snnx"),
    )
    g = g.select(
        "n_tiles",
        "s_tot",
        "w_pairs",
        (
            F.col("n_tiles")
            * (F.col("n_tiles") * F.col("sx2") - F.col("s_tot") * F.col("s_tot"))
        ).alias("den"),
        (
            F.col("n_tiles") * F.col("n_tiles") * F.col("sxnb")
            - F.col("n_tiles") * F.col("s_tot") * F.col("snb")
            - F.col("n_tiles") * F.col("s_tot") * F.col("snnx")
            + F.col("s_tot") * F.col("s_tot") * F.col("w_pairs")
        ).alias("num"),
    )
    tbl = tbl.crossJoin(F.broadcast(g))
    d = F.col("n_tiles") * F.col("n") - F.col("s_tot")
    li = F.col("n_tiles") * F.col("nbr_sum") - F.col("nn") * F.col("s_tot")
    tbl = tbl.withColumn("d", d).withColumn("lnum", d * li)
    # mirrored double chain: cast each bigint, multiply/divide in this
    # exact order, floor.  Zero guards: DEN = 0 (all counts equal) and
    # W = 0 (no occupied adjacency) both emit 0.
    nd = F.col("n_tiles").cast("double")
    local = F.when(
        F.col("den") > 0,
        F.floor(
            F.lit(1000000.0)
            * (nd * F.col("lnum").cast("double") / F.col("den").cast("double"))
        ),
    ).otherwise(F.lit(0)).cast("long")
    glob = F.when(
        (F.col("den") > 0) & (F.col("w_pairs") > 0),
        F.floor(
            F.lit(1000000.0)
            * (
                nd
                * F.col("num").cast("double")
                / (F.col("w_pairs").cast("double") * F.col("den").cast("double"))
            )
        ),
    ).otherwise(F.lit(0)).cast("long")
    tbl = tbl.select(
        "tile",
        "n",
        "nn",
        "d",
        "lnum",
        local.alias("local_e6f"),
        "n_tiles",
        "w_pairs",
        "num",
        "den",
        glob.alias("moran_e6f"),
    )
    sh = 30 - specs.FOCAL_LEVEL

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["tile"].to_numpy(np.int64)
            face, i, j, _ = h.cellid_to_face_ij_orientation(t.view(np.uint64))
            out = pd.DataFrame(
                {
                    "face": face.astype(np.int64),
                    "ti": (i >> sh).astype(np.int64),
                    "tj": (j >> sh).astype(np.int64),
                }
            )
            for c in (
                "n",
                "nn",
                "d",
                "lnum",
                "local_e6f",
                "n_tiles",
                "w_pairs",
                "num",
                "den",
                "moran_e6f",
            ):
                out[c] = pdf[c].to_numpy(np.int64)
            yield out

    return tbl.mapInPandas(
        decode,
        schema=(
            "face long, ti long, tj long, n long, nn long, d long, "
            "lnum long, local_e6f long, n_tiles long, w_pairs long, "
            "num long, den long, moran_e6f long"
        ),
    )


def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K point-pattern statistic at RIPLEY_FRACTIONS of the
    epsilon radius — the "is this clustering significant at which scale?"
    summary a spatial pipeline reports next to its DBSCAN output.

    K̂(r) = A * 2*n_pairs(r) / (n*(n-1)) on the unit sphere (A = 4π).
    Pair counts come from the MEMOIZED epsilon-graph pairs
    (s2_distance_join): bucketing compares the emitted 7-dp chord2_r —
    a value the gate already proves bit-identical across engines at every
    SF — against exact double literals, so membership is engine-exact by
    construction (no fresh margin argument needed).  The count columns are
    pure bigints; the K̂ values are floor(1e6 * chain) over a mirrored
    double chain (same floor-not-round rationale as s2_moran).

    Plan shape: the expensive part IS the memoized distance join (one
    cell-keyed shuffle + broadcast Moore map); this query adds one
    grid-trivial conditional aggregate and a 1-row cross join.  Output is
    |RIPLEY_FRACTIONS| rows at any input scale."""
    import math

    pairs = q_distance_join(spark, sf_dir)
    n_pts = events_geo(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_pts"))
    aggs = []
    for k, frac in enumerate(specs.RIPLEY_FRACTIONS):
        chord = 2.0 * math.sin(frac * specs.DISTANCE_JOIN_RADIUS / 2.0)
        r2 = chord * chord
        aggs.append(
            F.sum(
                F.when(F.col("chord2_r") <= F.lit(r2), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias(f"np_{k}")
        )
    row = pairs.agg(*aggs).crossJoin(F.broadcast(n_pts))
    area = 4.0 * math.pi
    # ONE evaluation of the aggregate row, exploded to |fractions| output
    # rows — a union of per-radius selects would re-run the upstream pair
    # aggregation once per branch (measured 3x the warm wall)
    structs = []
    for k, frac in enumerate(specs.RIPLEY_FRACTIONS):
        np_k = F.coalesce(F.col(f"np_{k}"), F.lit(0).cast("long"))
        khat = (
            F.when(
                F.col("n_pts") > 1,
                F.floor(
                    F.lit(1000000.0)
                    * (
                        F.lit(area)
                        * (F.lit(2.0) * np_k.cast("double"))
                        / (
                            F.col("n_pts").cast("double")
                            * (F.col("n_pts").cast("double") - F.lit(1.0))
                        )
                    )
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        structs.append(
            F.struct(
                F.lit(k).cast("long").alias("r_idx"),
                np_k.alias("n_pairs"),
                F.col("n_pts").alias("n_pts"),
                khat.alias("k_e6f"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.r_idx", "s.n_pairs", "s.n_pts", "s.k_e6f"
    )


def q_decay_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay density per FOCAL_LEVEL tile — "how busy is
    this tile NOW", the freshness-weighted twin of s2_focal_density that
    recency-sensitive training mixes and hotspot alerting consume (old
    mass fades with a 2-day half-life instead of counting forever).

    Exactness: exponential decay with ZERO floating point.  Ages are
    exact integer microseconds from the corpus max-ts (the tile_churn
    idiom); the per-event weight is the exact bigint
    2^(BMAX - min(age div HALF_LIFE, BMAX)) via a shift, the decayed mass
    is an integer sum, and decayed = num / 2^BMAX emits through the exact
    half-up integer division.  Engine-independent by construction.

    Plan shape: ONE pass over events (scan -> pure-Column encode ->
    parent tile), a broadcast of the 1-row max-ts aggregate, ONE
    grid-bounded groupBy, then the standard Arrow decode of <= 6*4^L
    rows.  The unbounded table is never shuffled at full width."""
    lvl = specs.FOCAL_LEVEL
    ev = _read(spark, sf_dir, "events", spread=False).select("event_id", "ts")
    lat_sql, lng_sql = specs.latlng_sql("event_id")
    pts = ev.select(
        "event_id",
        "ts",
        F.expr(lat_sql).alias("lat"),
        F.expr(lng_sql).alias("lng"),
    )
    tiled = tiling.with_leaf_cellid(pts).select(
        "ts", tiling.parent_col("cell_id", lvl).alias("tile")
    )
    b = ev.agg(F.max("ts").alias("ts_hi"))
    j = tiled.crossJoin(F.broadcast(b))
    weight = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({specs.DECAY_BMAX} - "
        f"least(timestampdiff(MICROSECOND, ts, ts_hi) div "
        f"{specs.DECAY_HALF_LIFE_US}, {specs.DECAY_BMAX}) AS INT))"
    )
    agg = j.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(weight).alias("num"),
    )
    scale = 1 << specs.DECAY_BMAX
    agg = agg.withColumn(
        "decayed_e6",
        F.expr(f"(2000000 * num + {scale}) div (2 * {scale})"),
    )
    sh = 30 - lvl

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["tile"].to_numpy(np.int64)
            face, i, j2, _ = h.cellid_to_face_ij_orientation(t.view(np.uint64))
            out = pd.DataFrame(
                {
                    "face": face.astype(np.int64),
                    "ti": (i >> sh).astype(np.int64),
                    "tj": (j2 >> sh).astype(np.int64),
                }
            )
            for c in ("n", "num", "decayed_e6"):
                out[c] = pdf[c].to_numpy(np.int64)
            yield out

    return agg.mapInPandas(
        decode,
        schema="face long, ti long, tj long, n long, num long, decayed_e6 long",
    )


def q_tile_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson user diversity per FOCAL_LEVEL tile: the probability
    that two random events in the tile come from DIFFERENT users,
    (n² - Σc_u²)/n² — the curation signal separating organically busy
    tiles from single-user spam columns (the per-tile analog of the
    dedup pipeline's source screens).

    A pure rational over integer counts, emitted with the exact integer
    half-up idiom (no log(), no engine round()) — the class of score the
    sf1 gate proved safe (ROUND5.md session 6).

    Plan shape: the persisted geo table equi-joins events for user_id
    (the _traj_window pattern), then TWO nested aggregates — (tile, user)
    partial-agg Exchange, then a tile-keyed rollup whose input is already
    one row per (tile, user).  No broadcast of anything unbounded; output
    is grid-bounded.  The decode to engine-independent grid keys is the
    standard Arrow stage over <= 6*4^L rows."""
    lvl = specs.FOCAL_LEVEL
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id"
    )
    geo = events_geo(spark, sf_dir).select(
        "event_id", tiling.parent_col("cell_id", lvl).alias("tile")
    )
    per_u = (
        geo.join(ev, on="event_id")
        .groupBy("tile", "user_id")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    per_t = per_u.groupBy("tile").agg(
        F.sum("cu").alias("n"),
        F.count(F.lit(1)).alias("u_cnt"),
        F.sum(F.col("cu") * F.col("cu")).alias("sumsq"),
    )
    simpson = F.expr(
        "(2000000 * (n * n - sumsq) + n * n) div (2 * n * n)"
    )
    per_t = per_t.withColumn("simpson_e6", simpson)
    sh = 30 - lvl

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["tile"].to_numpy(np.int64)
            face, i, j, _ = h.cellid_to_face_ij_orientation(t.view(np.uint64))
            out = pd.DataFrame(
                {
                    "face": face.astype(np.int64),
                    "ti": (i >> sh).astype(np.int64),
                    "tj": (j >> sh).astype(np.int64),
                }
            )
            for c in ("n", "u_cnt", "sumsq", "simpson_e6"):
                out[c] = pdf[c].to_numpy(np.int64)
            yield out

    return per_t.mapInPandas(
        decode,
        schema="face long, ti long, tj long, n long, u_cnt long, "
        "sumsq long, simpson_e6 long",
    )


def q_idw_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted smoothing on the S2 grid: every occupied
    FOCAL_LEVEL tile's count re-estimated from its rook-BFS ring-1 and
    ring-2 neighbors (self EXCLUDED, integer weights IDW_W1/IDW_W2) — the
    raster-algebra "focal mean with a distance kernel", whose residual
    against the observed count is the density-anomaly signal.  Rings are
    BFS depth under the 4-direction FACE_WRAP step (cellid.rs:336-347),
    the same metric s2_cell_disk's kRing uses, so ring-2 is
    dedup(neighbors(ring-1)) minus {self} ∪ ring-1 BY DEFINITION.

    The estimate num/den is a pure rational over integer counts; the 6-dp
    emission is the exact half-up integer division, and the residual
    est - n*1e6 is exact bigint subtraction — nothing floats anywhere.

    Plan shape: everything runs over the shared session-persisted
    _grid_counts table (grid-bounded, <= 6*4^L rows at ANY corpus size):
    one Arrow contribution stage (a per-source python loop over the
    grid-bounded batch — NOT over events), one tiny groupBy, one
    grid-bounded join.  The unbounded events table is only touched by the
    memoized _grid_counts build."""
    from ..kernel import hierarchy

    lvl = specs.FOCAL_LEVEL
    base = _grid_counts(spark, sf_dir, lvl)
    w1, w2 = specs.IDW_W1, specs.IDW_W2

    def contrib(batches):
        # per SOURCE tile: ring1 = its 4 edge neighbors; ring2 =
        # dedup(edge_neighbors(ring1)) - {self} - ring1.  The loop is over
        # the grid-bounded tile table, never the corpus.
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["tile"].to_numpy(np.int64)
            n = pdf["n"].to_numpy(np.int64)
            d1 = np.asarray(
                hierarchy.edge_neighbors(t.view(np.uint64))
            ).view(np.int64)
            d2_raw = np.asarray(
                hierarchy.edge_neighbors(d1.reshape(-1).view(np.uint64))
            ).view(np.int64).reshape(len(t), -1)
            tgts, ws, cs = [], [], []
            for k in range(len(t)):
                ring1 = set(d1[k].tolist())
                ring2 = set(d2_raw[k].tolist()) - ring1 - {int(t[k])}
                for x in ring1:
                    tgts.append(x)
                    ws.append(w1)
                    cs.append(w1 * int(n[k]))
                for x in ring2:
                    tgts.append(x)
                    ws.append(w2)
                    cs.append(w2 * int(n[k]))
            yield pd.DataFrame(
                {
                    "target": np.asarray(tgts, dtype=np.int64),
                    "w": np.asarray(ws, dtype=np.int64),
                    "c": np.asarray(cs, dtype=np.int64),
                }
            )

    recv = (
        base.select("tile", "n")
        .mapInPandas(contrib, schema="target long, w long, c long")
        .groupBy("target")
        .agg(F.sum("c").alias("num"), F.sum("w").alias("den"))
    )
    out = (
        base.join(recv, base["tile"] == recv["target"], "left")
        .select(
            "face",
            "ti",
            "tj",
            "n",
            F.coalesce(F.col("num"), F.lit(0).cast("long")).alias("num"),
            F.coalesce(F.col("den"), F.lit(0).cast("long")).alias("den"),
        )
        .withColumn(
            "idw_e6",
            F.when(
                F.col("den") > 0,
                F.expr("(2000000 * num + den) div (2 * den)"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn("resid_e6", F.col("idw_e6") - F.col("n") * F.lit(1000000))
    )
    return out


def _traj_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-user step frame: (user_id, event_id, prev_event, ts,
    prev_ts, px/py/pz, x/y/z) — the lag-window primitive under
    trajectory_step / step_midpoint / speed_filter / waypoints.  ONE
    user_id Exchange; xyz trig in whole-stage codegen."""
    docs = events_geo(spark, sf_dir).select("event_id", "lat", "lng")
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "ts"
    )
    la, ln = F.radians("lat"), F.radians("lng")
    g = ev.join(docs, on="event_id").select(
        "user_id",
        "event_id",
        "ts",
        (F.cos(la) * F.cos(ln)).alias("x"),
        (F.cos(la) * F.sin(ln)).alias("y"),
        F.sin(la).alias("z"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return g.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        F.lag("z").over(w).alias("pz"),
        "x",
        "y",
        "z",
    ).where(F.col("prev_event").isNotNull())


def _step_dt_dist_cols() -> tuple[Column, Column]:
    """The speed-frame op tree over a _traj_window step row: exact int64
    microsecond dt and the 6-dp-rounded arc distance.  Shared by
    q_speed_filter and q_stay_points so the stay detector's "identical op
    tree, exactness inherited" claim is structural, not copy-paste."""
    dt = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    chord2 = (
        (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
        + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
        + (F.col("z") - F.col("pz")) * (F.col("z") - F.col("pz"))
    )
    dist = F.round(
        F.degrees(2.0 * F.asin(0.5 * F.sqrt(F.least(chord2, F.lit(4.0))))), 6
    )
    return dt, dist


def _speed_r_col() -> Column:
    """speed computed FROM the already-rounded distance column, rounded
    again — over the aliased (dt_us, dist_deg_r) columns."""
    return F.round(
        F.col("dist_deg_r") * F.lit(3600000000.0) / F.col("dt_us").cast("double"), 6
    )


def q_speed_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step speed + plausibility bands — the GPS-jump cleaning filter
    every trajectory pipeline runs before aggregation (teleporting points
    poison distance/OD rollups).

    dt is exact int64 microseconds; the arc distance is the 6-dp-rounded
    segment-distance idiom; speed is computed FROM THE ROUNDED distance
    (the s2_bearing rationale: rounding first makes every downstream op
    deterministic cross-engine), rounded again, and the band compares the
    ROUNDED speed so flag and displayed value can never disagree.  A zero
    time delta is 'anomalous' by definition (infinite speed).  Plan shape:
    the shared ONE-Exchange trajectory window, then pure codegen."""
    st = _traj_window(spark, sf_dir)
    dt, dist = _step_dt_dist_cols()
    d = st.select(
        "user_id",
        "event_id",
        "prev_event",
        dt.alias("dt_us"),
        dist.alias("dist_deg_r"),
    )
    speed = _speed_r_col()
    d = d.withColumn(
        "speed_r", F.when(F.col("dt_us") > 0, speed).otherwise(F.lit(None))
    )
    band = (
        F.when(F.col("dt_us") == 0, F.lit("anomalous"))
        .when(F.col("speed_r") <= specs.SPEED_PLAUSIBLE_DEG_H, F.lit("plausible"))
        .when(F.col("speed_r") <= specs.SPEED_MAX_DEG_H, F.lit("fast"))
        .otherwise(F.lit("anomalous"))
    )
    return d.select(
        "user_id",
        "event_id",
        "prev_event",
        "dt_us",
        "dist_deg_r",
        "speed_r",
        band.alias("band"),
    )


def q_waypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle densification: K interior waypoints per trajectory step
    via spherical linear interpolation (edgeutil.rs interpolate /
    interpolate_at_distance semantics — slerp weights sin((1-t)θ)/sinθ,
    sin(tθ)/sinθ), emitted as 6-dp lat/lng — the route-rendering /
    map-matching densifier.

    The slerp runs in whole-stage codegen with the op tree mirrored by the
    oracle (trig is bit-identical across engines — the s2_tile_assign
    foundation); degenerate steps (sinθ == 0: coincident LCG latlng
    collisions or exact antipodes) are excluded by the identical predicate
    on both sides.  Latitude uses atan2(z, hypot(x, y)) rather than asin so
    ulp-scale |w| > 1 can never NaN.  Plan shape: ONE user_id Exchange,
    then a 3x explode of the step frame — no Python, no second shuffle."""
    st = _traj_window(spark, sf_dir)
    chord2 = (
        (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
        + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
        + (F.col("z") - F.col("pz")) * (F.col("z") - F.col("pz"))
    )
    theta = 2.0 * F.asin(0.5 * F.sqrt(F.least(chord2, F.lit(4.0))))
    d = st.select(
        "user_id",
        "event_id",
        "px",
        "py",
        "pz",
        "x",
        "y",
        "z",
        theta.alias("theta"),
    ).withColumn("sin_t", F.sin(F.col("theta")))
    d = d.where(F.col("sin_t") > 0.0)
    ks = F.array(*[F.lit(float(t)) for t in specs.WAYPOINT_TS])
    d = d.select("*", F.posexplode(ks).alias("pos", "t"))
    wa = F.sin((F.lit(1.0) - F.col("t")) * F.col("theta")) / F.col("sin_t")
    wb = F.sin(F.col("t") * F.col("theta")) / F.col("sin_t")
    d = d.withColumns(
        {
            "wx": wa * F.col("px") + wb * F.col("x"),
            "wy": wa * F.col("py") + wb * F.col("y"),
            "wz": wa * F.col("pz") + wb * F.col("z"),
        }
    )
    lat = F.degrees(
        F.atan2(
            F.col("wz"),
            F.sqrt(F.col("wx") * F.col("wx") + F.col("wy") * F.col("wy")),
        )
    )
    lng = F.degrees(F.atan2(F.col("wy"), F.col("wx")))
    return d.select(
        "user_id",
        "event_id",
        (F.col("pos") + 1).cast("long").alias("k"),
        F.round(lat, 6).alias("lat_r"),
        F.round(lng, 6).alias("lng_r"),
    )


def q_traj_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory simplification: spherical Douglas-Peucker
    (kernel/simplify.py simplify_points — the edgeutil.rs:224-227
    distance_from_segment metric) marks which vertices survive at
    SIMPLIFY_TOL_RAD, the map-generalization step run before rendering or
    re-indexing trajectories.

    Output: every event with its per-user (ts, event_id)-ordered sequence
    index and a kept flag.  DP is inherently sequential per polyline, so the
    kernel runs per user group via applyInPandas — key cardinality (users)
    scales with the corpus while each group stays trajectory-sized, which is
    exactly the shape that distributes.  xyz trig runs JVM-side before the
    kernel (the stream_trajectory rationale): numpy only executes IEEE
    -,*,+,/ plus sqrt/arcsin on engine-identical doubles, so the kept set is
    bit-reproducible against the oracle's recursive-CTE replay of the same
    recursion tree (the kept set is order-independent: each interval's split
    depends only on its own endpoints and interior).

    Plan shape: ONE user_id Exchange (repartition + sortWithinPartitions —
    secondary sort), then mapInPandas streaming WHOLE sorted partitions:
    ~cores Arrow calls instead of one per user (groupBy().applyInPandas
    paid per-tiny-group Arrow overhead — measured 4.6 -> ~1 s warm at
    sf0.1 with 1,500 users; at a billion users the per-group tax is the
    difference between a map stage and a stall).  A user whose rows span
    an Arrow batch boundary is carried into the next batch (the batch cut
    is the only place a user could split — partitioning guarantees all
    their rows are in this partition, sorted)."""
    docs = events_geo(spark, sf_dir).select("event_id", "lat", "lng")
    ev = _read(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "ts"
    )
    la, ln = F.radians("lat"), F.radians("lng")
    g = ev.join(docs, on="event_id").select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        (F.cos(la) * F.cos(ln)).alias("x"),
        (F.cos(la) * F.sin(ln)).alias("y"),
        F.sin(la).alias("z"),
    )
    n = spark.sparkContext.defaultParallelism
    g = g.repartition(n, F.col("user_id")).sortWithinPartitions(
        "user_id", "ts_us", "event_id"
    )
    tol = specs.SIMPLIFY_TOL_RAD

    def _dp_block(pdf: pd.DataFrame) -> pd.DataFrame:
        """Complete users only, globally sorted (user, ts, event)."""
        from ..kernel.simplify import simplify_points

        uids = pdf["user_id"].to_numpy(np.int64)
        ids = pdf["event_id"].to_numpy(np.int64)
        pts = np.stack(
            [
                pdf["x"].to_numpy(np.float64),
                pdf["y"].to_numpy(np.float64),
                pdf["z"].to_numpy(np.float64),
            ],
            axis=1,
        )
        starts = np.nonzero(np.r_[True, uids[1:] != uids[:-1]])[0]
        bounds = np.r_[starts, len(uids)]
        keep = np.zeros(len(ids), dtype=bool)
        seq = np.empty(len(ids), dtype=np.int64)
        for a, b in zip(bounds[:-1], bounds[1:]):
            keep[a + np.asarray(simplify_points(pts[a:b], tol))] = True
            seq[a:b] = np.arange(b - a, dtype=np.int64)
        return pd.DataFrame(
            {"user_id": uids, "event_id": ids, "seq": seq, "kept": keep}
        )

    def _dp_partition(pdfs):
        carry = None
        for pdf in pdfs:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            uids = pdf["user_id"].to_numpy(np.int64)
            # hold back the last user: their remaining rows may be in the
            # next Arrow batch (rows are sorted by user within the batch)
            cut = int(np.searchsorted(uids, uids[-1], side="left"))
            carry = pdf.iloc[cut:]
            if cut:
                yield _dp_block(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield _dp_block(carry)

    return g.mapInPandas(
        _dp_partition, schema="user_id long, event_id long, seq long, kept boolean"
    )


def q_line_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence / border line-crossing detection: every trajectory step
    (prev -> cur per user) that properly crosses a segment of the
    reference polyline, with the crossing direction — the EdgeCrosser
    predicate (edgeutil.rs:96-113 simple_crossing; kernel
    region.py:1152) exported as a relational operator.

    Exactness: the predicate is three strict sign tests on products of
    IEEE *,-,+ terms.  The step endpoints are trig-derived (JVM/DuckDB
    libm differ by 1-4 ulp), but the smallest |product| across every
    (step, segment) pair is 7.3e-11 at sf1 (measured; 2.5e-6 at sf0.001)
    while the ulp perturbation is ~1e-16 — five-plus orders of margin, the
    distance_self_join membership argument.  The segment constants AND
    their precomputed cross products are inlined as exact double literals
    on BOTH engines, so c, d, cd are bit-identical by construction.
    direction = +1 when the step starts on the positive side of the
    segment's great circle (sign of cd . prev) — inbound vs outbound.

    Plan shape: the shared ONE-Exchange trajectory window, a 3-wide
    explode of the inlined segment table, and the predicate in whole-stage
    codegen — no Python, no second shuffle, no candidate generation
    (the reference line is broadcast-sized; a road-network-scale line set
    would swap the explode for a covering-cell equi-join like
    s2_polyline_buffer_join's)."""
    return line_crossing_frame(_traj_window(spark, sf_dir))


def q_crossing_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence crossings WITH the intersection coordinates: for every
    properly-crossing (step, segment) pair, the point where the two great
    circles meet — rust-s2's edge_crossings.rs::intersection exported as a
    relational operator ("WHERE did the user cross the border, not just
    whether").

    The point is (a x b) x (c x d) normalized, sign-oriented toward the
    step's midpoint chord (a+b).  The engine deliberately uses this naive
    cross-product chain rather than the reference's stable/exact
    escalation (oriented against a0+a1+b0+b1): for a proper crossing the
    intersection lies strictly inside both arcs, so the orientation dot
    product is bounded away from zero.  ab is trig-derived (1-4 ulp engine noise),
    cd is an exact inlined literal; the whole chain is mirrored op-for-op
    and the 6-dp rounded lat/lng absorbs the ~1e-15 tail exactly like
    s2_waypoints' interpolated coordinates.  atan2-based latitude so
    ulp-scale |z| > 1 can never NaN.

    Plan shape: identical to s2_line_crossings — the shared ONE-Exchange
    trajectory window, a broadcast-sized segment explode, everything in
    whole-stage codegen; the point math adds a handful of codegen-resident
    multiplications on the (sparse) crossing rows only."""
    return line_crossing_frame(_traj_window(spark, sf_dir), points=True)


def _intersection_latlng_cols(
    ab: tuple[Column, Column, Column],
    cd: tuple[Column, Column, Column],
    a: tuple[Column, Column, Column],
    b: tuple[Column, Column, Column],
) -> tuple[Column, Column]:
    """Intersection emission (edge_crossings.rs::intersection) shared by
    s2_crossing_points and s2_self_intersect: r = (ab x cd) sign-oriented
    toward the arc midpoint chord (a + b), normalized, 6-dp atan2 lat/lng
    (atan2 latitude so ulp-scale |z| > 1 can never NaN).  Deliberately the
    naive (a x b) x (c x d) chain, not the reference's stable/exact
    escalation: proper crossings rounded to 6 dp do not need it.  ONE op
    tree for both queries so their op-mirroring oracles cannot silently
    diverge."""
    abx, aby, abz = ab
    cdx, cdy, cdz = cd
    ax_, ay_, az_ = a
    bx_, by_, bz_ = b
    rx = aby * cdz - abz * cdy
    ry = abz * cdx - abx * cdz
    rz = abx * cdy - aby * cdx
    sdot = rx * (ax_ + bx_) + ry * (ay_ + by_) + rz * (az_ + bz_)
    nrm = F.sqrt(rx * rx + ry * ry + rz * rz)
    sgn = F.when(sdot < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ux = sgn * rx / nrm
    uy = sgn * ry / nrm
    uz = sgn * rz / nrm
    lat = F.degrees(F.atan2(uz, F.sqrt(ux * ux + uy * uy)))
    lng = F.degrees(F.atan2(uy, ux))
    return F.round(lat, 6), F.round(lng, 6)


def line_crossing_frame(st: DataFrame, points: bool = False) -> DataFrame:
    """Crossing detection over any step frame carrying (user_id, event_id,
    prev_event, px, py, pz, x, y, z) — shared by the batch query and the
    streaming pipeline so both run the IDENTICAL codegen predicate.

    ``points=True`` additionally emits the great-circle intersection
    coordinates (the get_intersection analog) for each crossing."""
    segs = []
    for i, (c, d) in enumerate(specs.polyline_segments_xyz()):
        cd = (
            c[1] * d[2] - c[2] * d[1],
            c[2] * d[0] - c[0] * d[2],
            c[0] * d[1] - c[1] * d[0],
        )
        segs.append(
            f"named_struct('seg_id', {i}, "
            f"'cx', {specs.f(c[0])}, 'cy', {specs.f(c[1])}, 'cz', {specs.f(c[2])}, "
            f"'dx', {specs.f(d[0])}, 'dy', {specs.f(d[1])}, 'dz', {specs.f(d[2])}, "
            f"'cdx', {specs.f(cd[0])}, 'cdy', {specs.f(cd[1])}, 'cdz', {specs.f(cd[2])})"
        )
    e = st.select(
        "user_id",
        "event_id",
        "prev_event",
        "px",
        "py",
        "pz",
        "x",
        "y",
        "z",
        F.explode(F.expr("array(" + ", ".join(segs) + ")")).alias("s"),
    ).select("*", F.col("s.seg_id").alias("seg_id"))
    abx = F.col("py") * F.col("z") - F.col("pz") * F.col("y")
    aby = F.col("pz") * F.col("x") - F.col("px") * F.col("z")
    abz = F.col("px") * F.col("y") - F.col("py") * F.col("x")
    acb = -(abx * F.col("s.cx") + aby * F.col("s.cy") + abz * F.col("s.cz"))
    bda = abx * F.col("s.dx") + aby * F.col("s.dy") + abz * F.col("s.dz")
    cbd = -(
        F.col("s.cdx") * F.col("x")
        + F.col("s.cdy") * F.col("y")
        + F.col("s.cdz") * F.col("z")
    )
    dac = (
        F.col("s.cdx") * F.col("px")
        + F.col("s.cdy") * F.col("py")
        + F.col("s.cdz") * F.col("pz")
    )
    crossed = (acb * bda > 0) & (acb * cbd > 0) & (acb * dac > 0)
    cols = [
        F.col("user_id"),
        F.col("event_id"),
        F.col("prev_event"),
        F.col("seg_id"),
        F.when(F.col("dac") > 0, F.lit(1)).otherwise(F.lit(-1)).alias("direction"),
    ]
    if points:
        # intersection = (ab x cd), sign-oriented toward the arc midpoint
        # chord (a+b), normalized — edgeutil.rs get_intersection semantics
        # for a proper crossing.  Op order mirrored by the oracle.
        lat, lng = _intersection_latlng_cols(
            (abx, aby, abz),
            (F.col("s.cdx"), F.col("s.cdy"), F.col("s.cdz")),
            (F.col("px"), F.col("py"), F.col("pz")),
            (F.col("x"), F.col("y"), F.col("z")),
        )
        cols += [lat.alias("cross_lat_r"), lng.alias("cross_lng_r")]
    return e.withColumn("dac", dac).where(crossed).select(*cols)


def q_self_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory self-intersection detection: every pair of non-adjacent
    steps of the SAME user whose great-circle segments properly cross,
    with the crossing coordinates — the EdgeCrosser predicate
    (edgeutil.rs:96-113 simple_crossing) plus the intersection point
    (edge_crossings.rs::intersection, as the naive (a x b) x (c x d) chain
    oriented to a+b) turned inward ("where does the user's own track
    loop over itself" — the GPS loop/backtrack signal trajectory cleaning
    and map-matching pipelines key on).

    Candidate generation is a banded self-join (specs.SELF_INTERSECT_W):
    step i joins step j only when 2 <= sj - si <= W, and the band key
    (user_id, seq div W) with the left side exploded into {blk, blk+1} is
    COMPLETE for that gap range (floor(sj/W) - floor(si/W) in {0, 1}), so
    the band is pure shuffle-shaping — the oracle replays the
    semantically-equal direct gap join.  Work is O(n*W) pairs at any
    scale; no all-pairs anywhere.

    Exactness: the three sign tests run on products of IEEE *,+,- terms
    mirrored op-for-op by the oracle, and — unlike s2_line_crossings,
    where one side is an exact literal — BOTH segments are trig-derived,
    so exact-touch degeneracies exist in the data: the sf1 replication's
    LCG lattice yields exactly collinear step triples whose products are
    true zeros computed as ~1e-17 noise, engine-unstable under > 0.  A
    proper crossing therefore must clear specs.SELF_INTERSECT_EPS
    (1e-13) on all three products — the relational twin of
    simple_crossing returning "uncertain" on degenerate input.  Measured
    populations across every candidate pair: exact-touch |product|
    <= 4.8e-17 (4 pairs, sf1 only); minimum genuine |product| 8.2e-07 /
    1.8e-10 / 1.4e-09 / 4.9e-12 at sf0.001/0.01/0.1/1 — the band sits
    ~2 orders from both sides, and ~1e-15 product noise cannot carry a
    value across it, so membership is engine-exact.  The crossing point
    is the (ab x cd) chain of s2_crossing_points verbatim (6-dp rounded;
    for a banded proper crossing the orientation dot is bounded away
    from zero).

    Plan shape: ONE user_id Exchange builds the step frame (row_number
    rides the same window spec as the lags — no second sort), then the
    banded self-join shuffles both sides by (user_id, blk) — at sandbox
    scale AQE broadcasts the right side, at 100 TB it is a co-partitioned
    shuffle join on a key that scales with users, not pairs.  Everything
    downstream of the Arrow-free frame is whole-stage codegen."""
    W = specs.SELF_INTERSECT_W

    def _build_base() -> DataFrame:
        st = _traj_window(spark, sf_dir)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").asc(), F.col("event_id").asc()
        )
        return st.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("seq"),
            "px",
            "py",
            "pz",
            "x",
            "y",
            "z",
        )

    # persisted once per session: the self-join's two sides otherwise each
    # rebuild the scan + window chain (ReuseExchange stops at the divergent
    # block projections — the doc_bigrams lesson)
    base = memo(spark, sf_dir, "self_intersect_base", lambda: _build_base().persist())
    left = base.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("seq").alias("sa"),
        F.col("px").alias("pax"),
        F.col("py").alias("pay"),
        F.col("pz").alias("paz"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.col("z").alias("az"),
        F.explode(
            F.array(F.expr(f"seq div {W}"), F.expr(f"seq div {W}") + F.lit(1))
        ).alias("blk"),
    )
    right = base.select(
        "user_id",
        F.col("event_id").alias("event_b"),
        F.col("seq").alias("sb"),
        F.col("px").alias("pbx"),
        F.col("py").alias("pby"),
        F.col("pz").alias("pbz"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("z").alias("bz"),
        F.expr(f"seq div {W}").alias("blk"),
    )
    j = left.join(right, on=["user_id", "blk"]).where(
        (F.col("sb") - F.col("sa") >= 2) & (F.col("sb") - F.col("sa") <= W)
    )
    abx = F.col("pay") * F.col("az") - F.col("paz") * F.col("ay")
    aby = F.col("paz") * F.col("ax") - F.col("pax") * F.col("az")
    abz = F.col("pax") * F.col("ay") - F.col("pay") * F.col("ax")
    cdx = F.col("pby") * F.col("bz") - F.col("pbz") * F.col("by")
    cdy = F.col("pbz") * F.col("bx") - F.col("pbx") * F.col("bz")
    cdz = F.col("pbx") * F.col("by") - F.col("pby") * F.col("bx")
    j = j.select(
        "user_id",
        "event_a",
        "event_b",
        (F.col("sb") - F.col("sa")).cast("long").alias("gap"),
        "pax",
        "pay",
        "paz",
        "ax",
        "ay",
        "az",
        abx.alias("abx"),
        aby.alias("aby"),
        abz.alias("abz"),
        cdx.alias("cdx"),
        cdy.alias("cdy"),
        cdz.alias("cdz"),
        (
            -(
                abx * F.col("pbx") + aby * F.col("pby") + abz * F.col("pbz")
            )
        ).alias("acb"),
        (abx * F.col("bx") + aby * F.col("by") + abz * F.col("bz")).alias("bda"),
        (-(cdx * F.col("ax") + cdy * F.col("ay") + cdz * F.col("az"))).alias(
            "cbd"
        ),
        (cdx * F.col("pax") + cdy * F.col("pay") + cdz * F.col("paz")).alias(
            "dac"
        ),
    )
    eps = F.lit(specs.SELF_INTERSECT_EPS)
    crossed = (
        (F.col("acb") * F.col("bda") > eps)
        & (F.col("acb") * F.col("cbd") > eps)
        & (F.col("acb") * F.col("dac") > eps)
    )
    c = j.where(crossed)
    lat, lng = _intersection_latlng_cols(
        (F.col("abx"), F.col("aby"), F.col("abz")),
        (F.col("cdx"), F.col("cdy"), F.col("cdz")),
        (F.col("pax"), F.col("pay"), F.col("paz")),
        (F.col("ax"), F.col("ay"), F.col("az")),
    )
    return c.select(
        "user_id",
        "event_a",
        "event_b",
        "gap",
        lat.alias("cross_lat_r"),
        lng.alias("cross_lng_r"),
    )


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop / dwell detection: maximal runs of consecutive SLOW steps per
    user (speed_r <= STAY_SPEED_DEG_H on the same 6-dp rounded speed the
    gated s2_speed_filter emits), each run collapsed to one stay row —
    the stay-point primitive trajectory mining builds visits, POIs, and
    home/work inference on.  The spatial twin of sessionize: islands are
    keyed on speed instead of time gap.

    Gaps-and-islands, all-integer: seq is row_number over the step frame,
    rn is row_number over the SLOW subset under the identical window
    spec, and grp = seq - rn is constant exactly on maximal slow runs.
    Every output is engine-exact by construction — ids via min_by/max_by
    on the unique seq, n_steps / dur_us are bigint counts/sums, and the
    run's path length sums CAST(round(dist_deg_r * 1e6) AS BIGINT)
    micro-degrees (each term is a 6-dp-rounded double scaled to within an
    ulp of an integer, so the bigint conversion is unambiguous and the
    SUM is reorder-proof — the s2_decay_density integer-emission idiom).

    Plan shape: ONE user_id Exchange.  Both row_numbers and the lag frame
    share one window spec (no second sort); the filter between them
    preserves partitioning; and the final groupBy(user_id, grp) rides the
    existing hashpartitioning(user_id) — hash(user_id) clusters every
    (user_id, grp) group — so Catalyst inserts no agg Exchange."""
    st = _traj_window(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    dt, dist = _step_dt_dist_cols()
    d = st.select(
        "user_id",
        "event_id",
        "prev_event",
        "ts",
        F.row_number().over(w).alias("seq"),
        dt.alias("dt_us"),
        dist.alias("dist_deg_r"),
    )
    slow = d.where(
        (F.col("dt_us") > 0) & (_speed_r_col() <= F.lit(specs.STAY_SPEED_DEG_H))
    )
    s = slow.select(
        "*", (F.col("seq") - F.row_number().over(w)).alias("grp")
    )
    return (
        s.groupBy("user_id", "grp")
        .agg(
            F.expr("min_by(prev_event, seq)").alias("start_event"),
            F.expr("max_by(event_id, seq)").alias("end_event"),
            F.count(F.lit(1)).alias("n_steps"),
            F.sum("dt_us").alias("dur_us"),
            F.sum(
                F.expr("CAST(round(dist_deg_r * 1000000.0, 0) AS BIGINT)")
            ).alias("dist_udeg"),
        )
        .select(
            "user_id", "start_event", "end_event", "n_steps", "dur_us", "dist_udeg"
        )
    )


def q_traj_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-overlap similarity join: Jaccard + containment between
    every two users' occupied level-6 tile SETS (CellUnion intersection
    semantics, cellunion.rs:419-466, as a relational self-join) — the
    "which users move through the same places" matrix that feeds
    co-travel detection and user dedup.

    Exactness: every quantity is a set cardinality (bigint); the two
    ratios are single IEEE divisions of exact ints — bit-identical across
    engines, no rounding subtlety anywhere.

    Scale shape (the ngram_jaccard design transplanted to space): the
    per-user tile set is grid-bounded (<= 6*4^6 regardless of trajectory
    length); tiles visited by > TRAJ_TILE_CAP distinct users are dropped
    as non-discriminative stop-tiles BEFORE the self-join (and from the
    sizes — overlap is defined over discriminative tiles), so one hot
    urban-core tile can never cost O(users^2).  The hot set is tiny by
    construction and broadcasts.  user_tiles persists once per session
    (four consuming branches)."""
    lvl = specs.TRAJ_JACCARD_LEVEL

    def _build() -> DataFrame:
        docs = events_geo(spark, sf_dir).select("event_id", "cell_id")
        ev = _read(spark, sf_dir, "events", spread=False).select(
            "event_id", "user_id"
        )
        ut = (
            ev.join(docs, on="event_id")
            .select("user_id", tiling.parent_col("cell_id", lvl).alias("tile"))
            .distinct()
        )
        hot = (
            ut.groupBy("tile")
            .agg(F.count(F.lit(1)).alias("nu"))
            .where(F.col("nu") > specs.TRAJ_TILE_CAP)
            .select("tile")
        )
        return ut.join(F.broadcast(hot), on="tile", how="left_anti")

    ut = memo(spark, sf_dir, "traj_tiles", lambda: _build().persist())
    sizes = ut.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(b, on="tile")
        .where(F.col("a.user_id") < F.col("b.user_id"))
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("user_id").alias("user_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("user_id").alias("user_b"), F.col("n").alias("nb"))
    # no broadcast hint: sizes is O(users); AQE picks the join from runtime stats
    j = inter.join(sa, "user_a").join(sb, "user_b")
    # Ratios as EXACT integer half-up division, not round(double, 6):
    # engine round() semantics diverge on halfway decimal reprs (Spark
    # rounds the shortest decimal repr HALF_UP, DuckDB rounds the binary
    # value — an observed 1e-6 disagreement on 18 sf1 pairs).  Both
    # operands are exact bigints, so (2*10^6*p + q) div (2*q) IS the
    # correctly-rounded half-up 6-dp ratio, engine-independent.
    return j.select(
        "user_a",
        "user_b",
        "inter",
        "na",
        "nb",
        F.expr(
            "(2000000 * inter + (na + nb - inter)) div (2 * (na + nb - inter))"
        ).alias("jaccard_e6"),
        F.expr(
            "(2000000 * inter + least(na, nb)) div (2 * least(na, nb))"
        ).alias("containment_e6"),
    )


RASTER_LEVEL = 6


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster side of raster<->vector: a polygon rasterized onto the S2
    level-6 grid with per-tile coverage fractions, sampled by the event
    point set (the 100 TB shape: each tile's coverage estimated from the
    data points it already holds — one groupBy, no geometry explosion).
    Output: one raster row per occupied tile with the sample counts and
    the inside fraction for the poly_diamond_us polygon."""
    docs = events_geo(spark, sf_dir)
    tiled = docs.withColumn("tile", tiling.parent_col("cell_id", RASTER_LEVEL))
    rid, ring = specs.POLYGONS[0]
    verts = specs.polygon_vertices_xyz(ring)
    px = F.cos(F.radians("lat")) * F.cos(F.radians("lng"))
    py = F.cos(F.radians("lat")) * F.sin(F.radians("lng"))
    pz = F.sin(F.radians("lat"))
    inside = F.lit(True)
    margin = F.lit(True)
    n = len(verts)
    for k in range(n):
        a, b = verts[k], verts[(k + 1) % n]
        cx = a[1] * b[2] - a[2] * b[1]
        cy = a[2] * b[0] - a[0] * b[2]
        cz = a[0] * b[1] - a[1] * b[0]
        det = F.lit(cx) * px + F.lit(cy) * py + F.lit(cz) * pz
        inside = inside & (det > 0)
        margin = margin & (F.abs(det) > F.lit(specs.PIP_MARGIN))
    tiled = tiled.where(margin).withColumn("inside", inside)
    return tiled.groupBy("tile").agg(
        F.count("*").alias("n_samples"),
        F.sum(F.col("inside").cast("long")).alias("n_inside"),
        F.round(
            F.sum(F.col("inside").cast("long")) / F.count("*"), 6
        ).alias("coverage_r"),
    )


def q_s2_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector side of raster<->vector (kernel/vectorize.py): data-derived
    tile masks stitched into their boundary polygons.  Two variants from the
    SAME distributed per-tile groupBy: 'occ' (every occupied level-4 tile —
    near-global at sf>=0.01, the boundary traces the holes) and 'hot'
    (level-5 tiles holding >= 2x the mean count — a scattered archipelago).
    The groupBy is the only data-scale stage; its result is GRID-bounded
    (<= 6*4^L rows regardless of input rows), so collecting it for the
    driver-side stitch is O(grid), the RegionCoverer pattern.  Output per
    variant: n_cells, n_vertices of the stitched rings (== boundary edge
    count: each boundary edge contributes exactly one vertex), and the
    mask's exact spherical area.  The oracle recomputes all three
    combinatorially — edge-neighbor membership via the FACE_WRAP cube
    topology, never stitching — so the stitch is verified end-to-end."""
    from ..kernel.covering import CellUnion
    from ..kernel.vectorize import cellunion_boundary, tile_quad_areas

    docs = events_geo(spark, sf_dir)
    (occ_name, occ_lvl, _), (hot_name, hot_lvl, _) = specs.VECTORIZE_VARIANTS
    assert occ_lvl <= hot_lvl
    # ONE distributed rollup at the finer level feeds both variants: the
    # occupied set at the coarse level is exactly the parent set of the
    # occupied fine tiles (a level-L tile holds a point iff some level-L'
    # descendant does)
    counts = (
        docs.groupBy(tiling.parent_col("cell_id", hot_lvl).alias("tile"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    # signed bigint -> unsigned cellid (faces 4/5 come back negative)
    fine = np.array(
        [r["tile"] & 0xFFFFFFFFFFFFFFFF for r in counts], dtype=np.uint64
    )
    cvals = np.array([r["c"] for r in counts], dtype=np.int64)
    if not len(cvals):
        # empty input: both variants degrade to the empty polygon, matching
        # the oracle's coalesce(round(area,7), 0.0) on zero occupied tiles
        rows = [
            (name, lvl, 0, 0, 0.0)
            for name, lvl, _ in specs.VECTORIZE_VARIANTS
        ]
        return spark.createDataFrame(
            rows,
            "variant string, level long, n_cells long, n_vertices long, area_r double",
        )
    # 2x mean per occupied fine tile; int sums < 2^53, so the double
    # division is bit-identical to the oracle's avg()
    thr = 2.0 * (int(cvals.sum()) / len(cvals))
    masks = [
        (occ_name, occ_lvl, sorted(int(t) for t in np.unique(h.parent(fine, occ_lvl)))),
        (hot_name, hot_lvl, sorted(int(t) for t in fine[cvals >= thr])),
    ]
    rows = []
    for variant, lvl, mask in masks:
        poly = cellunion_boundary(CellUnion(mask), lvl)
        # a mask covering the whole sphere has ZERO boundary edges, hence
        # zero boundary vertices — the FULL polygon's sentinel vertex is an
        # encoding artifact, not geometry (sf1 finding: 1M events saturate
        # the level-4 grid and the oracle's combinatorial count is 0)
        n_vertices = (
            0 if poly.is_full() else sum(len(lp.vertices) for lp in poly.loops)
        )
        area = float(np.sum(tile_quad_areas(np.asarray(mask, dtype=np.uint64), lvl))) if mask else 0.0
        rows.append((variant, lvl, len(mask), n_vertices, area))
    out = spark.createDataFrame(
        rows, "variant string, level long, n_cells long, n_vertices long, area double"
    )
    return out.select(
        "variant", "level", "n_cells", "n_vertices",
        F.round("area", 7).alias("area_r"),
    )


def q_s2_vectorize_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed raster->vector: the level-12+ scale path, oracled.

    Unlike q_s2_vectorize (serial kernel stitch over a grid-bounded coarse
    mask), this runs engine/vectorize_dist.boundary_rings — per-face
    distributed stitch, O(chains) driver linking — over a fine-level mask:
    the level-VECTORIZE_DIST_LEVEL tiles occupied by events inside the spec
    lat/lng window, dilated by their 4 edge neighbors (plus-shaped blobs
    that merge, pinch at corner touches, and cross the face-0/face-2
    border).  The gate checks the EMITTED GEOMETRY, not just counts: every
    boundary edge contributes exactly one ring vertex (its interior-left
    start corner, computed from its own tile's face parametrization), and
    the corner math uses only IEEE-exact ops (+,-,*,/,sqrt), so summing
    round(coord * SCALE) as integers is bit-reproducible across engines
    and immune to float reorder.  The oracle recomputes mask, dilation,
    boundary edges, and start corners combinatorially via the FACE_WRAP
    cube topology — never stitching — so the stitcher is verified
    end-to-end by an independent formulation.
    """
    from .vectorize_dist import boundary_rings, dilate_tiles

    lvl = specs.VECTORIZE_DIST_LEVEL
    lat_lo, lat_hi, lng_lo, lng_hi = specs.VECTORIZE_DIST_BOX

    def build_mask():
        docs = events_geo(spark, sf_dir)
        base = (
            docs.where(
                (F.col("lat") >= F.lit(lat_lo))
                & (F.col("lat") < F.lit(lat_hi))
                & (F.col("lng") >= F.lit(lng_lo))
                & (F.col("lng") < F.lit(lng_hi))
            )
            .select(tiling.parent_col("cell_id", lvl).alias("tile"))
        )
        # no .distinct() here: dilate_tiles dedups its input (one shuffle)
        return dilate_tiles(base, lvl)

    # mask + stitched rings are the materialized-index analog (the simhash
    # signature-table pattern): built once per (session, sf), reused by
    # re-invocations; clear_geo_cache() drops them so the bench cold pass
    # pays the full stitch honestly
    mask = memo(spark, sf_dir, "vdist_mask", lambda: build_mask().persist())
    rings = memo(
        spark,
        sf_dir,
        "vdist_rings",
        lambda: boundary_rings(
            spark, mask, lvl, blocks_level=specs.VECTORIZE_DIST_BLOCKS
        ).persist(),
    )
    scale = F.lit(specs.VECTORIZE_DIST_SCALE)

    def vsum(c: str):
        return F.sum(F.round(F.col(c) * scale, 0).cast("long")).alias(f"s{c}")

    verts = rings.agg(
        F.count("*").alias("n_vertices"), vsum("x"), vsum("y"), vsum("z")
    )
    cells = mask.agg(F.count("*").alias("n_cells"))
    return cells.crossJoin(verts).select(
        F.lit(lvl).cast("long").alias("level"),
        "n_cells",
        "n_vertices",
        "sx",
        "sy",
        "sz",
    )


@functools.cache
def _polyline_buffer_setup():
    """Covering cells for caps that enclose each buffered segment.

    Per segment: cap at the midpoint with radius = half the segment angle +
    the buffer — a superset of the buffered segment, so the covering join
    is a complete prefilter; the refine is the exact edge-distance kernel.
    """
    coverer = RegionCoverer(max_cells=12)
    buf = math.radians(specs.POLYLINE_BUFFER_DEG)
    cov_rows = []
    for i, (a, b) in enumerate(specs.polyline_segments_xyz()):
        a = np.asarray(a)
        b = np.asarray(b)
        mid = a + b
        mid = mid / np.linalg.norm(mid)
        half = 0.5 * math.atan2(np.linalg.norm(np.cross(a, b)), float(a @ b))
        s = math.sin(0.5 * min(half + buf, math.pi))
        cap = Cap(mid, 4.0 * s * s)
        cov_rows.extend(_cov_rows_for(f"seg{i}", coverer.covering(cap).ids))
    return tuple(cov_rows)


def q_polyline_buffer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance (buffer) join: events within POLYLINE_BUFFER_DEG of
    the polyline — covering prefilter + exact segment-chord refine; the
    oracle brute-forces the same chord formula over all events."""
    from pyspark.sql.functions import pandas_udf

    from ..kernel import edgeutil as eu

    docs = events_geo(spark, sf_dir)
    cov_rows = _polyline_buffer_setup()
    coverings = spark.createDataFrame(list(cov_rows), _COVER_SCHEMA)
    levels = sorted({r[2] for r in cov_rows})
    cand = covering_join(docs, coverings, id_col="event_id", levels=levels)
    # a point can fall in several segments' coverings -> dedupe before refine
    cand = cand.select("event_id", "lat", "lng").dropDuplicates(["event_id"])

    bc = _polyline_segs_broadcast(spark)
    s = math.sin(0.5 * math.radians(specs.POLYLINE_BUFFER_DEG))
    thresh = 4.0 * s * s

    @pandas_udf("boolean")
    def _within(lat: pd.Series, lng: pd.Series) -> pd.Series:
        xs = np.stack(latlng_to_xyz(lat, lng), axis=1)
        best = None
        for a, b in bc.value:
            d = eu.chord2_point_to_edge(xs, a, b)
            best = d if best is None else np.minimum(best, d)
        return pd.Series(best <= thresh)

    return cand.where(_within(F.col("lat"), F.col("lng"))).select("event_id")


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "s2_moran": q_moran,
    "s2_ripley_k": q_ripley_k,
    "s2_tile_diversity": q_tile_diversity,
    "s2_idw_smooth": q_idw_smooth,
    "s2_decay_density": q_decay_density,
    "s2_polyline_buffer_join": q_polyline_buffer_join,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "ngram_jaccard": q_ngram_jaccard,
    "simhash": q_simhash,
    "simhash_dedup": q_simhash_dedup,
    "simhash_banded": q_simhash_banded,
    "minhash_lsh": q_minhash_lsh,
    "ann_cosine": q_ann_cosine,
    "ann_ivf": q_ann_ivf,
    "ann_lsh": q_ann_lsh,
    "embed_dedup": q_embed_dedup,
    "span_pipeline": q_span_pipeline,
    "geo_extract": q_geo_extract,
    "media_features": q_media_features,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders": q_top_orders,
    "events_hourly": q_events_hourly,
    "sessionize": q_sessionize,
    "events_cube": q_events_cube,
    "asof_join": q_asof_join,
    "token_count": q_token_count,
    "doc_keyterms": q_doc_keyterms,
    "doc_bigrams": q_doc_bigrams,
    "sample_hash": q_sample_hash,
    "s2_tile_assign": q_tile_assign,
    "s2_cell_hierarchy": q_cell_hierarchy,
    "s2_cap_join": q_cap_join,
    "s2_cap_join_clustered": q_cap_join_clustered,
    "s2_cap_semijoin": q_cap_semijoin,
    "s2_cap_antijoin": q_cap_antijoin,
    "s2_cap_tile_rollup": q_cap_tile_rollup,
    "s2_rasterize": q_rasterize,
    "s2_vectorize": q_s2_vectorize,
    "s2_vectorize_dist": q_s2_vectorize_dist,
    "s2_rect_join": q_rect_join,
    "s2_pip_join": q_pip_join,
    "s2_poly_nested_join": q_poly_nested_join,
    "s2_poly_overlay_join": q_poly_overlay_join,
    "s2_coastline_join": q_coastline_join,
    "s2_region_area_stats": q_region_area_stats,
    "s2_knn": q_knn,
    "s2_knn_cellring": q_knn_cellring,
    "s2_distance_join": q_distance_join,
    "s2_spatial_cluster": q_spatial_cluster,
    "s2_dbscan": q_dbscan,
    "s2_cluster_stats": q_cluster_stats,
    "s2_cell_disk": q_cell_disk,
    "s2_cell_compact": q_cell_compact,
    "s2_tile_pyramid": q_tile_pyramid,
    "dedup_cluster": q_dedup_cluster,
    "s2_focal_density": q_focal_density,
    "s2_geo_sample": q_geo_sample,
    "s2_trajectory_step": q_trajectory_step,
    "s2_trajectory_stats": q_trajectory_stats,
    "s2_bearing": q_bearing,
    "doc_quality": q_doc_quality,
    "geo_training_features": q_geo_training_features,
    "s2_colocation_join": q_colocation_join,
    "s2_od_matrix": q_od_matrix,
    "s2_covering_set_ops": q_covering_set_ops,
    "s2_segment_distance": q_segment_distance,
    "s2_snap_join": q_snap_join,
    "s2_voronoi_assign": q_voronoi_assign,
    "s2_step_midpoint": q_step_midpoint,
    "s2_speed_filter": q_speed_filter,
    "s2_waypoints": q_waypoints,
    "s2_traj_simplify": q_traj_simplify,
    "s2_traj_jaccard": q_traj_jaccard,
    "s2_line_crossings": q_line_crossings,
    "s2_crossing_points": q_crossing_points,
    "s2_self_intersect": q_self_intersect,
    "s2_stay_points": q_stay_points,
    "s2_tile_churn": q_tile_churn,
    "s2_hotspot": q_hotspot,
}
