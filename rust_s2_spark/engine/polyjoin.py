"""Polygon spatial join: loop coverings + broadcast vectorized PIP refine.

The cluster-scale shape of Loop::contains_point (loop.rs:408-445): the
reference prunes candidate points with a per-loop ShapeIndex; here the pruning
is the covering join itself (docs shuffled/bucketed by cell, loop coverings
exploded), and the exact refine is the origin-anchored crossing-number kernel
(kernel/pip.py Loop.contains_points) run vectorized over Arrow batches with
the loop vertex arrays broadcast to executors.

Scale notes:
- Loop vertex arrays are broadcast once per job (regions are few and small);
  Loop objects are rebuilt lazily per executor process and memoized, so the
  origin_inside/bound precompute (loop.rs:273-378) runs once per executor,
  not per batch.
- The coarse stage is the same per-level equi-join as cap/rect joins — a
  broadcast hash join on a bit-op parent column, no BNLJ.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernel import hierarchy as h
from ..kernel.covering import RegionCoverer
from ..kernel.pip import Loop
from .join import covering_join
from .memo import memo

__all__ = ["loop_regions", "loop_join"]

_COVER_SCHEMA = (
    "region_id string, cover_cell long, cover_level int, range_min long, range_max long"
)


def loop_regions(
    spark: SparkSession,
    polygons: list[tuple[str, list[tuple[float, float, float]]]],
    coverer: RegionCoverer | None = None,
) -> tuple[dict[str, np.ndarray], DataFrame]:
    """polygons: (region_id, [(x,y,z) unit vertices CCW]).

    Returns (vertex map for broadcast, exploded covering DataFrame).
    """
    coverer = coverer or RegionCoverer(max_cells=12)
    verts: dict[str, np.ndarray] = {}
    cov_rows = []
    for rid, ring in polygons:
        v = np.asarray(ring, dtype=np.float64)
        verts[rid] = v
        loop = Loop(v)
        for cid in coverer.covering(loop).ids:
            u = np.uint64(cid)
            cov_rows.append(
                (
                    rid,
                    int(np.int64(u)),
                    int(h.level(u)),
                    int(np.int64(h.range_min(u))),
                    int(np.int64(h.range_max(u))),
                )
            )
    return verts, spark.createDataFrame(cov_rows, _COVER_SCHEMA)


# Per-executor memo of constructed Loop objects (origin_inside/bound prep).
_LOOP_CACHE: dict[tuple, dict[str, Loop]] = {}


def broadcast_memo_key(spark: SparkSession, bc) -> tuple:
    """Executor-memo key for a broadcast: (applicationId, JVM broadcast id).

    NOT id(bc): Python id() values are recycled after GC while executor
    processes outlive individual queries, so a later broadcast allocated at a
    reused address would silently hit a stale memo entry (same bug class as
    the tiled-table memo fixed by keying on applicationId).  The JVM broadcast
    id is a monotonically increasing counter unique within a SparkContext; the
    applicationId guards against worker reuse across contexts.
    """
    return (spark.sparkContext.applicationId, bc._jbroadcast.id())


def session_broadcast(spark: SparkSession, tag: tuple | str, make):
    """ONE broadcast per (SparkContext, tag), built lazily via ``make()``
    and held in the session memo until its clear.

    Re-invoking a query used to re-pickle + re-ship its broadcast payload
    and — because the executor memos key on the broadcast id — rebuild the
    executor-side objects (Loop edge indexes, Polygon nesting) on every
    warm run.  Deterministic payloads (spec polygons, per-dataset
    centroids) get a stable tag instead, so warm runs reuse both the
    shipped blocks and the executor memos.  The tag must fully identify
    the payload: include the sf_dir for data-derived payloads, which are
    rebuilt from the (possibly rewritten) source after a clear.
    """
    return memo(spark, None, ("broadcast", tag), lambda: spark.sparkContext.broadcast(make()))


def _pip_refine_udf(spark: SparkSession, verts: dict[str, np.ndarray], tag: str | None = None):
    if tag is not None:
        bc = session_broadcast(
            spark, ("pip_refine", tag), lambda: {k: v.copy() for k, v in verts.items()}
        )
    else:
        bc = spark.sparkContext.broadcast({k: v.copy() for k, v in verts.items()})
    key = broadcast_memo_key(spark, bc)

    @pandas_udf("boolean")
    def _refine(region_id: pd.Series, lat: pd.Series, lng: pd.Series) -> pd.Series:
        cache = _LOOP_CACHE.setdefault(key, {})
        la = np.radians(lat.to_numpy(np.float64))
        ln = np.radians(lng.to_numpy(np.float64))
        cl = np.cos(la)
        px, py, pz = cl * np.cos(ln), cl * np.sin(ln), np.sin(la)
        out = np.zeros(len(lat), dtype=bool)
        rids = region_id.to_numpy()
        for rid in pd.unique(rids):
            if rid not in cache:
                cache[rid] = Loop(bc.value[rid])
            m = rids == rid
            out[m] = cache[rid].contains_points(px[m], py[m], pz[m])
        return pd.Series(out)

    return _refine


def loop_join(
    spark: SparkSession,
    docs_tiled: DataFrame,
    verts: dict[str, np.ndarray],
    coverings: DataFrame,
    cell_col: str = "cell_id",
    broadcast_regions: bool = True,
    salt: int | None = None,
    id_col: str = "doc_id",
    levels: list[int] | None = None,
) -> DataFrame:
    """Exact polygon-containment join: covering prefilter + crossing-number PIP."""
    coarse = covering_join(
        docs_tiled, coverings, cell_col, broadcast_regions, salt, id_col=id_col, levels=levels
    )
    refined = coarse.where(
        _pip_refine_udf(spark, verts)(F.col("region_id"), F.col("lat"), F.col("lng"))
    )
    keep = [c for c in docs_tiled.columns] + ["region_id"]
    return refined.select(*keep)


# Per-executor memo for nested Polygon objects.
_POLY_CACHE: dict[tuple, object] = {}


def nested_polygon_refine_udf(
    spark: SparkSession, rings: list[np.ndarray], tag: str | None = None
):
    """Vectorized parity PIP over a nested loop hierarchy: the Polygon is
    rebuilt once per executor from broadcast ring arrays (depths inferred
    via contains_nested, polygon.rs:218-346), then contains_points runs the
    crossing-number kernel per loop and XORs parities per Arrow batch."""
    if tag is not None:
        bc = session_broadcast(
            spark, ("nested_refine", tag), lambda: [r.copy() for r in rings]
        )
    else:
        bc = spark.sparkContext.broadcast([r.copy() for r in rings])
    key = broadcast_memo_key(spark, bc)

    @pandas_udf("boolean")
    def _refine(lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernel.pip import Polygon

        poly = _POLY_CACHE.get(key)
        if poly is None:
            poly = Polygon.from_loops([Loop(v) for v in bc.value])
            _POLY_CACHE[key] = poly
        la = np.radians(lat.to_numpy(np.float64))
        ln = np.radians(lng.to_numpy(np.float64))
        cl = np.cos(la)
        return pd.Series(
            poly.contains_points(cl * np.cos(ln), cl * np.sin(ln), np.sin(la))
        )

    return _refine


def mixed_region_refine_udf(
    spark: SparkSession,
    verts: dict[str, np.ndarray],
    polys: dict[str, list[np.ndarray]],
    tag: str,
):
    """Region-dispatched exact PIP over a MIXED region table: single loops
    (crossing-number, loop.rs:279-297) and multi-ring polygons (parity XOR,
    polygon.rs:218-346) verified in ONE Arrow stage — the fused refine for
    queries that union loop regions with nested polygons (one covering join
    + one python stage instead of two of each)."""
    bc = session_broadcast(
        spark,
        ("mixed_refine", tag),
        lambda: (
            {k: v.copy() for k, v in verts.items()},
            {k: [r.copy() for r in rings] for k, rings in polys.items()},
        ),
    )
    key = broadcast_memo_key(spark, bc)

    @pandas_udf("boolean")
    def _refine(region_id: pd.Series, lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernel.pip import Polygon

        cache = _LOOP_CACHE.setdefault(key, {})
        la = np.radians(lat.to_numpy(np.float64))
        ln = np.radians(lng.to_numpy(np.float64))
        cl = np.cos(la)
        px, py, pz = cl * np.cos(ln), cl * np.sin(ln), np.sin(la)
        out = np.zeros(len(lat), dtype=bool)
        rids = region_id.to_numpy()
        loop_verts, poly_rings = bc.value
        for rid in pd.unique(rids):
            if rid not in cache:
                if rid in loop_verts:
                    cache[rid] = Loop(loop_verts[rid])
                else:
                    cache[rid] = Polygon.from_loops(
                        [Loop(v) for v in poly_rings[rid]]
                    )
            m = rids == rid
            out[m] = cache[rid].contains_points(px[m], py[m], pz[m])
        return pd.Series(out)

    return _refine
