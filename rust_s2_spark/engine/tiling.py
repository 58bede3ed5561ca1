"""Tile assignment: leaf CellID encode + hierarchy, all as Spark Column math.

The leaf encode is pure Column math (trig, face/uv/st projection, then the
8-round 4-bit Hilbert walk, cellid.rs:135-154), so no row is sent to Python
to be tiled; the Arrow stages here run over grid-bounded tile tables only
(``with_face_ij``'s grid-coordinate decode, ``focal_counts``' neighbour
explode). Everything downstream — parent truncation, range endpoints,
level, validity — is Spark SQL bit arithmetic
(cellid.rs:265-268, 442-449 semantics), so Catalyst codegens it and can
partition/prune on tile columns with no Python round-trip.

u64<->i64 discipline: CellIDs are stored as two's-complement LongType. Bitwise
ops and +/- are bit-identical to u64. Range predicates (range_min <= leaf <=
range_max) stay correct under signed comparison because a cell's leaf range
never crosses the sign bit (the sign bit is the top face bit: faces 4-5 are
negative, faces 0-3 positive; a range is always within one face).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernel import hilbert
from ..kernel.constants import MAX_LEVEL, NUM_FACES, POS_BITS

__all__ = [
    "cellid_to_token_udf",
    "with_leaf_cellid",
    "parent_col",
    "parent_var_col",
    "level_col",
    "range_min_col",
    "range_max_col",
    "is_valid_col",
    "face_col",
    "xyz_cols",
    "tile_face_ij",
    "with_face_ij",
]


# Canonical 4-bit Hilbert LOOKUP_POS (1024 entries) packed big-endian
# 2-bytes-per-entry into ONE BinaryType literal.  Why binary, not array: a
# Literal wrapping ArrayData hashes/compares ALL elements every time an
# optimizer rule canonicalizes the plan (measured ~100 s of planning when a
# filter inlined the encode), while an Array[Byte] literal hash is the JVM
# identity hash, O(1).  Lookup = substring (byte slice) + hex + conv.
# Why 4-bit (8 rounds) over 6-bit (5 rounds): the literal appears once per
# round in the plan, and planning cost tracks total literal bytes — 8 x 2 KB
# plans in ~1.3 s where 5 x 32 KB cost ~4.5 s per query; the nondeterministic
# output barrier below keeps the round count out of any rewrite blow-up.
_LOOKUP_POS_BYTES = bytes(
    b for v in hilbert.LOOKUP_POS for b in int(v).to_bytes(2, "big")
)


@functools.cache
def cellid_to_token_udf():
    """CellID i64 -> canonical hex token (debug/interchange, not hot path).
    Built on first use (decorating at import time needs an active
    SparkSession to parse the return type), once per process."""
    from ..kernel.hierarchy import to_token

    @pandas_udf("string")
    def _token(cid: pd.Series) -> pd.Series:
        return cid.map(lambda v: to_token(np.int64(v).view(np.uint64)))

    return _token


def xyz_cols(lat: Column | str, lng: Column | str) -> tuple[Column, Column, Column]:
    """(lat, lng) degrees -> unit-vector (x, y, z) Columns.  The op order
    (cos·cos, cos·sin, sin of the radians) is the one the oracle SQL
    mirrors, so every engine-side lat/lng -> xyz goes through here."""
    la, ln = F.radians(lat), F.radians(lng)
    return F.cos(la) * F.cos(ln), F.cos(la) * F.sin(ln), F.sin(la)


def with_leaf_cellid(
    df: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    out: str = "cell_id",
) -> DataFrame:
    """(lat_deg, lng_deg) -> leaf CellID column, PURE Spark Column math.

    Zero Python in the hot path: trig + face/uv/st projection as JVM math,
    then the canonical 8-round 4-bit Hilbert walk (cellid.rs:135-154).

    Plan-shape discipline — the part that makes this viable in Catalyst:

    * intermediates (x/y/z, face, u/v, i/j) are STAGED projections so the
      CASE trees reference attributes, not nested copies (a fully inlined
      single Column measured a 6.5 MB expression tree: face is referenced
      5x per uv branch and i/j 3x per walk round, which compounds);
    * the 1024-entry LOOKUP_POS is ONE BinaryType literal (2 bytes/entry,
      byte-slice + hex + conv lookup).  Array literals hash all elements on
      every optimizer canonicalization; a byte[] literal hashes O(1), and
      keeping it small (2 KB, not a 6-bit 32 KB table) keeps per-query
      planning at ~1.3 s instead of ~4.5 s;
    * the final column carries a value-preserving nondeterministic marker
      (+ 0 * rand()): CollapseProject and predicate pushdown then treat the
      encode as a barrier, so downstream filters/derivations reference the
      attribute instead of re-inlining the whole encode (measured: a filter
      directly on an inlined encode took ~100 s of rewrite + interpreted
      fallback).  The value is exactly deterministic, so re-execution is
      safe; unused-column pruning still removes the encode entirely.
    """
    P = "__s2_"  # temp-column prefix, dropped at the end
    xyz = dict(zip((P + "x", P + "y", P + "z"), xyz_cols(lat_col, lng_col)))
    return _leaf_walk(df.withColumns(xyz), out)


def with_leaf_cellid_xyz(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
    out: str = "cell_id",
) -> DataFrame:
    """Unit-xyz columns -> leaf CellID, same pure-Column walk as
    with_leaf_cellid but entered at the xyz stage — for DERIVED points
    (step midpoints, interpolations) that never had a lat/lng row."""
    P = "__s2_"
    df = df.withColumns(
        {P + "x": F.col(x_col), P + "y": F.col(y_col), P + "z": F.col(z_col)}
    )
    return _leaf_walk(df, out)


def _leaf_walk(df: DataFrame, out: str) -> DataFrame:
    """Shared tail of the pure-Column encode: (__s2_x, __s2_y, __s2_z) ->
    face/uv/st/ij -> 8-round Hilbert walk -> ``out`` cellid column; drops
    every __s2_ staging column."""
    P = "__s2_"
    x, y, z = F.col(P + "x"), F.col(P + "y"), F.col(P + "z")
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    f0 = F.when(ax > ay, F.when(ax > az, 0).otherwise(2)).otherwise(
        F.when(ay > az, 1).otherwise(2)
    )
    axis_val = F.when(f0 == 0, x).when(f0 == 1, y).otherwise(z)
    df = df.withColumn(P + "face", F.when(axis_val < 0, f0 + 3).otherwise(f0).cast("long"))
    face = F.col(P + "face")
    df = df.withColumns(
        {
            P
            + "u": F.when(face == 0, y / x)
            .when(face == 1, -x / y)
            .when(face == 2, -x / z)
            .when(face == 3, z / x)
            .when(face == 4, z / y)
            .otherwise(-y / z),
            P
            + "v": F.when(face == 0, z / x)
            .when(face == 1, z / y)
            .when(face == 2, -y / z)
            .when(face == 3, y / x)
            .when(face == 4, -x / y)
            .otherwise(-x / z),
        }
    )
    u, v = F.col(P + "u"), F.col(P + "v")
    max_size = 1 << MAX_LEVEL

    def _st_to_ij(w: Column) -> Column:
        st = F.when(w >= 0, 0.5 * F.sqrt(1.0 + 3.0 * w)).otherwise(
            1.0 - 0.5 * F.sqrt(1.0 - 3.0 * w)
        )
        return F.least(
            F.greatest(F.floor(F.lit(float(max_size)) * st).cast("long"), F.lit(0)),
            F.lit(max_size - 1),
        )

    df = df.withColumns({P + "i": _st_to_ij(u), P + "j": _st_to_ij(v)})
    i, j = F.col(P + "i"), F.col(P + "j")
    # 8-round Hilbert walk inline over attribute inputs: reference growth is
    # linear (each round's lookup feeds the cell nibble + next orientation).
    lut = F.lit(bytearray(_LOOKUP_POS_BYTES))
    n = F.shiftleft(face, POS_BITS - 1)
    bits = face.bitwiseAND(F.lit(1))  # face & SWAP_MASK
    for k in range(7, -1, -1):
        idx = (
            bits
            + F.shiftleft(F.shiftright(i, k * 4).bitwiseAND(F.lit(15)), 6)
            + F.shiftleft(F.shiftright(j, k * 4).bitwiseAND(F.lit(15)), 2)
        )
        lk = F.conv(F.hex(F.substring(lut, (idx * 2 + 1).cast("int"), 2)), 16, 10).cast(
            "long"
        )
        n = n.bitwiseOR(F.shiftleft(F.shiftright(lk, 2), k * 8))
        bits = lk.bitwiseAND(F.lit(3))  # SWAP_MASK | INVERT_MASK
    cell = F.shiftleft(n, 1).bitwiseOR(F.lit(1))
    barrier = (F.rand(0) * 0).cast("long")  # value-preserving pushdown barrier
    df = df.withColumn(out, cell + barrier)
    return df.drop(*[c for c in df.columns if c.startswith(P)])


def _lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def parent_col(cell: Column | str, level: int) -> Column:
    """Ancestor cell at ``level`` — pure bit expression (cellid.rs:265-268)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    lsb = _lsb_for_level(level)
    return (cell.bitwiseAND(F.lit(~(lsb - 1)))).bitwiseOR(F.lit(lsb))


def _lsb_col(cell: Column) -> Column:
    return cell.bitwiseAND(-cell)


def parent_var_col(cell: Column | str, level: Column) -> Column:
    """Ancestor at a per-row level column — still pure bit math.

    lsb = 1 << 2*(30-level); parent = (id & -lsb) | lsb  (cellid.rs:265-268).
    """
    cell = F.col(cell) if isinstance(cell, str) else cell
    lsb = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.lit(2) * (F.lit(MAX_LEVEL) - level)).cast("int")
    )
    return cell.bitwiseAND(-lsb).bitwiseOR(lsb)


def range_min_col(cell: Column | str) -> Column:
    """First leaf covered by the cell (cellid.rs:442-444)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    return cell - (_lsb_col(cell) - F.lit(1))


def range_max_col(cell: Column | str) -> Column:
    """Last leaf covered by the cell (cellid.rs:446-449)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    return cell + (_lsb_col(cell) - F.lit(1))


def level_col(cell: Column | str) -> Column:
    """Cell level from trailing zeros: 30 - popcount(lsb-1)/2 (cellid.rs:245-247)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    return (F.lit(MAX_LEVEL) - (F.bit_count(_lsb_col(cell) - F.lit(1)) / F.lit(2))).cast("int")


def face_col(cell: Column | str) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftrightunsigned(cell, POS_BITS)


def is_valid_col(cell: Column | str) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    face_ok = F.shiftrightunsigned(cell, POS_BITS) < F.lit(NUM_FACES)
    lsb_ok = _lsb_col(cell).bitwiseAND(F.lit(0x1555555555555555)) != F.lit(0)
    return face_ok & lsb_ok


def tile_face_ij(
    tiles: np.ndarray, level: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 level-``level`` CellIDs -> int64 grid coordinates (face, ti,
    tj): the cell's face and its leaf (i, j) shifted down to level units
    (cellid.rs:303-331)."""
    face, i, j, _ = hilbert.cellid_to_face_ij_orientation(tiles.view(np.uint64))
    sh = MAX_LEVEL - level
    return face.astype(np.int64), (i >> sh).astype(np.int64), (j >> sh).astype(np.int64)


def with_face_ij(df: DataFrame, level: int) -> DataFrame:
    """Append the grid coordinates (face, ti, tj) of the level-``level``
    ``tile`` column, passing every other column through unchanged.

    One Arrow stage (there is no Column inverse Hilbert walk), so it is
    meant for grid-bounded tables (<= 6*4^level rows).  Every column is
    bigint in and out: the result-hash compare against the oracle wants
    type-identical columns on both engines."""
    other = [c for c, t in df.dtypes if t != "bigint"]
    if other:
        raise TypeError(f"with_face_ij passes bigint columns only, got {other}")

    def decode(batches):
        for pdf in batches:
            pdf["face"], pdf["ti"], pdf["tj"] = tile_face_ij(
                pdf["tile"].to_numpy(np.int64), level
            )
            yield pdf

    schema = ", ".join(f"`{c}` long" for c in [*df.columns, "face", "ti", "tj"])
    return df.mapInPandas(decode, schema=schema)


def focal_counts(counts: DataFrame, tile_col: str = "tile", n_col: str = "n") -> DataFrame:
    """Rook focal sum over a per-tile count table: for every tile present,
    ``focal_n = n(tile) + sum(n over its 4 FACE_WRAP edge neighbors)`` —
    the sphere's analog of a 3x3 convolution (cellid.rs:336-347 adjacency).

    Input: one row per occupied same-level cell, keyed by ``tile_col`` and
    counted in ``n_col``; output: the input renamed to (tile, n), every
    other input column carried through, plus focal_n.  The
    contribution explode (each tile sends its count to itself + 4
    neighbors) is a narrow Arrow stage over the GRID-BOUNDED count table
    (<= 6*4^L rows at any corpus size), so the focal groupBy and the final
    equi-join shuffle only grid-bounded data."""
    from ..kernel import hierarchy

    counts = counts.withColumnsRenamed({tile_col: "tile", n_col: "n"})

    def contrib(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["tile"].to_numpy(np.int64)
            n = pdf["n"].to_numpy(np.int64)
            nbrs = np.asarray(
                hierarchy.edge_neighbors(t.view(np.uint64))
            ).view(np.int64)
            yield pd.DataFrame(
                {
                    "target": np.concatenate([t, nbrs.reshape(-1)]),
                    "c": np.concatenate([n, np.repeat(n, 4)]),
                }
            )

    focal = (
        counts.select("tile", "n")
        .mapInPandas(contrib, schema="target long, c long")
        .groupBy("target")
        .agg(F.sum("c").alias("focal_n"))
    )
    return counts.join(focal, counts["tile"] == focal["target"]).drop("target")
