"""DuckDB oracle SQL for every oracle-able driver query.

Each oracle is an *independent formulation* of the same semantics:
- the Hilbert cellid encode is re-derived as a recursive CTE over the
  4x4 base orientation tables (2 bits/level x 30 levels), vs the kernel's
  1024-entry 4-bit lookup batching (cellid.rs:135-154 vs 916-994);
- hierarchy ops are recomputed arithmetically from construction parameters,
  vs the engine's pure bit-twiddling on the id;
- spatial joins are brute-force cross products with the exact predicate,
  vs the engine's covering-prefilter + refine plan;
- convex PIP uses edge-sign half-space tests, vs the engine's
  crossing-number parity kernel.

Tables are pre-registered DuckDB views: region nation customer supplier part
orders lineitem events documents embeddings.
"""

from __future__ import annotations

from ..kernel.hilbert import IJ_TO_POS
from . import specs
from .queries import polygon_edge_crosses

POW61 = 2305843009213693952  # 2^61
POW63 = "9223372036854775808::HUGEINT"
POW64 = "18446744073709551616::HUGEINT"


# ---------------------------------------------------------------------------
# Shared fragments
# ---------------------------------------------------------------------------


def _latlng_cte(table: str = "events", id_col: str = "event_id") -> str:
    lat, lng = specs.latlng_sql(id_col)
    return f"SELECT {id_col}, {lat} AS lat, {lng} AS lng FROM {table}"


_XYZ = (
    "SELECT {id}, cos(radians(lat)) * cos(radians(lng)) AS x, "
    "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM {src}"
)


def _fij_ctes(id_col: str, prefix: str = "", xyz_src: str | None = None) -> str:
    """CTE chain: pts(id, lat, lng) -> ij(id, face, i, j) leaf coordinates.

    latlng -> xyz -> (face,u,v) -> (s,t) -> (i,j): the non-recursive prefix
    of the Hilbert encode — everything a grid-coordinate query (tile masks,
    adjacency) needs, without paying for the 30-step curve walk.

    ``prefix`` renames every CTE (pts -> {prefix}pts etc.) so two chains
    over different tables can compose in one WITH block.

    ``xyz_src`` (optional) replaces the latlng->xyz trig step with an
    arbitrary SELECT yielding ({id_col}, x, y, z) unit vectors — the entry
    point for encodes of DERIVED points (step midpoints, interpolations)
    rather than raw event latlngs.
    """
    p = prefix
    xyz = xyz_src if xyz_src is not None else _XYZ.format(id=id_col, src=f"{p}pts")
    return f"""
{p}xyz AS ({xyz}),
{p}fsel AS (
  SELECT {id_col}, x, y, z,
    CASE WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
         ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END) END AS f0
  FROM {p}xyz
),
{p}fc AS (
  SELECT {id_col}, x, y, z,
    CASE WHEN (CASE f0 WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0 THEN f0 + 3 ELSE f0 END AS face
  FROM {p}fsel
),
{p}fuv AS (
  SELECT {id_col}, face,
    CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
              WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
  FROM {p}fc
),
{p}stq AS (
  SELECT {id_col}, face,
    CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u) ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END AS s,
    CASE WHEN v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * v) ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END AS t
  FROM {p}fuv
),
{p}ij AS (
  SELECT {id_col}, face,
    least(greatest(CAST(floor(1073741824.0 * s) AS BIGINT), 0), 1073741823) AS i,
    least(greatest(CAST(floor(1073741824.0 * t) AS BIGINT), 0), 1073741823) AS j
  FROM {p}stq
)
"""


def _hilbert_ctes(id_col: str, prefix: str = "", xyz_src: str | None = None) -> str:
    """CTE chain: pts(id, lat, lng) -> leaf(id, face, pos, cell_id).

    The _fij_ctes prefix plus the 30-step recursive Hilbert walk.
    ``prefix`` / ``xyz_src`` pass through to _fij_ctes (same contract).
    """
    p = prefix
    pk_cases = " ".join(
        f"WHEN {bits * 4 + ij} THEN {int(IJ_TO_POS[bits][ij])}"
        for bits in range(4)
        for ij in range(4)
    )
    pk_case = f"CASE (bits * 4 + ij2) {pk_cases} END"
    new_bits = "CASE pk WHEN 0 THEN xor(bits, 1) WHEN 3 THEN xor(bits, 3) ELSE bits END"
    return f"""
{_fij_ctes(id_col, prefix, xyz_src).strip()},
{p}steps({id_col}, face, i, j, k, bits, pos) AS (
  SELECT {id_col}, face, i, j, 29, face % 2, CAST(0 AS BIGINT) FROM {p}ij
  UNION ALL
  SELECT {id_col}, face, i, j, k - 1, {new_bits}, pos * 4 + pk
  FROM (
    SELECT {id_col}, face, i, j, k, bits, pos, {pk_case} AS pk
    FROM (
      SELECT *, (((i >> k) & 1) * 2 + ((j >> k) & 1)) AS ij2 FROM {p}steps WHERE k >= 0
    ) t1
  ) t2
),
{p}leaf AS (
  SELECT {id_col}, face, pos,
    CAST(CASE WHEN hu >= {POW63} THEN hu - {POW64} ELSE hu END AS BIGINT) AS cell_id
  FROM (
    SELECT {id_col}, face, pos,
      CAST(face AS HUGEINT) * {POW61}::HUGEINT + CAST(pos AS HUGEINT) * 2 + 1 AS hu
    FROM {p}steps WHERE k = -1
  ) t3
)
"""


def _parent_from_pos(level: int, face: str = "face", pos: str = "pos") -> str:
    """Signed cell id of the ancestor at ``level`` from (face, leaf pos)."""
    lsb = 1 << (2 * (30 - level))
    p61 = f"(CAST({pos} AS BIGINT) * 2 + 1)"
    cellpos = f"({p61} - ({p61} % {2 * lsb}) + {lsb})"
    sface = f"({face} - (CASE WHEN {face} >= 4 THEN 8 ELSE 0 END))"
    return f"({sface} * {POW61} + {cellpos})"


def o_tile_assign() -> str:
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_hilbert_ctes("event_id")}
SELECT event_id, cell_id, {_parent_from_pos(10)} AS cell_l10 FROM leaf
"""


def o_cell_hierarchy() -> str:
    x1 = f"((event_id * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    x2 = f"(({x1} * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    pos60 = f"(({x1} % 1073741824) * 1073741824 + ({x2} % 1073741824))"
    pos61 = f"({pos60} * 2 + 1)"
    lvl = "(event_id % 31)"
    plvl = f"({lvl} // 2)"
    lsbv = f"(1::BIGINT << CAST(2 * (30 - {lvl}) AS INT))"
    plsb = f"(1::BIGINT << CAST(2 * (30 - {plvl}) AS INT))"
    sface = "((event_id % 6) - (CASE WHEN (event_id % 6) >= 4 THEN 8 ELSE 0 END))"
    cellpos = f"({pos61} - ({pos61} % (2 * {lsbv})) + {lsbv})"
    ppos = f"({pos61} - ({pos61} % (2 * {plsb})) + {plsb})"
    return f"""
SELECT event_id,
  ({sface} * {POW61} + {cellpos}) AS cell_id,
  {lvl} AS lvl,
  (event_id % 6) AS face,
  ({lvl} = 30) AS is_leaf,
  ({sface} * {POW61} + {cellpos}) - ({lsbv} - 1) AS rmin,
  ({sface} * {POW61} + {cellpos}) + ({lsbv} - 1) AS rmax,
  ({sface} * {POW61} + {ppos}) AS parent_id,
  rtrim(printf('%016x', {sface} * {POW61} + {cellpos}), '0') AS token
FROM events
"""


def o_cap_join() -> str:
    vals = ", ".join(
        f"('{rid}', {specs.f(cx)}, {specs.f(cy)}, {specs.f(cz)}, {specs.f(r2)})"
        for rid, cx, cy, cz, r2 in specs.cap_rows()
    )
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
caps(region_id, cx, cy, cz, r2) AS (VALUES {vals})
SELECT c.region_id, p.event_id
FROM p, caps c
WHERE (x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz) <= r2
"""


def o_rect_join() -> str:
    vals = ", ".join(
        f"('{rid}', {specs.f(a)}, {specs.f(b)}, {specs.f(c)}, {specs.f(d)})"
        for rid, a, b, c, d in specs.RECTS
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
rects(region_id, lat_lo, lng_lo, lat_hi, lng_hi) AS (VALUES {vals})
SELECT r.region_id, p.event_id
FROM pts p, rects r
WHERE p.lat >= r.lat_lo AND p.lat <= r.lat_hi
  AND (CASE WHEN r.lng_lo <= r.lng_hi
            THEN p.lng >= r.lng_lo AND p.lng <= r.lng_hi
            ELSE p.lng >= r.lng_lo OR p.lng <= r.lng_hi END)
"""


def o_pip_join() -> str:
    xyz = _XYZ.format(id="event_id", src="pts")
    branches = []
    for rid, crosses in polygon_edge_crosses().items():
        dets = [
            f"({specs.f(cx)} * x + {specs.f(cy)} * y + {specs.f(cz)} * z)"
            for cx, cy, cz in crosses
        ]
        inside = " AND ".join(f"{d} > 0" for d in dets)
        margin = " AND ".join(f"abs({d}) > {specs.f(specs.PIP_MARGIN)}" for d in dets)
        branches.append(
            f"SELECT '{rid}' AS region_id, event_id FROM p WHERE ({inside}) AND ({margin})"
        )
    body = "\nUNION ALL\n".join(branches)
    return f"WITH pts AS ({_latlng_cte()}),\np AS ({xyz})\n{body}"


def o_knn() -> str:
    import math

    rows = []
    for qid, lat, lng in specs.KNN_QUERIES:
        la, ln = math.radians(lat), math.radians(lng)
        rows.append(
            f"('{qid}', {specs.f(math.cos(la) * math.cos(ln))}, "
            f"{specs.f(math.cos(la) * math.sin(ln))}, {specs.f(math.sin(la))})"
        )
    vals = ", ".join(rows)
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
q(query_id, qx, qy, qz) AS (VALUES {vals}),
d AS (
  SELECT query_id, event_id,
    (x - qx) * (x - qx) + (y - qy) * (y - qy) + (z - qz) * (z - qz) AS d2
  FROM p, q
)
SELECT query_id, event_id, rank, round(d2, 6) AS d2_r
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, event_id ASC) AS rank FROM d) t
WHERE rank <= {specs.KNN_K}
"""


def o_distance_join() -> str:
    """Brute-force all-pairs under a lat-band prefilter (|Δlat| can never
    exceed the angular separation, so the band is a pure pruning step).
    chord2 mirrors the Spark refine's operation order term for term; the
    emitted value is rounded to 7 dp because JVM and DuckDB libm trig differ
    by 1-4 ulp (chord2 noise <= ~2e-17 — harmless to MEMBERSHIP, whose
    nearest-pair margin is >= 2.4e-10, but fatal to a raw-double hash)."""
    import math

    radius = specs.DISTANCE_JOIN_RADIUS
    chord = 2.0 * math.sin(radius / 2.0)
    r2 = chord * chord
    band_deg = math.degrees(radius) * 1.0000001  # conservative upper bound
    xyz = (
        "SELECT event_id, lat, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz})
SELECT a.event_id AS event_a, b.event_id AS event_b,
  round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z), 7) AS chord2_r
FROM p a JOIN p b
  ON a.event_id < b.event_id
 AND b.lat BETWEEN a.lat - {specs.f(band_deg)} AND a.lat + {specs.f(band_deg)}
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z) <= {specs.f(r2)}
"""


def o_spatial_cluster() -> str:
    """Connected components of the epsilon graph as recursive-CTE
    reachability: seed every edge endpoint with its own id, propagate along
    symmetrized edges to a fixpoint (UNION dedup terminates it), then take
    min(label) per node — the component's minimum id, exactly the Spark
    side's hash-min fixpoint.  Row count per component is size^2, fine at
    gate scale (sf0.01 largest component: 61 nodes).  The pair CTEs are
    MATERIALIZED: DuckDB otherwise re-evaluates the brute-force distance
    join on every recursive iteration (measured 52 s -> 1.2 s)."""
    import math

    radius = specs.DISTANCE_JOIN_RADIUS
    chord = 2.0 * math.sin(radius / 2.0)
    r2 = chord * chord
    band_deg = math.degrees(radius) * 1.0000001
    xyz = (
        "SELECT event_id, lat, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
p AS ({xyz}),
halfpairs AS MATERIALIZED (
  SELECT a.event_id AS ea, b.event_id AS eb
  FROM p a JOIN p b
    ON a.event_id < b.event_id
   AND b.lat BETWEEN a.lat - {specs.f(band_deg)} AND a.lat + {specs.f(band_deg)}
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z) <= {specs.f(r2)}
),
pairs AS MATERIALIZED (SELECT ea, eb FROM halfpairs UNION ALL SELECT eb, ea FROM halfpairs),
nodes AS (SELECT DISTINCT ea AS node FROM pairs),
walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT pr.eb, w.label FROM walk w JOIN pairs pr ON pr.ea = w.node
),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT cc.node AS event_id, cc.cluster_id, sizes.cluster_size
FROM cc JOIN sizes USING (cluster_id)
"""


def _dbscan_ctes() -> str:
    """Shared DBSCAN CTE prefix (through cc + border), used by o_dbscan and
    o_cluster_stats: degree -> core (|N_eps| incl. self >= minPts) ->
    recursive-CTE reachability over CORE-CORE edges only (density-
    reachability restricted to cores is symmetric, so min reachable core id
    per core = the Spark side's component minimum; a singleton core seeds
    itself) -> border = non-core with a core neighbor, taking the MIN
    cluster over its core neighbors.  Pair CTEs MATERIALIZED for the same
    reason as o_spatial_cluster (DuckDB re-evaluates non-materialized CTEs
    per recursive iteration)."""
    import math

    radius = specs.DISTANCE_JOIN_RADIUS
    chord = 2.0 * math.sin(radius / 2.0)
    r2 = chord * chord
    band_deg = math.degrees(radius) * 1.0000001
    xyz = (
        "SELECT event_id, lat, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
p AS ({xyz}),
halfpairs AS MATERIALIZED (
  SELECT a.event_id AS ea, b.event_id AS eb
  FROM p a JOIN p b
    ON a.event_id < b.event_id
   AND b.lat BETWEEN a.lat - {specs.f(band_deg)} AND a.lat + {specs.f(band_deg)}
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z) <= {specs.f(r2)}
),
pairs AS MATERIALIZED (SELECT ea, eb FROM halfpairs UNION ALL SELECT eb, ea FROM halfpairs),
deg AS (SELECT ea AS node, count(*) AS nnb FROM pairs GROUP BY ea),
core AS MATERIALIZED (SELECT node FROM deg WHERE nnb + 1 >= {specs.DBSCAN_MINPTS}),
core_pairs AS MATERIALIZED (
  SELECT pr.ea, pr.eb FROM pairs pr
  JOIN core c1 ON pr.ea = c1.node JOIN core c2 ON pr.eb = c2.node
),
walk(node, label) AS (
  SELECT node, node FROM core
  UNION
  SELECT pr.eb, w.label FROM walk w JOIN core_pairs pr ON pr.ea = w.node
),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
border AS (
  SELECT pr.ea AS node, min(cc.cluster_id) AS cluster_id
  FROM pairs pr JOIN cc ON pr.eb = cc.node
  WHERE pr.ea NOT IN (SELECT node FROM core)
  GROUP BY pr.ea
)
"""


def o_dbscan() -> str:
    """Full DBSCAN replayed relationally over the shared CTE prefix; every
    event not labeled core/border is noise with cluster -1."""
    return f"""
{_dbscan_ctes().strip()}
SELECT e.event_id,
  CASE WHEN cc.node IS NOT NULL THEN 'core'
       WHEN b.node IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  coalesce(cc.cluster_id, b.cluster_id, CAST(-1 AS BIGINT)) AS cluster_id
FROM events e
LEFT JOIN cc ON cc.node = e.event_id
LEFT JOIN border b ON b.node = e.event_id
"""


def o_cluster_stats() -> str:
    """Per-cluster summaries over the DBSCAN labeling: member/core counts,
    min event_id, and the lat/lng bbox — min/max over the derived DEGREES
    (pure LCG arithmetic, no trig), so every output value is
    order-independent-exact and needs no rounding."""
    return f"""
{_dbscan_ctes().strip()},
members AS (
  SELECT node AS event_id, cluster_id, 1 AS is_core FROM cc
  UNION ALL
  SELECT node, cluster_id, 0 FROM border
)
SELECT m.cluster_id,
  count(*) AS n_points,
  CAST(sum(m.is_core) AS BIGINT) AS n_core,
  min(m.event_id) AS rep_id,
  min(p.lat) AS lat_lo, max(p.lat) AS lat_hi,
  min(p.lng) AS lng_lo, max(p.lng) AS lng_hi
FROM members m JOIN pts p ON p.event_id = m.event_id
GROUP BY m.cluster_id
"""


def o_cell_disk() -> str:
    """kRing disk replayed combinatorially in grid space: level-DISK_LEVEL
    counts via the non-recursive encode prefix -> per-face densest seed
    (ties (ti, tj) ascending, exactly the Spark ordering) -> DISK_K-bounded
    recursive BFS stepping rook directions with the FACE_WRAP CASE tables ->
    min(ring) per reached cell -> left-join counts (0 when unoccupied)."""
    lvl = specs.DISK_LEVEL
    n = 1 << lvl
    shift = 30 - lvl
    in_range = f"ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}"
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
base AS (
  SELECT face, i >> {shift} AS ti, j >> {shift} AS tj, count(*) AS n
  FROM ij GROUP BY 1, 2, 3
),
seeds AS (
  SELECT face AS seed_face, face, ti, tj FROM (
    SELECT *, row_number() OVER (PARTITION BY face ORDER BY n DESC, ti ASC, tj ASC) AS rk
    FROM base
  ) t WHERE rk = 1
),
bfs(seed_face, face, ti, tj, ring) AS (
  SELECT seed_face, face, ti, tj, 0 FROM seeds
  UNION
  SELECT seed_face,
    CASE WHEN {in_range} THEN face ELSE {_wrap_case('f', n)} END,
    CASE WHEN {in_range} THEN ri ELSE {_wrap_case('ti', n)} END,
    CASE WHEN {in_range} THEN rj ELSE {_wrap_case('tj', n)} END,
    ring + 1
  FROM (
    SELECT w.seed_face, w.face, w.ti, w.tj, w.ring, dirs.d,
      w.ti + (CASE dirs.d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END) AS ri,
      w.tj + (CASE dirs.d WHEN 2 THEN 1 WHEN 0 THEN -1 ELSE 0 END) AS rj
    FROM bfs w, (VALUES (0),(1),(2),(3)) dirs(d)
    WHERE w.ring < {specs.DISK_K}
  ) s
),
disk AS (
  SELECT seed_face, face, ti, tj, min(ring) AS ring
  FROM bfs GROUP BY 1, 2, 3, 4
)
SELECT CAST(d.seed_face AS BIGINT) AS seed_face, CAST(d.face AS BIGINT) AS face,
  d.ti, d.tj, CAST(d.ring AS BIGINT) AS ring,
  CAST(coalesce(b.n, 0) AS BIGINT) AS n
FROM disk d
LEFT JOIN base b ON d.face = b.face AND d.ti = b.ti AND d.tj = b.tj
"""


def o_tile_pyramid() -> str:
    """Pyramid rollup replayed: leaf counts via the encode prefix -> one
    grouped explode over the PYRAMID_LEVELS (quadtree ancestor =
    coordinate right-shift) -> left self-join on the level-(l-2) parent for
    the share (bigint/bigint IEEE division, bit-identical across engines;
    level-0 rows have no parent)."""
    lvl = specs.COMPACT_LEVEL
    shift = 30 - lvl
    levels_values = ", ".join(f"({l})" for l in specs.PYRAMID_LEVELS)
    return f"""
WITH pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
base AS (
  SELECT face, i >> {shift} AS ti, j >> {shift} AS tj, count(*) AS n
  FROM ij GROUP BY 1, 2, 3
),
pyr AS (
  SELECT lv.l AS level, face,
    ti >> ({lvl} - lv.l) AS ti_l, tj >> ({lvl} - lv.l) AS tj_l,
    CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_tiles
  FROM base, (VALUES {levels_values}) lv(l)
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(c.level AS BIGINT) AS level, CAST(c.face AS BIGINT) AS face,
  c.ti_l AS ti, c.tj_l AS tj, c.n_events, c.n_tiles,
  CAST(c.n_events AS DOUBLE) / p.n_events AS frac_of_parent
FROM pyr c
LEFT JOIN pyr p
  ON p.level = c.level - 2 AND p.face = c.face
 AND p.ti_l = (c.ti_l >> 2) AND p.tj_l = (c.tj_l >> 2)
"""


def o_focal_density() -> str:
    """Edge-neighbor focal sum replayed combinatorially: events -> leaf
    (face,i,j) via the non-recursive encode prefix -> level-FOCAL_LEVEL
    grid counts -> each tile contributes its count to itself and its 4
    FACE_WRAP edge neighbors (same CASE tables the vectorize oracles use)
    -> sum per target, emitted for occupied tiles only."""
    lvl = specs.FOCAL_LEVEL
    n = 1 << lvl
    shift = 30 - lvl
    in_range = f"ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}"
    return f"""
WITH pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
base AS (
  SELECT face, i >> {shift} AS ti, j >> {shift} AS tj, count(*) AS n
  FROM ij GROUP BY 1, 2, 3
),
nb AS (
  SELECT base.face, base.ti, base.tj, dirs.d, base.n,
    ti + (CASE dirs.d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END) AS ri,
    tj + (CASE dirs.d WHEN 2 THEN 1 WHEN 0 THEN -1 ELSE 0 END) AS rj
  FROM base, (VALUES (0),(1),(2),(3)) dirs(d)
),
nb2 AS (
  SELECT n,
    CASE WHEN {in_range} THEN face ELSE {_wrap_case('f', n)} END AS tf,
    CASE WHEN {in_range} THEN ri ELSE {_wrap_case('ti', n)} END AS tti,
    CASE WHEN {in_range} THEN rj ELSE {_wrap_case('tj', n)} END AS ttj
  FROM nb
),
contrib AS (
  SELECT face AS tf, ti AS tti, tj AS ttj, n FROM base
  UNION ALL
  SELECT tf, tti, ttj, n FROM nb2
),
focal AS (
  SELECT tf, tti, ttj, CAST(sum(n) AS BIGINT) AS focal_n
  FROM contrib GROUP BY 1, 2, 3
)
SELECT CAST(base.face AS BIGINT) AS face, base.ti, base.tj, base.n, focal.focal_n
FROM base JOIN focal
  ON base.face = focal.tf AND base.ti = focal.tti AND base.tj = focal.ttj
"""


def o_geo_sample() -> str:
    """Deterministic per-tile top-K replayed exactly: the recursive-CTE
    Hilbert encode gives each event's FOCAL_LEVEL tile, the shared LCG is
    the order key (tie-broken by event_id), row_number caps at K."""
    lvl = specs.FOCAL_LEVEL
    ordkey = f"((event_id * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_hilbert_ctes("event_id")}
, tiles AS (SELECT event_id, {_parent_from_pos(lvl)} AS tile FROM leaf)
, ranked AS (
  SELECT event_id, tile,
    row_number() OVER (PARTITION BY tile ORDER BY {ordkey} ASC, event_id ASC) AS rk
  FROM tiles
)
SELECT event_id, tile, rk FROM ranked WHERE rk <= {specs.GEO_SAMPLE_K}
"""


def o_trajectory_step() -> str:
    """Per-user consecutive-step chord distances via lag() over the same
    (ts, event_id) order; chord2 term order mirrors the Spark expression,
    rounded to 7 dp (JVM/DuckDB trig differ by ulps)."""
    xyz = (
        "SELECT event_id, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
g AS (
  SELECT e.user_id, e.ts, p.event_id, p.x, p.y, p.z
  FROM events e JOIN p ON e.event_id = p.event_id
),
st AS (
  SELECT user_id, event_id,
    lag(event_id) OVER w AS prev_event,
    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz,
    x, y, z
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, event_id, prev_event,
  round((x - px) * (x - px) + (y - py) * (y - py) + (z - pz) * (z - pz), 7) AS chord2_r
FROM st WHERE prev_event IS NOT NULL
"""


def o_trajectory_stats() -> str:
    """Per-user trajectory rollup.  Per-step chords are rounded to scaled
    BIGINTs before summing (order-independent integer total — the
    s2_vectorize checksum rationale); bbox min/max are exact doubles;
    first/last points come from row_number flags folded into the same
    aggregate, mirroring the Spark plan."""
    xyz = (
        "SELECT event_id, lat, lng, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
g AS (
  SELECT e.user_id, e.ts, p.event_id, p.lat, p.lng, p.x, p.y, p.z
  FROM events e JOIN p ON e.event_id = p.event_id
),
st AS (
  SELECT user_id, lat, lng,
    row_number() OVER w AS rn,
    row_number() OVER w2 AS rn2,
    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz,
    x, y, z
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
         w2 AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
),
sq AS (
  SELECT *, CASE WHEN px IS NOT NULL THEN CAST(round(
    sqrt((x - px) * (x - px) + (y - py) * (y - py) + (z - pz) * (z - pz)) * 1e7,
    0) AS BIGINT) END AS step_q
  FROM st
),
a AS (
  SELECT user_id,
    count(*) AS n_events,
    count(step_q) AS n_steps,
    coalesce(CAST(sum(step_q) AS BIGINT), 0) AS total_chord_e7,
    max(step_q) AS max_step_e7,
    min(lat) AS lat_min, max(lat) AS lat_max,
    min(lng) AS lng_min, max(lng) AS lng_max,
    max(CASE WHEN rn = 1 THEN x END) AS fx,
    max(CASE WHEN rn = 1 THEN y END) AS fy,
    max(CASE WHEN rn = 1 THEN z END) AS fz,
    max(CASE WHEN rn2 = 1 THEN x END) AS lx,
    max(CASE WHEN rn2 = 1 THEN y END) AS ly,
    max(CASE WHEN rn2 = 1 THEN z END) AS lz
  FROM sq GROUP BY user_id
),
d AS (
  SELECT *, CAST(round(sqrt(
    (lx - fx) * (lx - fx) + (ly - fy) * (ly - fy) + (lz - fz) * (lz - fz)
  ) * 1e7, 0) AS BIGINT) AS disp_e7
  FROM a
)
SELECT user_id, n_events, n_steps, total_chord_e7, max_step_e7,
  lat_min, lat_max, lng_min, lng_max, disp_e7,
  CASE WHEN total_chord_e7 > 0 THEN
    round(CAST(disp_e7 AS DOUBLE) / CAST(total_chord_e7 AS DOUBLE), 6)
  END AS straightness_r
FROM d
"""


def o_bearing() -> str:
    """Per-step great-circle bearing + turn.  Bearing op order mirrors the
    Spark expression term for term, rounded to 6 dp; the turn is computed
    FROM THE ROUNDED bearings (both engines subtract/fmod identical
    doubles), then rounded again."""
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS (SELECT event_id, radians(lat) AS p2, radians(lng) AS l2 FROM pts),
g AS (
  SELECT e.user_id, e.ts, p.event_id, p.p2, p.l2
  FROM events e JOIN p ON e.event_id = p.event_id
),
st AS (
  SELECT user_id, event_id, ts,
    lag(event_id) OVER w AS prev_event,
    lag(p2) OVER w AS p1, lag(l2) OVER w AS l1,
    p2, l2
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
b AS (
  SELECT user_id, event_id, ts, prev_event,
    round((degrees(atan2(
      sin(l2 - l1) * cos(p2),
      cos(p1) * sin(p2) - sin(p1) * cos(p2) * cos(l2 - l1)
    )) + 360.0) % 360.0, 6) AS bearing_r
  FROM st WHERE prev_event IS NOT NULL
),
t AS (
  SELECT user_id, event_id, prev_event, bearing_r,
    lag(bearing_r) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS pb
  FROM b
),
u AS (
  SELECT user_id, event_id, prev_event, bearing_r,
    CASE WHEN pb IS NOT NULL THEN
      round(((bearing_r - pb + 540.0) % 360.0) - 180.0, 6)
    END AS turn_r
  FROM t
)
SELECT user_id, event_id, prev_event, bearing_r, turn_r,
  CASE WHEN turn_r IS NULL THEN 'first'
       WHEN turn_r > 15.0 THEN 'right'
       WHEN turn_r < -15.0 THEN 'left'
       ELSE 'straight' END AS turn_class
FROM u
"""


def o_doc_quality() -> str:
    """Gopher-style quality flags: exact integer char math, flags compared
    on the unrounded int/int IEEE divisions (identical in both engines)."""
    nt = "(length(text) - length(replace(text, ' ', '')) + 1)"
    nd = "len(list_distinct(string_split(text, ' ')))"
    nv = f"(length(text) - length(translate(text, '{specs.VOWELS}', '')))"
    sh = "(" + " + ".join(_lang_count_duck(m) for m in specs.QUALITY_STOPWORDS) + ")"
    return f"""
WITH c AS (
  SELECT doc_id,
    CAST({nt} AS BIGINT) AS n_tokens,
    CAST({nd} AS BIGINT) AS n_distinct,
    CAST({sh} AS BIGINT) AS stop_hits,
    CAST({nd} AS DOUBLE) / CAST({nt} AS DOUBLE) AS dr,
    CAST({nv} AS DOUBLE) / CAST(length(text) AS DOUBLE) AS vr
  FROM documents
),
f AS (
  SELECT *,
    (n_tokens >= {specs.QUALITY_LEN_MIN} AND n_tokens <= {specs.QUALITY_LEN_MAX}) AS flag_len,
    (stop_hits >= {specs.QUALITY_STOP_MIN}) AS flag_stop,
    (dr >= {specs.QUALITY_DISTINCT_MIN}) AS flag_rep,
    (vr >= {specs.QUALITY_VOWEL_MIN} AND vr <= {specs.QUALITY_VOWEL_MAX}) AS flag_vowel
  FROM c
)
SELECT doc_id, n_tokens, n_distinct, stop_hits,
  round(dr, 6) AS distinct_ratio_r,
  round(vr, 6) AS vowel_ratio_r,
  flag_len, flag_stop, flag_rep, flag_vowel,
  CAST(CAST(flag_len AS INT) + CAST(flag_stop AS INT) + CAST(flag_rep AS INT)
       + CAST(flag_vowel AS INT) AS DOUBLE) / 4.0 AS quality_score,
  (CAST(CAST(flag_len AS INT) + CAST(flag_stop AS INT) + CAST(flag_rep AS INT)
        + CAST(flag_vowel AS INT) AS DOUBLE) / 4.0 >= 0.75) AS keep
FROM f
"""


def o_colocation_join() -> str:
    """Spatio-temporal co-location replay: the distance-join brute force
    (lat-band prefilter, op-order-exact chord refine) extended with the
    user join and the exact integer microsecond delta."""
    import math

    radius = specs.COLOC_RADIUS
    chord = 2.0 * math.sin(radius / 2.0)
    r2 = chord * chord
    band_deg = math.degrees(radius) * 1.0000001
    xyz = (
        "SELECT event_id, lat, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
pairs AS (
  SELECT a.event_id AS event_a, b.event_id AS event_b,
    round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z), 7) AS chord2_r
  FROM p a JOIN p b
    ON a.event_id < b.event_id
   AND b.lat BETWEEN a.lat - {specs.f(band_deg)} AND a.lat + {specs.f(band_deg)}
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z) <= {specs.f(r2)}
)
SELECT pr.event_a, pr.event_b, ea.user_id AS user_a, eb.user_id AS user_b,
  pr.chord2_r, abs(ea.us - eb.us) AS dt_us
FROM pairs pr
JOIN e ea ON ea.event_id = pr.event_a
JOIN e eb ON eb.event_id = pr.event_b
WHERE ea.user_id <> eb.user_id AND abs(ea.us - eb.us) <= {specs.COLOC_WINDOW_US}
"""


def o_od_matrix() -> str:
    """OD flow replay: recursive Hilbert encode -> OD_LEVEL ancestor per
    event, lag window in (ts, event_id) order, groupBy (origin, dest)."""
    lvl = specs.OD_LEVEL
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_hilbert_ctes("event_id")}
, tiles AS (SELECT event_id, {_parent_from_pos(lvl)} AS tile FROM leaf)
, g AS (
  SELECT e.user_id, e.ts, t.event_id, t.tile
  FROM events e JOIN tiles t ON e.event_id = t.event_id
)
, st AS (
  SELECT user_id, tile AS d_tile,
    lag(tile) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS o_tile
  FROM g
)
SELECT o_tile, d_tile, count(*) AS n_steps,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  (o_tile <> d_tile) AS moved
FROM st WHERE o_tile IS NOT NULL
GROUP BY o_tile, d_tile
"""


def o_geo_training_features() -> str:
    """Curation-capstone replay: composes the proven CTE chains — doc-side
    LCG latlng + recursive Hilbert encode (prefixed 'd' via the
    _hilbert_ctes prefix parameter), the events-side FACE_WRAP focal-density
    chain (o_focal_density's), the doc_quality integer char math, the BPE
    token count, and the MinHash dedup reachability (o_dedup_cluster's) —
    into one per-document feature row.  The tile join runs in (face,ti,tj)
    grid space (bijective with the tile cell id the Spark side joins on)."""
    from .queries import BPE_PAT

    lvl = specs.FOCAL_LEVEL
    n = 1 << lvl
    shift = 30 - lvl
    A, C, M = specs.LCG_A, specs.LCG_C, specs.LCG_M
    x1 = f"((doc_id * {A} + {C}) % {M})"
    x2 = f"(({x1} * {A} + {C}) % {M})"
    dlat = f"(CAST({x1} % 170001 AS BIGINT) / 1000.0 - 85.0)"
    dlng = f"(CAST({x2} % 360000 AS BIGINT) / 1000.0 - 180.0)"
    in_range = f"ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}"
    nt = "(length(text) - length(replace(text, ' ', '')) + 1)"
    nd = "len(list_distinct(string_split(text, ' ')))"
    nv = f"(length(text) - length(translate(text, '{specs.VOWELS}', '')))"
    sh = "(" + " + ".join(_lang_count_duck(m) for m in specs.QUALITY_STOPWORDS) + ")"
    pat = BPE_PAT.replace("'", "''")
    return f"""
WITH RECURSIVE
dpts AS (SELECT doc_id, {dlat} AS lat, {dlng} AS lng FROM documents),
{_hilbert_ctes("doc_id", prefix="d").strip()},
dtile AS (
  SELECT l.doc_id, p.lat, p.lng,
    {_parent_from_pos(lvl, face="l.face", pos="l.pos")} AS tile,
    g.face AS dface, g.i >> {shift} AS dti, g.j >> {shift} AS dtj
  FROM dleaf l
  JOIN dij g ON g.doc_id = l.doc_id
  JOIN dpts p ON p.doc_id = l.doc_id
),
pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
base AS (
  SELECT face, i >> {shift} AS ti, j >> {shift} AS tj, count(*) AS n
  FROM ij GROUP BY 1, 2, 3
),
nb AS (
  SELECT base.face, base.ti, base.tj, dirs.d, base.n,
    ti + (CASE dirs.d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END) AS ri,
    tj + (CASE dirs.d WHEN 2 THEN 1 WHEN 0 THEN -1 ELSE 0 END) AS rj
  FROM base, (VALUES (0),(1),(2),(3)) dirs(d)
),
nb2 AS (
  SELECT n,
    CASE WHEN {in_range} THEN face ELSE {_wrap_case('f', n)} END AS tf,
    CASE WHEN {in_range} THEN ri ELSE {_wrap_case('ti', n)} END AS tti,
    CASE WHEN {in_range} THEN rj ELSE {_wrap_case('tj', n)} END AS ttj
  FROM nb
),
contrib AS (
  SELECT face AS tf, ti AS tti, tj AS ttj, n FROM base
  UNION ALL
  SELECT tf, tti, ttj, n FROM nb2
),
focal AS (
  SELECT tf, tti, ttj, CAST(sum(n) AS BIGINT) AS focal_n
  FROM contrib GROUP BY 1, 2, 3
),
qc AS (
  SELECT doc_id,
    CAST({nt} AS BIGINT) AS n_tokens,
    CAST({sh} AS BIGINT) AS stop_hits,
    CAST({nd} AS DOUBLE) / CAST({nt} AS DOUBLE) AS dr,
    CAST({nv} AS DOUBLE) / CAST(length(text) AS DOUBLE) AS vr
  FROM documents
),
q AS (
  SELECT doc_id,
    CAST(
      CAST(n_tokens >= {specs.QUALITY_LEN_MIN} AND n_tokens <= {specs.QUALITY_LEN_MAX} AS INT)
      + CAST(stop_hits >= {specs.QUALITY_STOP_MIN} AS INT)
      + CAST(dr >= {specs.QUALITY_DISTINCT_MIN} AS INT)
      + CAST(vr >= {specs.QUALITY_VOWEL_MIN} AND vr <= {specs.QUALITY_VOWEL_MAX} AS INT)
    AS DOUBLE) / 4.0 AS quality_score
  FROM qc
),
tok AS (
  SELECT doc_id,
    CAST(length(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_bpe_tokens
  FROM documents
),
{_minhash_ctes().strip()},
dup AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM scored
  WHERE est_sim >= {specs.f(specs.DEDUP_SIM_THRESHOLD)}
),
sym AS MATERIALIZED (SELECT u, v FROM dup UNION ALL SELECT v, u FROM dup),
cnodes AS (SELECT DISTINCT u AS node FROM sym),
walk(node, label) AS (
  SELECT node, node FROM cnodes
  UNION
  SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
SELECT t.doc_id, t.lat, t.lng, t.tile,
  coalesce(f.focal_n, 0) AS focal_n,
  tok.n_bpe_tokens,
  q.quality_score,
  (q.quality_score >= 0.75) AS keep_quality,
  coalesce(cc.cluster_id, t.doc_id) AS canonical_id,
  (coalesce(cc.cluster_id, t.doc_id) = t.doc_id) AS is_canonical,
  ((q.quality_score >= 0.75) AND (coalesce(cc.cluster_id, t.doc_id) = t.doc_id))
    AS train_keep
FROM dtile t
JOIN q ON q.doc_id = t.doc_id
JOIN tok ON tok.doc_id = t.doc_id
LEFT JOIN cc ON cc.node = t.doc_id
LEFT JOIN focal f ON f.tf = t.dface AND f.tti = t.dti AND f.ttj = t.dtj
"""


def o_covering_set_ops() -> str:
    x1 = f"((event_id * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    x2 = f"(({x1} * {specs.LCG_A} + {specs.LCG_C}) % {specs.LCG_M})"
    pos60 = f"(({x1} % 1073741824) * 1073741824 + ({x2} % 1073741824))"
    pos61 = f"({pos60} * 2 + 1)"
    lsbv = 1 << (2 * (30 - 12))
    cellpos = f"({pos61} - ({pos61} % {2 * lsbv}) + {lsbv})"
    sface = "((event_id % 6) - (CASE WHEN (event_id % 6) >= 4 THEN 8 ELSE 0 END))"
    cell = f"({sface} * {POW61} + {cellpos})"
    return f"""
WITH cells AS (SELECT event_id, {cell} AS cell12 FROM events),
a AS (SELECT DISTINCT cell12 FROM cells WHERE event_id % 2 = 0),
b AS (SELECT DISTINCT cell12 FROM cells WHERE event_id % 3 = 0)
SELECT cell12 AS cell_id, 'both' AS tag FROM (SELECT cell12 FROM a INTERSECT SELECT cell12 FROM b) t1
UNION ALL
SELECT cell12 AS cell_id, 'a_only' AS tag FROM (SELECT cell12 FROM a EXCEPT SELECT cell12 FROM b) t2
UNION ALL
SELECT cell12 AS cell_id, 'b_only' AS tag FROM (SELECT cell12 FROM b EXCEPT SELECT cell12 FROM a) t3
"""


# ---------------------------------------------------------------------------
# Text pipeline
# ---------------------------------------------------------------------------


def o_dedup_exact() -> str:
    return (
        "SELECT md5(lower(text)) AS h, count(*) AS cnt, min(doc_id) AS rep_doc "
        "FROM documents GROUP BY 1"
    )


def o_text_stats() -> str:
    nt = "(length(text) - length(replace(text, ' ', '')) + 1)"
    return f"""
SELECT doc_id,
  length(text) AS n_chars_calc,
  {nt} AS n_tokens,
  length(text) - length(translate(text, '{specs.VOWELS}', '')) AS n_vowels,
  length(text) - length(translate(text, '{specs.PUNCT_CHARS}', '')) AS n_punct,
  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST({nt} AS DOUBLE), 6) AS avg_wlen
FROM documents
"""


def _lang_count_duck(marker: str) -> str:
    padded = "(' ' || lower(text) || ' ')"
    pat = f"' {marker} '"
    return f"((length({padded}) - length(replace({padded}, {pat}, ''))) // {len(marker) + 2})"


def o_lang_id() -> str:
    names = [(lg, f"cnt_{lg}") for lg, _ in specs.LANG_MARKERS]
    cols = []
    for lg, markers in specs.LANG_MARKERS:
        cols.append("(" + " + ".join(_lang_count_duck(m) for m in markers) + f") AS cnt_{lg}")
    whens = []
    for i, (lg, cn) in enumerate(names):
        conds = [f"{cn} >= {cn2}" for _, cn2 in names[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        whens.append(f"WHEN {cond} THEN '{lg}'")
    pred = "CASE " + " ".join(whens) + f" ELSE '{names[-1][0]}' END"
    return f"""
WITH c AS (SELECT doc_id, lang, {", ".join(cols)} FROM documents)
SELECT doc_id, lang, cnt_en, cnt_de, cnt_es, cnt_fr, {pred} AS predicted,
  ({pred} = lang) AS is_match
FROM c
"""


_CHAR_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_filter(split({col}, ''), c -> c <> ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    f"(acc, c) -> (acc * {specs.FP_MULT} + c) % {specs.FP_MOD})"
)


def o_fingerprint() -> str:
    return f"SELECT doc_id, {_CHAR_FOLD.format(col='text')} AS fp FROM documents"


def o_ngram_jaccard() -> str:
    return f"""
WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents),
grams0 AS (
  SELECT DISTINCT doc_id, g
  FROM toks, UNNEST(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(g)
),
-- stop-gram cap (specs.NGRAM_DF_CAP): part of the operator semantics
dfr AS (SELECT g, count(*) AS df FROM grams0 GROUP BY 1),
grams AS (SELECT doc_id, g FROM grams0 JOIN dfr USING (g) WHERE df <= {specs.NGRAM_DF_CAP}),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM grams a JOIN grams b USING (g)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b, inter,
    CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jac
  FROM inter
  JOIN (SELECT doc_id AS doc_a, n AS na FROM sizes) USING (doc_a)
  JOIN (SELECT doc_id AS doc_b, n AS nb FROM sizes) USING (doc_b)
)
SELECT doc_a, doc_b, inter, round(jac, 6) AS jaccard_r FROM j WHERE jac >= 0.04
"""


def o_simhash() -> str:
    fold = _CHAR_FOLD.format(col="tok")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(32)
    )
    terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM documents, UNNEST(split(text, ' ')) AS u(tok)
  WHERE tok <> ''
),
th AS (SELECT doc_id, {fold} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM th GROUP BY 1)
SELECT doc_id, {terms} AS simhash FROM votes
"""


def _dot_fold(a: str, b: str) -> str:
    """Sequential-fold dot product of two DuckDB list columns — replays
    Spark's aggregate(zip_with(...)) exactly (same accumulation order)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def o_ann_ivf() -> str:
    """Exact replay of the deterministic IVF pipeline (queries.q_ann_ivf):
    centroids = first 16 vectors; bucket = nearest centroid (argmax ties ->
    lowest centroid id, matching np.argmax); probes = top-4 centroids per
    query; candidates = home-bucket members of probed buckets; final sim =
    the same JVM sequential fold as ann_cosine.

    The only numerics that differ from the Spark path are the bucket/probe
    scores: numpy computes argmax over (v/|v|) @ C^T while this SQL scores
    dot(v, c)/|c| — a positive per-row rescaling, so the arg-ordering is
    identical (FP divergence ~1e-16 could only flip an exact tie, which the
    synthetic embeddings don't contain).  The reported sim is replayed
    fold-exact, so round(sim, 6) hash-matches."""
    dot_vc = _dot_fold("e.embedding", "c.cemb")
    nc2 = _dot_fold("c.cemb", "c.cemb")
    return f"""
WITH cnorm AS (
  SELECT vec_id AS cid, embedding AS cemb,
         sqrt({_dot_fold("embedding", "embedding")}) AS cn
  FROM embeddings WHERE vec_id < 16
),
sims AS (
  SELECT e.vec_id, c.cid, {dot_vc} / c.cn AS s
  FROM embeddings e, cnorm c
),
bucket AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM sims) t WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid AS bucket FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM sims WHERE vec_id < 8) t WHERE rn <= 4
),
j AS (
  SELECT p.query_id, b.vec_id, e.embedding AS ce, q.embedding AS qe
  FROM probes p
  JOIN bucket b ON p.bucket = b.bucket
  JOIN embeddings e ON e.vec_id = b.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
  WHERE b.vec_id <> p.query_id
),
d AS (
  SELECT query_id, vec_id,
    {_dot_fold("ce", "qe")} AS dot,
    {_dot_fold("ce", "ce")} AS nc,
    {_dot_fold("qe", "qe")} AS nq
  FROM j
),
s AS (SELECT query_id, vec_id, dot / (sqrt(nc) * sqrt(nq)) AS sim FROM d)
SELECT query_id, vec_id, rank, round(sim, 6) AS sim_r
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) t
WHERE rank <= 5
"""


def o_ann_lsh() -> str:
    """Exact replay of the multi-table LSH-ANN pipeline (queries.q_ann_lsh):
    the same deterministic ±1 hyperplanes (shared generator), per-table
    6-bit sign signatures via the SAME sequential fold (buckets match
    bit-exactly), candidates = union over tables of multiprobe bucket
    collisions (exact bucket + every hamming-1 neighbor, the same 1+B
    probe set); final sim = the fold-exact cosine."""
    from .queries import LSH_BITS, lsh_sign_planes

    hyp_vals = ", ".join(
        f"({t}, {k}, [" + ", ".join("1.0" if s > 0 else "-1.0" for s in signs) + "])"
        for t, k, signs in lsh_sign_planes()
    )
    dot_vh = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(generate_series(1, len(e.embedding)), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * h.hl[i])), (acc, v) -> acc + v)"
    )
    return f"""
WITH hyp(t, k, hl) AS (VALUES {hyp_vals}),
bits AS (
  SELECT e.vec_id, h.t, CASE WHEN {dot_vh} >= 0.0 THEN 1 << CAST(h.k AS INT) ELSE 0 END AS b
  FROM embeddings e, hyp h
),
sig AS (SELECT vec_id, t, CAST(sum(b) AS INT) AS bucket FROM bits GROUP BY 1, 2),
probes AS (
  SELECT q.vec_id AS query_id, q.t, CAST(xor(q.bucket, pb.pb) AS INT) AS bucket
  FROM sig q, (VALUES {", ".join(f"({v})" for v in [0] + [1 << j for j in range(LSH_BITS)])}) pb(pb)
  WHERE q.vec_id < 8
),
pairs AS (
  SELECT DISTINCT p.query_id, s.vec_id
  FROM probes p JOIN sig s ON p.t = s.t AND p.bucket = s.bucket
  WHERE s.vec_id <> p.query_id
),
j AS (
  SELECT p.query_id, p.vec_id, e.embedding AS ce, q.embedding AS qe
  FROM pairs p
  JOIN embeddings e ON e.vec_id = p.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
),
d AS (
  SELECT query_id, vec_id,
    {_dot_fold("ce", "qe")} AS dot,
    {_dot_fold("ce", "ce")} AS nc,
    {_dot_fold("qe", "qe")} AS nq
  FROM j
),
s2 AS (SELECT query_id, vec_id, dot / (sqrt(nc) * sqrt(nq)) AS sim FROM d)
SELECT query_id, vec_id, rank, round(sim, 6) AS sim_r
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s2) t
WHERE rank <= 5
"""


def o_ann_cosine() -> str:
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id, embedding AS ce FROM embeddings),
d AS (
  SELECT query_id, vec_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(ce)), i -> CAST(ce[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))),
      (acc, v) -> acc + v) AS dot,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(ce)), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))),
      (acc, v) -> acc + v) AS nc,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))),
      (acc, v) -> acc + v) AS nq
  FROM c, q WHERE vec_id <> query_id
),
s AS (SELECT query_id, vec_id, dot / (sqrt(nc) * sqrt(nq)) AS sim FROM d)
SELECT query_id, vec_id, rank, round(sim, 6) AS sim_r
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) t
WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Interleaved spans + multimodal
# ---------------------------------------------------------------------------


def _spans_duck() -> str:
    A, C, M = specs.LCG_A, specs.LCG_C, specs.LCG_M
    x1 = f"((doc_id * {A} + {C}) % {M})"
    x2 = f"(({x1} * {A} + {C}) % {M})"
    geo = f"CAST({x1} % 170001 AS VARCHAR) || ':' || CAST({x2} % 360000 AS VARCHAR)"
    full = (
        "["
        "{'kind': 'text', 'text': text, 'media_ref': CAST(NULL AS VARCHAR), 'off': 0}, "
        f"{{'kind': 'geo', 'text': {geo}, 'media_ref': CAST(NULL AS VARCHAR), 'off': 1}}, "
        "{'kind': 'media', 'text': CAST(NULL AS VARCHAR), "
        "'media_ref': 'media://blob/' || CAST(doc_id AS VARCHAR), 'off': 2}"
        "]"
    )
    return (
        f"SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN {full} ELSE ({full})[1:2] END AS spans "
        "FROM documents"
    )


def o_span_pipeline() -> str:
    sig = (
        "md5(list_reduce(list_prepend('', list_transform(spans, "
        "s -> s.kind || coalesce(s.text, ' ') || coalesce(s.media_ref, ' ') "
        "|| CAST(s.off AS VARCHAR))), (a, b) -> a || b))"
    )
    return f"""
WITH sp AS ({_spans_duck()})
SELECT doc_id, len(spans) AS n_spans,
  array_to_string(list_transform(spans, s -> s.kind), ',') AS kinds,
  {sig} AS span_sig
FROM sp
"""


def o_geo_extract() -> str:
    A, C, M = specs.LCG_A, specs.LCG_C, specs.LCG_M
    x1 = f"((doc_id * {A} + {C}) % {M})"
    x2 = f"(({x1} * {A} + {C}) % {M})"
    lat = f"(CAST({x1} % 170001 AS BIGINT) / 1000.0 - 85.0)"
    lng = f"(CAST({x2} % 360000 AS BIGINT) / 1000.0 - 180.0)"
    return f"""
WITH RECURSIVE pts AS (SELECT doc_id, {lat} AS lat, {lng} AS lng FROM documents),
{_hilbert_ctes("doc_id")}
SELECT l.doc_id, p.lat, p.lng, {_parent_from_pos(8)} AS cell_l8
FROM leaf l JOIN pts p ON l.doc_id = p.doc_id
"""


def o_media_features() -> str:
    """Replays the fixture blobs' arithmetic SPEC (synth_media_blob writes
    w = doc_id*37 % 1920 + 1 etc. into real PNG IHDR / JPEG SOF0 headers;
    the engine side recovers every feature by parsing the BYTES, so
    agreement proves synth -> header parse round-trips).  Byte lengths are
    structural constants: 65 = PNG sig + IHDR + empty IDAT + IEND chunks,
    47 = JPEG SOI + APP0 + DQT stub + SOF0 + EOI."""
    return """
SELECT doc_id, 'media://blob/' || CAST(doc_id AS VARCHAR) AS media_ref,
  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
  (doc_id * 37) % 1920 + 1 AS width,
  (doc_id * 53) % 1080 + 1 AS height,
  CAST(3 AS BIGINT) AS n_channels,
  CAST(8 AS BIGINT) AS bit_depth,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 65 ELSE 47 END AS BIGINT) AS n_bytes,
  (((doc_id * 37) % 1920 + 1) * 1000000) // ((doc_id * 53) % 1080 + 1) AS aspect_ppm
FROM documents WHERE doc_id % 4 = 0
"""


# ---------------------------------------------------------------------------
# Relational
# ---------------------------------------------------------------------------


def o_pricing_summary() -> str:
    # decimal -> double goes through VARCHAR: DuckDB's direct decimal cast
    # converts the backing hugeint and the 10^scale divisor separately (two
    # roundings), which lands 1 ulp off the correctly-rounded double once
    # value * 10^scale exceeds 2^53 (first bites sum_charge at sf1).  The
    # string path is strtod — correctly rounded, matching Spark's
    # BigDecimal.doubleValue.  Exact-preserving at every smaller sf.
    return """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2))) *
           (CAST(1 AS DECIMAL(8,2)) + CAST(l_tax AS DECIMAL(8,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
  count(*) AS cnt
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
"""


def o_revenue_by_nation() -> str:
    # VARCHAR-routed decimal cast: see o_pricing_summary
    return """
SELECT n_name,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


def o_top_orders() -> str:
    return """
SELECT o_custkey, o_orderkey, rank, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) t WHERE rank <= 3
"""


def o_events_hourly() -> str:
    return """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def o_sessionize() -> str:
    return """
WITH o AS (
  SELECT event_id, user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lts
  FROM events
),
s AS (
  SELECT *, CASE WHEN lts IS NULL OR date_diff('second', lts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM o
),
c AS (
  -- CAST: DuckDB's windowed sum() yields HUGEINT, which value-hashes
  -- differently from Spark's BIGINT even when values are equal.
  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
  FROM s
)
SELECT user_id, sess_no, count(*) AS n_events,
  min(event_id) AS first_event, max(event_id) AS last_event
FROM c GROUP BY 1, 2
"""


def _segment_chord_list() -> list[str]:
    """Per-segment interior/vertex chord2 formulas (one SQL expr each)."""
    from .specs import polyline_segments_xyz

    seg_exprs = []
    for a, b in polyline_segments_xyz():
        ax, ay, az = a
        bx, by, bz = b
        cx = ay * bz - az * by
        cy = az * bx - ax * bz
        cz = ax * by - ay * bx
        c2 = cx * cx + cy * cy + cz * cz
        A = lambda v: f"({specs.f(v)})"  # parens: bare "--0.4" is a SQL comment
        xa2 = f"((x-{A(ax)})*(x-{A(ax)}) + (y-{A(ay)})*(y-{A(ay)}) + (z-{A(az)})*(z-{A(az)}))"
        xb2 = f"((x-{A(bx)})*(x-{A(bx)}) + (y-{A(by)})*(y-{A(by)}) + (z-{A(bz)})*(z-{A(bz)}))"
        ab2 = (ax - bx) ** 2 + (ay - by) ** 2 + (az - bz) ** 2
        eps = 2.220446049250313e-16
        max_err = f"(4.75e0 * {A(eps)} * ({xa2} + {xb2} + {A(ab2)}) + {A(8.0 * eps * eps)})"
        xdc = f"({A(cx)}*x + {A(cy)}*y + {A(cz)}*z)"
        # cx_vec = c x X
        cxx = f"({A(cy)}*z - {A(cz)}*y)"
        cxy = f"({A(cz)}*x - {A(cx)}*z)"
        cxz = f"({A(cx)}*y - {A(cy)}*x)"
        adot = f"(({A(ax)}-x)*{cxx} + ({A(ay)}-y)*{cxy} + ({A(az)}-z)*{cxz})"
        bdot = f"(({A(bx)}-x)*{cxx} + ({A(by)}-y)*{cxy} + ({A(bz)}-z)*{cxz})"
        cxn2 = f"({cxx}*{cxx} + {cxy}*{cxy} + {cxz}*{cxz})"
        qr = f"(1.0 - sqrt({cxn2} / {A(c2)}))"
        interior = (
            f"(abs({xa2} - {xb2}) < {A(ab2)} + {max_err} AND {adot} < 0 AND {bdot} > 0)"
        )
        dist = (
            f"(CASE WHEN {interior} THEN ({xdc}*{xdc}/{A(c2)} + {qr}*{qr}) "
            f"ELSE least(least({xa2}, {xb2}), 4.0) END)"
        )
        seg_exprs.append(dist)
    return seg_exprs


def _segment_chord_exprs() -> str:
    """least(...) of the per-segment interior/vertex chord2 formulas."""
    seg_exprs = _segment_chord_list()
    best = seg_exprs[0]
    for e in seg_exprs[1:]:
        best = f"least({best}, {e})"
    return best


def o_segment_distance() -> str:
    """Same interior/vertex chord-distance formula, generated per segment."""
    best = _segment_chord_exprs()
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz})
SELECT event_id,
  round(degrees(2.0 * asin(0.5 * sqrt(least({best}, 4.0)))), 6) AS dist_deg_r
FROM p
"""


def o_snap_join() -> str:
    """Nearest-segment snap (ClosestEdgeQuery analog): same per-segment
    interior/vertex chord2 formulas as o_segment_distance, with the ARGmin
    resolved as the FIRST segment attaining the least() minimum — the numpy
    argmin convention the Spark kernel path uses."""
    segs = _segment_chord_list()
    dcols = [f"d{i}" for i in range(len(segs))]
    dsel = ", ".join(f"{e} AS d{i}" for i, e in enumerate(segs))
    best = dcols[0]
    for c in dcols[1:]:
        best = f"least({best}, {c})"
    whens = " ".join(f"WHEN {c} = best THEN {i}" for i, c in enumerate(dcols[:-1]))
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
d AS (SELECT event_id, {dsel} FROM p),
b AS (SELECT event_id, {", ".join(dcols)}, {best} AS best FROM d)
SELECT event_id,
  CAST(CASE {whens} ELSE {len(dcols) - 1} END AS BIGINT) AS seg,
  round(degrees(2.0 * asin(0.5 * sqrt(least(best, 4.0)))), 6) AS dist_deg_r
FROM b
"""


def o_voronoi_assign() -> str:
    """Nearest-hub Voronoi assignment (ClosestPointQuery analog): per-hub
    chord2 fragments and the first-argmin CASE come from the shared specs
    builders, so both engines evaluate the identical IEEE op tree."""
    dists = specs.voronoi_dist_sql()
    dcols = [f"d{i}" for i in range(len(dists))]
    dsel = ", ".join(f"{e} AS d{i}" for i, e in enumerate(dists))
    best = dcols[0]
    for c in dcols[1:]:
        best = f"least({best}, {c})"
    pick = specs.voronoi_pick_sql(dcols)
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
d AS (SELECT event_id, {dsel} FROM p),
b AS (SELECT event_id, {", ".join(dcols)}, {best} AS best FROM d)
SELECT event_id, CAST({pick} AS BIGINT) AS hub, round(best, 7) AS chord2_r
FROM b
"""


def o_step_midpoint() -> str:
    """Trajectory resampling replay: per-user lag window -> normalized step
    midpoint (pure IEEE +,*,/,sqrt — edgeutil.rs interpolate at t=1/2 up to
    normalization) -> the SAME recursive Hilbert encode as o_tile_assign,
    entered at the xyz stage via _hilbert_ctes(xyz_src=...), -> MID_LEVEL
    ancestor.  Every op after the (bit-identical) trig is exact-mirrored,
    so mid_tile is an exact integer in both engines."""
    xyz = (
        "SELECT event_id, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    mid_src = (
        "SELECT event_id, mx / nrm AS x, my / nrm AS y, mz / nrm AS z "
        "FROM mn WHERE nrm > 0.0"
    )
    parent = _parent_from_pos(specs.MID_LEVEL, face="leaf.face", pos="leaf.pos")
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
q AS ({xyz}),
g AS (
  SELECT e.user_id, e.ts, q.event_id, q.x, q.y, q.z
  FROM events e JOIN q ON e.event_id = q.event_id
),
st AS (
  SELECT user_id, event_id,
    lag(event_id) OVER w AS prev_event,
    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz,
    x, y, z
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
m AS (
  SELECT user_id, event_id, prev_event,
    (px + x) AS mx, (py + y) AS my, (pz + z) AS mz
  FROM st WHERE prev_event IS NOT NULL
),
mn AS (SELECT *, sqrt(mx * mx + my * my + mz * mz) AS nrm FROM m),
{_hilbert_ctes("event_id", xyz_src=mid_src)}
SELECT mn.user_id, mn.event_id, mn.prev_event, {parent} AS mid_tile
FROM leaf JOIN mn ON leaf.event_id = mn.event_id
"""


_TRAJ_STEP_CTES = """
q AS (
  SELECT event_id, cos(radians(lat)) * cos(radians(lng)) AS x,
    cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts
),
g AS (
  SELECT e.user_id, e.ts, q.event_id, q.x, q.y, q.z
  FROM events e JOIN q ON e.event_id = q.event_id
),
st AS (
  SELECT user_id, event_id, ts,
    lag(event_id) OVER w AS prev_event,
    lag(ts) OVER w AS prev_ts,
    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz,
    x, y, z
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
"""

_CHORD2 = "(x - px) * (x - px) + (y - py) * (y - py) + (z - pz) * (z - pz)"


def o_speed_filter() -> str:
    """Per-step speed replay: exact integer-microsecond dt, the 6-dp
    segment-distance idiom for arc length, speed computed FROM the rounded
    distance and rounded again, bands compared against the ROUNDED speed —
    every op mirrored from the Spark expression."""
    pl = specs.f(specs.SPEED_PLAUSIBLE_DEG_H)
    mx = specs.f(specs.SPEED_MAX_DEG_H)
    return f"""
WITH pts AS ({_latlng_cte()}),
{_TRAJ_STEP_CTES.strip()},
d AS (
  SELECT user_id, event_id, prev_event,
    epoch_us(ts) - epoch_us(prev_ts) AS dt_us,
    round(degrees(2.0 * asin(0.5 * sqrt(least({_CHORD2}, 4.0)))), 6) AS dist_deg_r
  FROM st WHERE prev_event IS NOT NULL
),
s AS (
  SELECT *, CASE WHEN dt_us > 0
    THEN round(dist_deg_r * 3600000000.0 / CAST(dt_us AS DOUBLE), 6)
    ELSE NULL END AS speed_r
  FROM d
)
SELECT user_id, event_id, prev_event, dt_us, dist_deg_r, speed_r,
  CASE WHEN dt_us = 0 THEN 'anomalous'
       WHEN speed_r <= {pl} THEN 'plausible'
       WHEN speed_r <= {mx} THEN 'fast'
       ELSE 'anomalous' END AS band
FROM s
"""


def o_waypoints() -> str:
    """Slerp densification replay: theta from the mirrored chord, weights
    sin((1-t)θ)/sinθ and sin(tθ)/sinθ, the weighted combination, and the
    atan2 lat/lng — op-for-op the Spark codegen tree; degenerate steps are
    excluded by the identical sin_t > 0 predicate."""
    tvals = ", ".join(
        f"({k + 1}, {specs.f(t)})" for k, t in enumerate(specs.WAYPOINT_TS)
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
{_TRAJ_STEP_CTES.strip()},
d AS (
  SELECT user_id, event_id, px, py, pz, x, y, z,
    2.0 * asin(0.5 * sqrt(least({_CHORD2}, 4.0))) AS theta
  FROM st WHERE prev_event IS NOT NULL
),
d2 AS (SELECT *, sin(theta) AS sin_t FROM d),
d3 AS (SELECT * FROM d2 WHERE sin_t > 0.0),
e3 AS (
  SELECT user_id, event_id, CAST(ks.k AS BIGINT) AS k,
    sin((1.0 - ks.t) * theta) / sin_t AS wa,
    sin(ks.t * theta) / sin_t AS wb,
    px, py, pz, x, y, z
  FROM d3, (VALUES {tvals}) ks(k, t)
),
wp AS (
  SELECT user_id, event_id, k,
    wa * px + wb * x AS wx, wa * py + wb * y AS wy, wa * pz + wb * z AS wz
  FROM e3
)
SELECT user_id, event_id, k,
  round(degrees(atan2(wz, sqrt(wx * wx + wy * wy))), 6) AS lat_r,
  round(degrees(atan2(wy, wx)), 6) AS lng_r
FROM wp
"""


def o_traj_simplify() -> str:
    """Douglas-Peucker replay as a recursive CTE over DP intervals.

    The kept set is recursion-order independent (each interval's split
    depends only on its own endpoints and interior points), so the CTE can
    expand the DP tree breadth-first while the kernel pops a LIFO stack —
    the emitted interval SET is identical.  Per interval, a correlated
    LATERAL picks the first-argmax interior point under the EXACT
    distance_from_segment op tree (edgeutil.py:82-124 mirrored layer by
    layer: xa2/xb2/ab2 -> cross products -> interior predicate with the
    4.75-eps error band -> chord2 CASE -> 2*asin(0.5*sqrt(least(c2,4)))),
    ties broken by seq ASC = np.argmax's first-max.  A degenerate chord
    (a == b, c2 = 0) forces adot = 0 so the interior predicate is false and
    the endpoint branch is taken — same as the kernel's early return.  Kept
    seqs = the distinct interval endpoints."""
    eps = 2.220446049250313e-16
    tol = specs.f(specs.SIMPLIFY_TOL_RAD)
    c8 = specs.f(8.0 * eps * eps)
    e = specs.f(eps)
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
q AS ({_XYZ.format(id="event_id", src="pts")}),
g AS (
  SELECT e.user_id, e.ts, q.event_id, q.x, q.y, q.z
  FROM events e JOIN q ON e.event_id = q.event_id
),
p AS (
  SELECT user_id, event_id, x, y, z,
    row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) - 1 AS seq
  FROM g
),
seeds AS (SELECT user_id, 0 AS lo, max(seq) AS hi FROM p GROUP BY user_id),
rec AS (
  SELECT user_id, lo, hi FROM seeds
  UNION ALL
  SELECT u.user_id, u.lo, u.hi FROM (
    SELECT s.user_id,
      CASE side WHEN 0 THEN s.lo ELSE s.mid_seq END AS lo,
      CASE side WHEN 0 THEN s.mid_seq ELSE s.hi END AS hi,
      s.mid_d
    FROM (
      SELECT r.user_id, r.lo, r.hi, b.mid_seq, b.mid_d
      FROM rec r
      JOIN p pa ON pa.user_id = r.user_id AND pa.seq = r.lo
      JOIN p pb ON pb.user_id = r.user_id AND pb.seq = r.hi
      CROSS JOIN LATERAL (
        SELECT s2.seq AS mid_seq,
          2.0 * asin(0.5 * sqrt(least(s2.chord2, 4.0))) AS mid_d
        FROM (
          SELECT s1.seq,
            CASE WHEN abs(s1.xa2 - s1.xb2)
                      < s1.ab2 + (4.75e0 * {e} * ((s1.xa2 + s1.xb2) + s1.ab2) + {c8})
                   AND ((s1.ax - s1.x) * s1.cxx + (s1.ay - s1.y) * s1.cxy
                        + (s1.az - s1.z) * s1.cxz) < 0
                   AND ((s1.bx - s1.x) * s1.cxx + (s1.by - s1.y) * s1.cxy
                        + (s1.bz - s1.z) * s1.cxz) > 0
              THEN s1.xdc * s1.xdc / s1.c2
                   + (1.0 - sqrt((s1.cxx * s1.cxx + s1.cxy * s1.cxy
                                  + s1.cxz * s1.cxz) / s1.c2))
                     * (1.0 - sqrt((s1.cxx * s1.cxx + s1.cxy * s1.cxy
                                    + s1.cxz * s1.cxz) / s1.c2))
              ELSE least(least(s1.xa2, s1.xb2), 4.0) END AS chord2
          FROM (
            SELECT s0.*,
              s0.cx * s0.cx + s0.cy * s0.cy + s0.cz * s0.cz AS c2,
              s0.cx * s0.x + s0.cy * s0.y + s0.cz * s0.z AS xdc,
              s0.cy * s0.z - s0.cz * s0.y AS cxx,
              s0.cz * s0.x - s0.cx * s0.z AS cxy,
              s0.cx * s0.y - s0.cy * s0.x AS cxz
            FROM (
              SELECT i.seq, i.x, i.y, i.z,
                pa.x AS ax, pa.y AS ay, pa.z AS az,
                pb.x AS bx, pb.y AS by, pb.z AS bz,
                (i.x - pa.x) * (i.x - pa.x) + (i.y - pa.y) * (i.y - pa.y)
                  + (i.z - pa.z) * (i.z - pa.z) AS xa2,
                (i.x - pb.x) * (i.x - pb.x) + (i.y - pb.y) * (i.y - pb.y)
                  + (i.z - pb.z) * (i.z - pb.z) AS xb2,
                (pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y)
                  + (pa.z - pb.z) * (pa.z - pb.z) AS ab2,
                pa.y * pb.z - pa.z * pb.y AS cx,
                pa.z * pb.x - pa.x * pb.z AS cy,
                pa.x * pb.y - pa.y * pb.x AS cz
              FROM p i
              WHERE i.user_id = r.user_id AND i.seq > r.lo AND i.seq < r.hi
            ) s0
          ) s1
        ) s2
        ORDER BY mid_d DESC, s2.seq ASC
        LIMIT 1
      ) b
      WHERE r.hi - r.lo >= 2
    ) s, (VALUES (0), (1)) sides(side)
    WHERE s.mid_d > {tol}
  ) u
),
kept AS (
  -- explicit outer DISTINCT: inside a WITH RECURSIVE block DuckDB compiles
  -- a bare UNION CTE with its recursive machinery and does NOT dedup
  SELECT DISTINCT user_id, seq FROM (
    SELECT user_id, lo AS seq FROM rec
    UNION ALL
    SELECT user_id, hi AS seq FROM rec
  ) both_ends
)
SELECT p.user_id, p.event_id, p.seq, (k.seq IS NOT NULL) AS kept
FROM p LEFT JOIN kept k ON k.user_id = p.user_id AND k.seq = p.seq
"""


def o_line_crossings() -> str:
    """simple_crossing replay: the same lag-window step frame, a CROSS
    JOIN over the inlined segment constants (identical double literals,
    including the precomputed cd cross products), and the three strict
    sign tests with the op tree mirrored term for term.  Sign margins are
    >= 2.5e-6 at sf0.001 (7.3e-11 at sf1) vs ~1e-16 trig ulp noise, so
    membership is engine-exact."""
    rows = []
    for i, (c, d) in enumerate(specs.polyline_segments_xyz()):
        cd = (
            c[1] * d[2] - c[2] * d[1],
            c[2] * d[0] - c[0] * d[2],
            c[0] * d[1] - c[1] * d[0],
        )
        rows.append(
            f"({i}, {specs.f(c[0])}, {specs.f(c[1])}, {specs.f(c[2])}, "
            f"{specs.f(d[0])}, {specs.f(d[1])}, {specs.f(d[2])}, "
            f"{specs.f(cd[0])}, {specs.f(cd[1])}, {specs.f(cd[2])})"
        )
    vals = ", ".join(rows)
    xyz = (
        "SELECT event_id, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
g AS (
  SELECT e.user_id, e.ts, p.event_id, p.x, p.y, p.z
  FROM events e JOIN p ON e.event_id = p.event_id
),
st AS (
  SELECT user_id, event_id,
    lag(event_id) OVER w AS prev_event,
    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz,
    x, y, z
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
segs(seg_id, cx, cy, cz, dx, dy, dz, cdx, cdy, cdz) AS (VALUES {vals}),
e AS (
  SELECT st.*, s.*,
    (py * z - pz * y) AS abx,
    (pz * x - px * z) AS aby,
    (px * y - py * x) AS abz
  FROM st CROSS JOIN segs s
  WHERE st.prev_event IS NOT NULL
),
t AS (
  SELECT user_id, event_id, prev_event, seg_id,
    -(abx * cx + aby * cy + abz * cz) AS acb,
    (abx * dx + aby * dy + abz * dz) AS bda,
    -(cdx * x + cdy * y + cdz * z) AS cbd,
    (cdx * px + cdy * py + cdz * pz) AS dac
  FROM e
)
SELECT user_id, event_id, prev_event, CAST(seg_id AS BIGINT) AS seg_id,
  CAST(CASE WHEN dac > 0 THEN 1 ELSE -1 END AS BIGINT) AS direction
FROM t
WHERE acb * bda > 0 AND acb * cbd > 0 AND acb * dac > 0
"""


def o_crossing_points() -> str:
    """edge_crossings.rs::intersection replay (the naive cross-product
    form the engine uses): the o_line_crossings frame and predicate
    verbatim, then the (ab x cd) cross product, midpoint-chord sign
    orientation, normalization, and atan2 lat/lng — every op mirrored in
    the Spark order, 6-dp rounded (the s2_waypoints precedent for
    trig-derived coordinates)."""
    rows = []
    for i, (c, d) in enumerate(specs.polyline_segments_xyz()):
        cd = (
            c[1] * d[2] - c[2] * d[1],
            c[2] * d[0] - c[0] * d[2],
            c[0] * d[1] - c[1] * d[0],
        )
        rows.append(
            f"({i}, {specs.f(c[0])}, {specs.f(c[1])}, {specs.f(c[2])}, "
            f"{specs.f(d[0])}, {specs.f(d[1])}, {specs.f(d[2])}, "
            f"{specs.f(cd[0])}, {specs.f(cd[1])}, {specs.f(cd[2])})"
        )
    vals = ", ".join(rows)
    xyz = (
        "SELECT event_id, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
g AS (
  SELECT e.user_id, e.ts, p.event_id, p.x, p.y, p.z
  FROM events e JOIN p ON e.event_id = p.event_id
),
st AS (
  SELECT user_id, event_id,
    lag(event_id) OVER w AS prev_event,
    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz,
    x, y, z
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
segs(seg_id, cx, cy, cz, dx, dy, dz, cdx, cdy, cdz) AS (VALUES {vals}),
e AS (
  SELECT st.*, s.*,
    (py * z - pz * y) AS abx,
    (pz * x - px * z) AS aby,
    (px * y - py * x) AS abz
  FROM st CROSS JOIN segs s
  WHERE st.prev_event IS NOT NULL
),
t AS (
  SELECT user_id, event_id, prev_event, seg_id,
    px, py, pz, x, y, z, abx, aby, abz, cdx, cdy, cdz,
    -(abx * cx + aby * cy + abz * cz) AS acb,
    (abx * dx + aby * dy + abz * dz) AS bda,
    -(cdx * x + cdy * y + cdz * z) AS cbd,
    (cdx * px + cdy * py + cdz * pz) AS dac
  FROM e
),
c AS (
  SELECT *,
    (aby * cdz - abz * cdy) AS rx,
    (abz * cdx - abx * cdz) AS ry,
    (abx * cdy - aby * cdx) AS rz
  FROM t
  WHERE acb * bda > 0 AND acb * cbd > 0 AND acb * dac > 0
),
u AS (
  SELECT *,
    (rx * (px + x) + ry * (py + y) + rz * (pz + z)) AS sdot,
    sqrt(rx * rx + ry * ry + rz * rz) AS nrm
  FROM c
),
v AS (
  SELECT *, CASE WHEN sdot < 0 THEN -1.0 ELSE 1.0 END AS sgn FROM u
),
w2 AS (
  SELECT *, (sgn * rx) / nrm AS ux, (sgn * ry) / nrm AS uy,
    (sgn * rz) / nrm AS uz
  FROM v
)
SELECT user_id, event_id, prev_event, CAST(seg_id AS BIGINT) AS seg_id,
  CAST(CASE WHEN dac > 0 THEN 1 ELSE -1 END AS BIGINT) AS direction,
  round(degrees(atan2(uz, sqrt(ux * ux + uy * uy))), 6) AS cross_lat_r,
  round(degrees(atan2(uy, ux)), 6) AS cross_lng_r
FROM w2
"""


def o_self_intersect() -> str:
    """Self-crossing replay: the o_line_crossings step frame plus a
    row_number sequence, then the DIRECT gap join (2 <= sb - sa <= W) —
    semantically equal to the engine's banded (user_id, seq div W)
    candidate join, which is complete for gap <= W — and the three
    banded sign tests (> SELF_INTERSECT_EPS, identical literal: exact
    touches from the sf1 LCG lattice are true zeros computed as ~1e-17
    noise, excluded deterministically) plus the
    edge_crossings.rs::intersection chain with every product mirrored in
    the Spark op order.  Measured genuine
    margins: 8.2e-07 / 1.8e-10 / 1.4e-09 / 4.9e-12 at sf0.001/0.01/0.1/1
    vs the 1e-13 band and ~1e-15 product noise."""
    w_ = specs.SELF_INTERSECT_W
    xyz = (
        "SELECT event_id, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
g AS (
  SELECT e.user_id, e.ts, p.event_id, p.x, p.y, p.z
  FROM events e JOIN p ON e.event_id = p.event_id
),
st AS (
  SELECT user_id, ts, event_id,
    lag(event_id) OVER w AS prev_event,
    lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz,
    x, y, z
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sf AS (SELECT * FROM st WHERE prev_event IS NOT NULL),
sq AS (
  -- row_number over the FILTERED step frame.  (SQL applies WHERE before
  -- SELECT-clause window functions, so a same-block filter would also
  -- work; the explicit sf block just keeps the two steps readable.)
  SELECT user_id, event_id,
    row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS seq,
    px, py, pz, x, y, z
  FROM sf
),
pr AS (
  SELECT a.user_id,
    a.event_id AS event_a, b.event_id AS event_b,
    CAST(b.seq - a.seq AS BIGINT) AS gap,
    a.px AS pax, a.py AS pay, a.pz AS paz,
    a.x AS ax, a.y AS ay, a.z AS az,
    (a.py * a.z - a.pz * a.y) AS abx,
    (a.pz * a.x - a.px * a.z) AS aby,
    (a.px * a.y - a.py * a.x) AS abz,
    (b.py * b.z - b.pz * b.y) AS cdx,
    (b.pz * b.x - b.px * b.z) AS cdy,
    (b.px * b.y - b.py * b.x) AS cdz,
    b.px AS pbx, b.py AS pby, b.pz AS pbz,
    b.x AS bx, b.y AS by, b.z AS bz
  FROM sq a JOIN sq b
    ON a.user_id = b.user_id AND b.seq - a.seq BETWEEN 2 AND {w_}
),
t AS (
  SELECT user_id, event_a, event_b, gap,
    pax, pay, paz, ax, ay, az, abx, aby, abz, cdx, cdy, cdz,
    -(abx * pbx + aby * pby + abz * pbz) AS acb,
    (abx * bx + aby * by + abz * bz) AS bda,
    -(cdx * ax + cdy * ay + cdz * az) AS cbd,
    (cdx * pax + cdy * pay + cdz * paz) AS dac
  FROM pr
),
c AS (
  SELECT user_id, event_a, event_b, gap, pax, pay, paz, ax, ay, az,
    (aby * cdz - abz * cdy) AS rx,
    (abz * cdx - abx * cdz) AS ry,
    (abx * cdy - aby * cdx) AS rz
  FROM t
  WHERE acb * bda > {specs.f(specs.SELF_INTERSECT_EPS)}
    AND acb * cbd > {specs.f(specs.SELF_INTERSECT_EPS)}
    AND acb * dac > {specs.f(specs.SELF_INTERSECT_EPS)}
),
u AS (
  SELECT *,
    (rx * (pax + ax) + ry * (pay + ay) + rz * (paz + az)) AS sdot,
    sqrt(rx * rx + ry * ry + rz * rz) AS nrm
  FROM c
),
v AS (
  SELECT *, CASE WHEN sdot < 0 THEN -1.0 ELSE 1.0 END AS sgn FROM u
),
w2 AS (
  SELECT *, (sgn * rx) / nrm AS ux, (sgn * ry) / nrm AS uy,
    (sgn * rz) / nrm AS uz
  FROM v
)
SELECT user_id, event_a, event_b, gap,
  round(degrees(atan2(uz, sqrt(ux * ux + uy * uy))), 6) AS cross_lat_r,
  round(degrees(atan2(uy, ux)), 6) AS cross_lng_r
FROM w2
"""


def o_stay_points() -> str:
    """Gaps-and-islands replay: the o_speed_filter frame verbatim (dt /
    6-dp dist / rounded speed, identical op tree), row_number over the
    step frame and over the slow subset under the same window spec,
    grp = seq - rn, then one all-integer aggregate per island — min_by /
    max_by on the unique seq, bigint count/sums, micro-degree path length
    via CAST(round(dist*1e6) AS BIGINT) so the SUM is reorder-proof."""
    thr = specs.f(specs.STAY_SPEED_DEG_H)
    return f"""
WITH pts AS ({_latlng_cte()}),
{_TRAJ_STEP_CTES.strip()},
d AS (
  SELECT user_id, event_id, prev_event, ts,
    row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS seq,
    epoch_us(ts) - epoch_us(prev_ts) AS dt_us,
    round(degrees(2.0 * asin(0.5 * sqrt(least({_CHORD2}, 4.0)))), 6) AS dist_deg_r
  FROM st WHERE prev_event IS NOT NULL
),
slow AS (
  SELECT * FROM d
  WHERE dt_us > 0
    AND round(dist_deg_r * 3600000000.0 / CAST(dt_us AS DOUBLE), 6) <= {thr}
),
isl AS (
  SELECT *, seq - row_number()
    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS grp
  FROM slow
)
SELECT user_id,
  min_by(prev_event, seq) AS start_event,
  max_by(event_id, seq) AS end_event,
  CAST(count(*) AS BIGINT) AS n_steps,
  CAST(sum(dt_us) AS BIGINT) AS dur_us,
  CAST(sum(CAST(round(dist_deg_r * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS dist_udeg
FROM isl
GROUP BY user_id, grp
"""


def o_traj_jaccard() -> str:
    """Tile-set overlap replay: recursive Hilbert encode -> level ancestor,
    DISTINCT (user, tile), the same > TRAJ_TILE_CAP stop-tile drop, then a
    brute self-join on tile.  All cardinalities are exact bigints; the two
    6-dp ratios are exact integer half-up divisions (no engine round())."""
    lvl = specs.TRAJ_JACCARD_LEVEL
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_hilbert_ctes("event_id")}
, ut AS (
  SELECT DISTINCT e.user_id, {_parent_from_pos(lvl)} AS tile
  FROM leaf JOIN events e ON e.event_id = leaf.event_id
),
nu AS (SELECT tile, count(*) AS nu FROM ut GROUP BY tile),
keep AS (
  SELECT u.user_id, u.tile FROM ut u JOIN nu ON nu.tile = u.tile
  WHERE nu.nu <= {specs.TRAJ_TILE_CAP}
),
sizes AS (SELECT user_id, count(*) AS n FROM keep GROUP BY user_id),
x AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS inter
  FROM keep a JOIN keep b ON a.tile = b.tile AND a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id
)
SELECT x.user_a, x.user_b, x.inter, sa.n AS na, sb.n AS nb,
  (2000000 * x.inter + (sa.n + sb.n - x.inter)) // (2 * (sa.n + sb.n - x.inter))
    AS jaccard_e6,
  (2000000 * x.inter + least(sa.n, sb.n)) // (2 * least(sa.n, sb.n))
    AS containment_e6
FROM x
JOIN sizes sa ON sa.user_id = x.user_a
JOIN sizes sb ON sb.user_id = x.user_b
"""


def o_tile_churn() -> str:
    """Temporal occupancy diff replay: recursive Hilbert encode ->
    CHURN_LEVEL tile, events split into early/late halves at the midpoint
    of the [min ts, max ts] span (exact integer microseconds; the
    comparison is 2*offset <= span so no division rounding exists), then
    per-tile conditional counts and the status CASE."""
    parent = _parent_from_pos(specs.CHURN_LEVEL)
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_hilbert_ctes("event_id")}
, tiles AS (SELECT event_id, {parent} AS tile FROM leaf)
, bounds AS (SELECT min(ts) AS ts_lo, max(ts) AS ts_hi FROM events)
, halves AS (
  SELECT t.tile,
    CASE WHEN (epoch_us(e.ts) - epoch_us(b.ts_lo)) * 2
              <= (epoch_us(b.ts_hi) - epoch_us(b.ts_lo))
         THEN 0 ELSE 1 END AS h
  FROM tiles t JOIN events e ON e.event_id = t.event_id CROSS JOIN bounds b
)
SELECT tile,
  CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
  CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
  CASE WHEN sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) = 0 THEN 'new'
       WHEN sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) = 0 THEN 'gone'
       ELSE 'stable' END AS status,
  CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END)
       - sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS delta
FROM halves GROUP BY tile
"""


def o_hotspot() -> str:
    """Getis-Ord-style hotspot replay: the full o_focal_density statement as
    a derived table, grid stats from EXACT integer window sums (count, sum,
    sum of squares), then the mirrored double chain m = s1/n,
    var = s2/n - m*m, z = (focal - m)/sqrt(var)."""
    zt = specs.f(specs.HOTSPOT_Z)
    return f"""
SELECT face, ti, tj, focal_n, round(z, 6) AS z_r,
  CAST(CASE WHEN z >= {zt} THEN 1 ELSE 0 END AS BIGINT) AS hot
FROM (
  SELECT *, CASE WHEN var > 0.0
                 THEN (CAST(focal_n AS DOUBLE) - m) / sqrt(var)
                 ELSE 0.0 END AS z
  FROM (
    SELECT *, CAST(s2 AS DOUBLE) / CAST(cnt AS DOUBLE) - m * m AS var
    FROM (
      SELECT *, CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE) AS m
      FROM (
        SELECT *, count(*) OVER () AS cnt,
          sum(focal_n) OVER () AS s1,
          sum(focal_n * focal_n) OVER () AS s2
        FROM ({o_focal_density()}) fd
      ) t1
    ) t2
  ) t3
) t4
"""


def o_moran() -> str:
    """Moran's I replay: occupied FOCAL_LEVEL grid counts from the
    non-recursive encode prefix, rook adjacency rendered combinatorially
    via the FACE_WRAP CASE tables (each tile's 4 neighbor coordinates
    joined against the occupied set for nbr_sum/nn), then the exact-bigint
    D_i/L_i algebra and the op-order-mirrored double chain with floor()
    emission — floor of a bit-identical double agrees on ANY value, so no
    round()-halfway hazard.  DuckDB sums promote to HUGEINT; every
    aggregate is cast back to BIGINT to match Spark's long."""
    lvl = specs.FOCAL_LEVEL
    n = 1 << lvl
    shift = 30 - lvl
    in_range = f"ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}"
    return f"""
WITH pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
base AS (
  SELECT face, i >> {shift} AS ti, j >> {shift} AS tj,
    CAST(count(*) AS BIGINT) AS n
  FROM ij GROUP BY 1, 2, 3
),
nb AS (
  SELECT base.face, base.ti, base.tj, dirs.d,
    ti + (CASE dirs.d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END) AS ri,
    tj + (CASE dirs.d WHEN 2 THEN 1 WHEN 0 THEN -1 ELSE 0 END) AS rj
  FROM base, (VALUES (0),(1),(2),(3)) dirs(d)
),
nb2 AS (
  SELECT face, ti, tj,
    CASE WHEN {in_range} THEN face ELSE {_wrap_case('f', n)} END AS tf,
    CASE WHEN {in_range} THEN ri ELSE {_wrap_case('ti', n)} END AS tti,
    CASE WHEN {in_range} THEN rj ELSE {_wrap_case('tj', n)} END AS ttj
  FROM nb
),
recv AS (
  SELECT nb2.face, nb2.ti, nb2.tj,
    CAST(sum(b2.n) AS BIGINT) AS nbr_sum, CAST(count(*) AS BIGINT) AS nn
  FROM nb2 JOIN base b2
    ON b2.face = nb2.tf AND b2.ti = nb2.tti AND b2.tj = nb2.ttj
  GROUP BY 1, 2, 3
),
tbl AS (
  SELECT base.face, base.ti, base.tj, base.n,
    COALESCE(recv.nbr_sum, CAST(0 AS BIGINT)) AS nbr_sum,
    COALESCE(recv.nn, CAST(0 AS BIGINT)) AS nn
  FROM base LEFT JOIN recv
    ON base.face = recv.face AND base.ti = recv.ti AND base.tj = recv.tj
),
g1 AS (
  SELECT *, CAST(count(*) OVER () AS BIGINT) AS n_tiles,
    CAST(sum(n) OVER () AS BIGINT) AS s_tot,
    CAST(sum(nn) OVER () AS BIGINT) AS w_pairs
  FROM tbl
),
g2 AS (
  SELECT *, n_tiles * n - s_tot AS d,
    (n_tiles * n - s_tot) * (n_tiles * nbr_sum - nn * s_tot) AS lnum
  FROM g1
),
g3 AS (
  SELECT *, CAST(sum(d * d) OVER () AS BIGINT) AS den,
    CAST(sum(lnum) OVER () AS BIGINT) AS num
  FROM g2
)
SELECT CAST(face AS BIGINT) AS face, ti, tj, n, nn, d, lnum,
  CAST(CASE WHEN den > 0 THEN floor(
    1000000.0 * ((CAST(n_tiles AS DOUBLE) * CAST(lnum AS DOUBLE))
                 / CAST(den AS DOUBLE)))
    ELSE 0 END AS BIGINT) AS local_e6f,
  n_tiles, w_pairs, num, den,
  CAST(CASE WHEN den > 0 AND w_pairs > 0 THEN floor(
    1000000.0 * ((CAST(n_tiles AS DOUBLE) * CAST(num AS DOUBLE))
                 / (CAST(w_pairs AS DOUBLE) * CAST(den AS DOUBLE))))
    ELSE 0 END AS BIGINT) AS moran_e6f
FROM g3
"""


def o_ripley_k() -> str:
    """Ripley's K replay: the o_distance_join brute force under the
    lat-band prefilter supplies the pairs; bucketing compares the SAME
    7-dp-rounded chord2_r the distance-join gate proves engine-identical
    against the same exact double threshold literals; K̂ is the mirrored
    double chain with floor() emission."""
    import math

    radius = specs.DISTANCE_JOIN_RADIUS
    chord_max = 2.0 * math.sin(radius / 2.0)
    r2_max = chord_max * chord_max
    band_deg = math.degrees(radius) * 1.0000001
    area = 4.0 * math.pi
    xyz = (
        "SELECT event_id, lat, cos(radians(lat)) * cos(radians(lng)) AS x, "
        "cos(radians(lat)) * sin(radians(lng)) AS y, sin(radians(lat)) AS z FROM pts"
    )
    sel = []
    for k, frac in enumerate(specs.RIPLEY_FRACTIONS):
        chord = 2.0 * math.sin(frac * radius / 2.0)
        r2 = chord * chord
        sel.append(
            f"""SELECT CAST({k} AS BIGINT) AS r_idx,
  (SELECT CAST(COALESCE(sum(CASE WHEN chord2_r <= {specs.f(r2)} THEN 1 ELSE 0 END), 0) AS BIGINT) FROM pr) AS n_pairs,
  (SELECT n_pts FROM np) AS n_pts"""
        )
    union = "\nUNION ALL\n".join(sel)
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
pr AS (
  SELECT round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z), 7) AS chord2_r
  FROM p a JOIN p b
    ON a.event_id < b.event_id
   AND b.lat BETWEEN a.lat - {specs.f(band_deg)} AND a.lat + {specs.f(band_deg)}
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + (a.z - b.z) * (a.z - b.z) <= {specs.f(r2_max)}
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_pts FROM pts),
u AS ({union})
SELECT r_idx, n_pairs, n_pts,
  CAST(CASE WHEN n_pts > 1 THEN floor(
    1000000.0 * (({specs.f(area)} * (2.0 * CAST(n_pairs AS DOUBLE)))
                 / (CAST(n_pts AS DOUBLE) * (CAST(n_pts AS DOUBLE) - 1.0))))
    ELSE 0 END AS BIGINT) AS k_e6f
FROM u
"""


def o_decay_density() -> str:
    """Time-decay density replay: the non-recursive encode prefix gives
    tiles, ages are exact integer microseconds from max(ts) (epoch_us,
    the tile_churn idiom), weights are exact bigint shifts
    1 << (BMAX - least(age // HL, BMAX)), and the emission is the exact
    half-up integer division — no floating point on either engine."""
    lvl = specs.FOCAL_LEVEL
    shift = 30 - lvl
    hl = specs.DECAY_HALF_LIFE_US
    bmax = specs.DECAY_BMAX
    scale = 1 << bmax
    return f"""
WITH pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
b AS (SELECT max(ts) AS ts_hi FROM events),
w AS (
  SELECT ij.face, ij.i >> {shift} AS ti, ij.j >> {shift} AS tj,
    CAST(1 AS BIGINT) << CAST({bmax} - least(
      (epoch_us(b.ts_hi) - epoch_us(e.ts)) // {hl}, {bmax}) AS INT) AS wt
  FROM ij JOIN events e ON e.event_id = ij.event_id CROSS JOIN b
),
agg AS (
  SELECT face, ti, tj, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(wt) AS BIGINT) AS num
  FROM w GROUP BY 1, 2, 3
)
SELECT CAST(face AS BIGINT) AS face, ti, tj, n, num,
  (2000000 * num + {scale}) // (2 * {scale}) AS decayed_e6
FROM agg
"""


def o_tile_diversity() -> str:
    """Gini-Simpson replay: leaf (face,i,j) via the encode prefix, joined
    to events for user_id, then the same two nested aggregates and the
    exact integer half-up division — no doubles anywhere."""
    lvl = specs.FOCAL_LEVEL
    shift = 30 - lvl
    return f"""
WITH pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
tu AS (
  SELECT ij.face, ij.i >> {shift} AS ti, ij.j >> {shift} AS tj,
    e.user_id, CAST(count(*) AS BIGINT) AS cu
  FROM ij JOIN events e ON e.event_id = ij.event_id
  GROUP BY 1, 2, 3, 4
),
tt AS (
  SELECT face, ti, tj, CAST(sum(cu) AS BIGINT) AS n,
    CAST(count(*) AS BIGINT) AS u_cnt,
    CAST(sum(cu * cu) AS BIGINT) AS sumsq
  FROM tu GROUP BY 1, 2, 3
)
SELECT CAST(face AS BIGINT) AS face, ti, tj, n, u_cnt, sumsq,
  (2000000 * (n * n - sumsq) + n * n) // (2 * n * n) AS simpson_e6
FROM tt
"""


def o_idw_smooth() -> str:
    """IDW smoothing replay: occupied grid counts from the encode prefix,
    rings by DISK_K-style recursive BFS (depth <= 2) from EVERY occupied
    tile with the FACE_WRAP CASE tables, min(ring) per (source, target),
    ring-1/ring-2 integer weights, exact half-up division and exact bigint
    residual — the same combinatorial machinery o_cell_disk trusts."""
    lvl = specs.FOCAL_LEVEL
    n = 1 << lvl
    shift = 30 - lvl
    in_range = f"ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}"
    w1, w2 = specs.IDW_W1, specs.IDW_W2
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
base AS (
  SELECT face, i >> {shift} AS ti, j >> {shift} AS tj,
    CAST(count(*) AS BIGINT) AS n
  FROM ij GROUP BY 1, 2, 3
),
bfs(sf, sti, stj, face, ti, tj, ring) AS (
  SELECT face, ti, tj, face, ti, tj, 0 FROM base
  UNION
  SELECT sf, sti, stj,
    CASE WHEN {in_range} THEN face ELSE {_wrap_case('f', n)} END,
    CASE WHEN {in_range} THEN ri ELSE {_wrap_case('ti', n)} END,
    CASE WHEN {in_range} THEN rj ELSE {_wrap_case('tj', n)} END,
    ring + 1
  FROM (
    SELECT w.sf, w.sti, w.stj, w.face, w.ti, w.tj, w.ring, dirs.d,
      w.ti + (CASE dirs.d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END) AS ri,
      w.tj + (CASE dirs.d WHEN 2 THEN 1 WHEN 0 THEN -1 ELSE 0 END) AS rj
    FROM bfs w, (VALUES (0),(1),(2),(3)) dirs(d)
    WHERE w.ring < 2
  ) s
),
disk AS (
  SELECT sf, sti, stj, face, ti, tj, min(ring) AS ring
  FROM bfs GROUP BY 1, 2, 3, 4, 5, 6
),
contrib AS (
  SELECT d.face, d.ti, d.tj,
    CAST(CASE d.ring WHEN 1 THEN {w1} ELSE {w2} END AS BIGINT) AS w,
    CAST(CASE d.ring WHEN 1 THEN {w1} ELSE {w2} END AS BIGINT) * b.n AS c
  FROM disk d
  JOIN base b ON b.face = d.sf AND b.ti = d.sti AND b.tj = d.stj
  WHERE d.ring > 0
),
recv AS (
  SELECT face, ti, tj, CAST(sum(c) AS BIGINT) AS num,
    CAST(sum(w) AS BIGINT) AS den
  FROM contrib GROUP BY 1, 2, 3
),
j AS (
  SELECT b.face, b.ti, b.tj, b.n,
    COALESCE(r.num, CAST(0 AS BIGINT)) AS num,
    COALESCE(r.den, CAST(0 AS BIGINT)) AS den
  FROM base b
  LEFT JOIN recv r ON b.face = r.face AND b.ti = r.ti AND b.tj = r.tj
),
k AS (
  SELECT *, CASE WHEN den > 0 THEN (2000000 * num + den) // (2 * den)
                 ELSE CAST(0 AS BIGINT) END AS idw_e6
  FROM j
)
SELECT CAST(face AS BIGINT) AS face, ti, tj, n, num, den, idw_e6,
  idw_e6 - n * 1000000 AS resid_e6
FROM k
"""


def o_embed_dedup() -> str:
    return f"""
WITH a AS (SELECT vec_id AS id_a, embedding AS ea FROM embeddings),
b AS (SELECT vec_id AS id_b, embedding AS eb FROM embeddings),
d AS (
  SELECT id_a, id_b,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))),
      (acc, v) -> acc + v) /
    (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))),
      (acc, v) -> acc + v)) *
     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(eb)), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))),
      (acc, v) -> acc + v))) AS sim
  FROM a, b WHERE id_a < id_b
)
SELECT id_a, id_b, round(sim, 6) AS sim_r FROM d WHERE sim >= {specs.EMBED_DEDUP_TAU}
"""


def _cap_exists_clause() -> str:
    vals = ", ".join(
        f"({specs.f(cx)}, {specs.f(cy)}, {specs.f(cz)}, {specs.f(r2)})"
        for _, cx, cy, cz, r2 in specs.cap_rows()
    )
    return (
        f"EXISTS (SELECT 1 FROM (VALUES {vals}) caps(cx, cy, cz, r2) "
        "WHERE (x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz) <= r2)"
    )


def o_cap_semijoin() -> str:
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz})
SELECT event_id FROM p WHERE {_cap_exists_clause()}
"""


def o_cap_antijoin() -> str:
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz})
SELECT event_id FROM p WHERE NOT {_cap_exists_clause()}
"""


def o_rasterize() -> str:
    """Replay of q_rasterize: level-6 tile through the recursive-CTE Hilbert
    encoder + edge-sign membership for the first spec polygon."""
    rid, crosses = next(iter(polygon_edge_crosses().items()))
    dets = [
        f"({specs.f(cx)} * x + {specs.f(cy)} * y + {specs.f(cz)} * z)"
        for cx, cy, cz in crosses
    ]
    inside = " AND ".join(f"{d} > 0" for d in dets)
    margin = " AND ".join(f"abs({d}) > {specs.f(specs.PIP_MARGIN)}" for d in dets)
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_hilbert_ctes("event_id")},
pxyz AS ({_XYZ.format(id="event_id", src="pts")}),
sampled AS (
  SELECT l.event_id, l.face, l.pos,
    CASE WHEN {inside} THEN 1 ELSE 0 END AS ins
  FROM leaf l JOIN pxyz p ON l.event_id = p.event_id
  WHERE {margin}
)
SELECT {_parent_from_pos(6)} AS tile,
  count(*) AS n_samples,
  -- CAST: DuckDB integer sum() yields HUGEINT, which value-hashes
  -- differently from Spark's BIGINT (the sessionize lesson)
  CAST(sum(ins) AS BIGINT) AS n_inside,
  round(CAST(sum(ins) AS DOUBLE) / count(*), 6) AS coverage_r
FROM sampled GROUP BY 1
"""


def _wrap_case(col: str, n: int) -> str:
    """CASE over face*4+dir rendering specs.FACE_WRAP for level-n grids.

    ``col`` selects which output coordinate to render ('f', 'ti', 'tj');
    the surviving edge coordinate is ti for dirs 0/2 and tj for dirs 1/3.
    """

    def sym(form: str, t: str) -> str:
        return {"0": "0", "N1": f"{n - 1}", "T": t, "N1-T": f"({n - 1} - {t})"}[form]

    arms = []
    for (f, d), (f2, fi, fj) in sorted(specs.FACE_WRAP.items()):
        t = "ti" if d in (0, 2) else "tj"
        val = {"f": str(f2), "ti": sym(fi, t), "tj": sym(fj, t)}[col]
        arms.append(f"WHEN {f * 4 + d} THEN {val}")
    return "CASE face*4 + d " + " ".join(arms) + " END"


def _st_to_uv_sql(s: str) -> str:
    """Quadratic st -> uv projection (stuv.rs:24-30) as a SQL expression."""
    return (
        f"(CASE WHEN {s} >= 0.5 THEN (4.0*{s}*{s} - 1.0)/3.0 "
        f"ELSE (1.0 - 4.0*(1.0-{s})*(1.0-{s}))/3.0 END)"
    )


def _face_uv_to_xyz_sql(face: str, u: str, v: str) -> tuple[str, str, str]:
    """face_uv_to_xyz (stuv.rs:76-86) as SQL expressions."""
    x = (
        f"(CASE {face} WHEN 0 THEN 1.0 WHEN 1 THEN -{u} WHEN 2 THEN -{u} "
        f"WHEN 3 THEN -1.0 WHEN 4 THEN {v} ELSE {v} END)"
    )
    y = (
        f"(CASE {face} WHEN 0 THEN {u} WHEN 1 THEN 1.0 WHEN 2 THEN -{v} "
        f"WHEN 3 THEN -{v} WHEN 4 THEN -1.0 ELSE {u} END)"
    )
    z = (
        f"(CASE {face} WHEN 0 THEN {v} WHEN 1 THEN {v} WHEN 2 THEN 1.0 "
        f"WHEN 3 THEN -{u} WHEN 4 THEN -{u} ELSE -1.0 END)"
    )
    return x, y, z


def _vectorize_variant_ctes(variant: str, level: int, hot: bool) -> str:
    """CTE block computing (n_cells, n_vertices, area) for one mask variant.

    Raster-side combinatorics, fully independent of the stitching algorithm
    the Spark query runs: a boundary edge is a (tile, dir) whose edge
    neighbor — same-face step or FACE_WRAP transform — is outside the mask,
    and every boundary edge contributes exactly one vertex to the stitched
    loops.  The area is the sum of per-tile spherical quad areas (two
    triangles of the 4 unit corners, the region_area_stats tri formula).
    """
    n = 1 << level
    shift = 30 - level
    v = variant
    having = (
        f"HAVING count(*) >= (SELECT 2.0*avg(c) FROM "
        f"(SELECT count(*) AS c FROM ij GROUP BY face, i >> {shift}, j >> {shift}) av_{v})"
        if hot
        else ""
    )
    corners = []
    for tag, (se, te) in {
        "a": ("s_lo", "t_lo"),
        "b": ("s_hi", "t_lo"),
        "c": ("s_hi", "t_hi"),
        "d": ("s_lo", "t_hi"),
    }.items():
        corners.append(
            f"{_st_to_uv_sql(se)} AS u_{tag}, {_st_to_uv_sql(te)} AS v_{tag}"
        )
    xyzsel = []
    for tag in "abcd":
        x, y, z = _face_uv_to_xyz_sql("face", f"u_{tag}", f"v_{tag}")
        nrm = f"sqrt(1.0 + u_{tag}*u_{tag} + v_{tag}*v_{tag})"
        xyzsel.append(
            f"{x}/{nrm} AS x_{tag}, {y}/{nrm} AS y_{tag}, {z}/{nrm} AS z_{tag}"
        )

    def tri(a: str, b: str, c: str) -> str:
        det = (
            f"(x_{a}*(y_{b}*z_{c}-z_{b}*y_{c}) + y_{a}*(z_{b}*x_{c}-x_{b}*z_{c})"
            f" + z_{a}*(x_{b}*y_{c}-y_{b}*x_{c}))"
        )
        dab = f"least(greatest(x_{a}*x_{b}+y_{a}*y_{b}+z_{a}*z_{b}, -1.0), 1.0)"
        dbc = f"least(greatest(x_{b}*x_{c}+y_{b}*y_{c}+z_{b}*z_{c}, -1.0), 1.0)"
        dca = f"least(greatest(x_{c}*x_{a}+y_{c}*y_{a}+z_{c}*z_{a}, -1.0), 1.0)"
        return f"2.0*atan2({det}, 1.0 + {dab} + {dbc} + {dca})"

    return f"""
tiles_{v} AS (SELECT face, i >> {shift} AS ti, j >> {shift} AS tj
              FROM ij GROUP BY 1,2,3 {having}),
nbr_{v} AS (
  SELECT m.face, m.ti, m.tj, d.d,
    m.ti + (CASE d.d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END) AS ri,
    m.tj + (CASE d.d WHEN 2 THEN 1 WHEN 0 THEN -1 ELSE 0 END) AS rj
  FROM tiles_{v} m, (VALUES (0),(1),(2),(3)) d(d)
),
nbr2_{v} AS (
  SELECT
    CASE WHEN ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}
         THEN face ELSE {_wrap_case('f', n)} END AS nf,
    CASE WHEN ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}
         THEN ri ELSE {_wrap_case('ti', n)} END AS nti,
    CASE WHEN ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}
         THEN rj ELSE {_wrap_case('tj', n)} END AS ntj
  FROM nbr_{v}
),
bd_{v} AS (
  SELECT count(*) AS n_vertices FROM nbr2_{v} LEFT JOIN tiles_{v} t2
    ON nbr2_{v}.nf = t2.face AND nbr2_{v}.nti = t2.ti AND nbr2_{v}.ntj = t2.tj
  WHERE t2.face IS NULL
),
st0_{v} AS (
  SELECT face,
    CAST(ti AS DOUBLE)/{n}.0 AS s_lo, CAST(ti+1 AS DOUBLE)/{n}.0 AS s_hi,
    CAST(tj AS DOUBLE)/{n}.0 AS t_lo, CAST(tj+1 AS DOUBLE)/{n}.0 AS t_hi
  FROM tiles_{v}),
cuv_{v} AS (SELECT face, {', '.join(corners)} FROM st0_{v}),
cxyz_{v} AS (SELECT face, {', '.join(xyzsel)} FROM cuv_{v}),
ar_{v} AS (SELECT sum({tri('a', 'b', 'c')} + {tri('a', 'c', 'd')}) AS area,
                  count(*) AS n_cells FROM cxyz_{v})
"""


def o_s2_vectorize() -> str:
    blocks = ",".join(
        _vectorize_variant_ctes(v, lvl, hot)
        for v, lvl, hot in specs.VECTORIZE_VARIANTS
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT '{v}' AS variant, CAST({lvl} AS BIGINT) AS level, n_cells, "
        f"n_vertices, coalesce(round(area, 7), 0.0) AS area_r FROM ar_{v}, bd_{v}"
        for v, lvl, _hot in specs.VECTORIZE_VARIANTS
    )
    return f"""
WITH pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
{blocks}
{selects}
"""


def _st_to_uv_exact_sql(s: str) -> str:
    """st -> uv mirroring the kernel's op ORDER exactly (stuv.py:48-60
    multiplies by the double 1/3; dividing by 3.0 differs by ulps).  The
    vectorize-dist oracle gates on scaled-INTEGER vertex sums, so every
    float op must be bit-identical, not merely close."""
    third = specs.f(1.0 / 3.0)
    return (
        f"(CASE WHEN {s} >= 0.5 THEN {third} * (4.0*{s}*{s} - 1.0) "
        f"ELSE {third} * (1.0 - 4.0*(1.0-{s})*(1.0-{s})) END)"
    )


def o_s2_vectorize_dist() -> str:
    """Combinatorial oracle for the DISTRIBUTED stitcher (boundary_rings).

    Recomputes — without ever stitching — the dilated mask (tiles + their
    4 FACE_WRAP edge neighbors), its boundary edges, and each edge's
    interior-left START corner: the stitcher emits exactly one ring vertex
    per boundary edge (the corner where that edge's traversal begins, in
    its own tile's face parametrization), so n_vertices and the scaled-
    integer coordinate sums pin the emitted geometry.  Corner math uses
    only IEEE-exact ops in mirrored order (see _st_to_uv_exact_sql), so
    round(coord * SCALE) is bit-identical across engines and the integer
    sums are reorder-proof.
    """
    lvl = specs.VECTORIZE_DIST_LEVEL
    lat_lo, lat_hi, lng_lo, lng_hi = specs.VECTORIZE_DIST_BOX
    n = 1 << lvl
    shift = 30 - lvl
    cell = 1 << shift
    scale = specs.f(specs.VECTORIZE_DIST_SCALE)

    def expand(src: str) -> str:
        """Per-tile 4-direction neighbor candidates with raw (ri, rj)."""
        return f"""
  SELECT {src}.face, {src}.ti, {src}.tj, dirs.d,
    ti + (CASE dirs.d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END) AS ri,
    tj + (CASE dirs.d WHEN 2 THEN 1 WHEN 0 THEN -1 ELSE 0 END) AS rj
  FROM {src}, (VALUES (0),(1),(2),(3)) dirs(d)"""

    def wrapped(src: str) -> str:
        """Neighbor coordinates after the FACE_WRAP cube transform."""
        in_range = f"ri BETWEEN 0 AND {n - 1} AND rj BETWEEN 0 AND {n - 1}"
        return f"""
  SELECT face, ti, tj, d,
    CASE WHEN {in_range} THEN face ELSE {_wrap_case('f', n)} END AS nf,
    CASE WHEN {in_range} THEN ri ELSE {_wrap_case('ti', n)} END AS nti,
    CASE WHEN {in_range} THEN rj ELSE {_wrap_case('tj', n)} END AS ntj
  FROM {src}"""

    # interior-left traversal starts edge d at corner d (corners CCW from
    # the uv-lo corner: (0,0) (1,0) (1,1) (0,1) in tile units)
    ci = "(ti + CASE d WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 0 END)"
    cj = "(tj + CASE d WHEN 2 THEN 1 WHEN 3 THEN 1 ELSE 0 END)"
    s_expr = f"CAST({ci} * {cell} AS DOUBLE) / 1073741824.0"
    t_expr = f"CAST({cj} * {cell} AS DOUBLE) / 1073741824.0"
    x0, y0, z0 = _face_uv_to_xyz_sql("face", "u", "v")
    return f"""
WITH pts AS (
  SELECT * FROM ({_latlng_cte()}) p0
  WHERE lat >= {specs.f(lat_lo)} AND lat < {specs.f(lat_hi)}
    AND lng >= {specs.f(lng_lo)} AND lng < {specs.f(lng_hi)}
),
{_fij_ctes("event_id").strip()},
base AS (SELECT face, i >> {shift} AS ti, j >> {shift} AS tj FROM ij GROUP BY 1,2,3),
dn AS ({expand('base')}),
dn2 AS ({wrapped('dn')}),
mask AS (
  SELECT face, ti, tj FROM base
  UNION
  SELECT nf, nti, ntj FROM dn2
),
nb AS ({expand('mask')}),
nb2 AS ({wrapped('nb')}),
bd AS (
  SELECT nb2.face, nb2.ti, nb2.tj, nb2.d
  FROM nb2 LEFT JOIN mask t2
    ON nb2.nf = t2.face AND nb2.nti = t2.ti AND nb2.ntj = t2.tj
  WHERE t2.face IS NULL
),
cst AS (SELECT face, {s_expr} AS s, {t_expr} AS t FROM bd),
cuv AS (SELECT face, {_st_to_uv_exact_sql('s')} AS u, {_st_to_uv_exact_sql('t')} AS v FROM cst),
cxyz AS (SELECT {x0} AS x, {y0} AS y, {z0} AS z FROM cuv),
cn AS (SELECT x, y, z, sqrt(x*x + y*y + z*z) AS nrm FROM cxyz),
verts AS (SELECT x/nrm AS vx, y/nrm AS vy, z/nrm AS vz FROM cn)
SELECT CAST({lvl} AS BIGINT) AS level,
  (SELECT count(*) FROM mask) AS n_cells,
  count(*) AS n_vertices,
  CAST(sum(CAST(round(vx * {scale}) AS BIGINT)) AS BIGINT) AS sx,
  CAST(sum(CAST(round(vy * {scale}) AS BIGINT)) AS BIGINT) AS sy,
  CAST(sum(CAST(round(vz * {scale}) AS BIGINT)) AS BIGINT) AS sz
FROM verts
"""


def o_cap_tile_rollup() -> str:
    vals = ", ".join(
        f"('{rid}', {specs.f(cx)}, {specs.f(cy)}, {specs.f(cz)}, {specs.f(r2)})"
        for rid, cx, cy, cz, r2 in specs.cap_rows()
    )
    return f"""
WITH RECURSIVE pts AS ({_latlng_cte()}),
{_hilbert_ctes("event_id")},
pxyz AS ({_XYZ.format(id="event_id", src="pts")}),
hits AS (
  SELECT c.region_id, l.event_id, l.face, l.pos
  FROM leaf l
  JOIN pxyz p ON l.event_id = p.event_id
  JOIN (VALUES {vals}) c(region_id, cx, cy, cz, r2)
    ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)
       + (p.z - c.cz) * (p.z - c.cz) <= c.r2
)
SELECT region_id, {_parent_from_pos(8)} AS tile, count(*) AS n_docs
FROM hits GROUP BY 1, 2
"""


def o_polyline_buffer_join() -> str:
    """Brute-force: min per-segment chord2 <= chord2(buffer)."""
    import math

    from .specs import POLYLINE_BUFFER_DEG

    best = _segment_chord_exprs()
    s = math.sin(0.5 * math.radians(POLYLINE_BUFFER_DEG))
    thresh = 4.0 * s * s
    xyz = _XYZ.format(id="event_id", src="pts")
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz})
SELECT event_id FROM p WHERE least({best}, 4.0) <= {specs.f(thresh)}
"""


def _nested_ring_tests() -> tuple[list[str], str]:
    """Per-ring convex edge-sign inside tests + the all-edges margin test
    for the nested polygon (independent re-derivation from the ring
    vertices, mirroring o_pip_join's method)."""
    insides = []
    margins = []
    for ring in specs.NESTED_RINGS:
        verts = specs.polygon_vertices_xyz(ring)
        n = len(verts)
        dets = []
        for k in range(n):
            a, b = verts[k], verts[(k + 1) % n]
            cx = a[1] * b[2] - a[2] * b[1]
            cy = a[2] * b[0] - a[0] * b[2]
            cz = a[0] * b[1] - a[1] * b[0]
            d = f"({specs.f(cx)} * x + {specs.f(cy)} * y + {specs.f(cz)} * z)"
            dets.append(d)
            margins.append(f"abs({d}) > {specs.f(specs.PIP_MARGIN)}")
        insides.append("(" + " AND ".join(f"{d} > 0" for d in dets) + ")")
    return insides, " AND ".join(margins)


def o_poly_nested_join() -> str:
    xyz = _XYZ.format(id="event_id", src="pts")
    insides, margin = _nested_ring_tests()
    parity = " + ".join(f"(CASE WHEN {i} THEN 1 ELSE 0 END)" for i in insides)
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz})
SELECT '{specs.NESTED_POLYGON_ID}' AS region_id, event_id
FROM p WHERE ({parity}) % 2 = 1 AND ({margin})
"""


def o_poly_overlay_join() -> str:
    """Membership in union/intersection/difference re-derived WITHOUT the
    overlay kernel: boolean algebra over the two operands' convex edge-sign
    tests (margin-excluded near every edge plane of either operand)."""
    xyz = _XYZ.format(id="event_id", src="pts")
    tests = []
    margins = []
    for ring in (specs.OVERLAY_A, specs.OVERLAY_B):
        verts = specs.polygon_vertices_xyz(ring)
        n = len(verts)
        dets = []
        for k in range(n):
            a, b = verts[k], verts[(k + 1) % n]
            cx = a[1] * b[2] - a[2] * b[1]
            cy = a[2] * b[0] - a[0] * b[2]
            cz = a[0] * b[1] - a[1] * b[0]
            d = f"({specs.f(cx)} * x + {specs.f(cy)} * y + {specs.f(cz)} * z)"
            dets.append(d)
            margins.append(f"abs({d}) > {specs.f(specs.PIP_MARGIN)}")
        tests.append("(" + " AND ".join(f"{d} > 0" for d in dets) + ")")
    in_a, in_b = tests
    margin = " AND ".join(margins)
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
m AS (SELECT event_id, {in_a} AS ia, {in_b} AS ib FROM p WHERE {margin})
SELECT 'ovl_union' AS region_id, event_id FROM m WHERE ia OR ib
UNION ALL
SELECT 'ovl_inter' AS region_id, event_id FROM m WHERE ia AND ib
UNION ALL
SELECT 'ovl_diff' AS region_id, event_id FROM m WHERE ia AND NOT ib
"""


def _balanced_and(terms: list[str]) -> str:
    """Balanced AND tree: DuckDB's binder recursion limit (128) rejects
    left-deep 512-term chains."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} AND {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def o_coastline_join() -> str:
    """Convex edge-sign membership over all 512 coastline edges, margin
    excluded both sides — independent of the covering/index machinery."""
    xyz = _XYZ.format(id="event_id", src="pts")
    verts = specs.coastline_vertices_xyz()
    n = len(verts)
    insides, margins = [], []
    for k in range(n):
        a, b = verts[k], verts[(k + 1) % n]
        cx = a[1] * b[2] - a[2] * b[1]
        cy = a[2] * b[0] - a[0] * b[2]
        cz = a[0] * b[1] - a[1] * b[0]
        d = f"({specs.f(cx)} * x + {specs.f(cy)} * y + {specs.f(cz)} * z)"
        insides.append(f"({d} > 0)")
        margins.append(f"(abs({d}) > {specs.f(specs.PIP_MARGIN)})")
    inside = _balanced_and(insides)
    margin = _balanced_and(margins)
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz})
SELECT '{specs.COASTLINE_ID}' AS region_id, event_id
FROM p WHERE {inside} AND {margin}
"""


def _region_triangle_values() -> str:
    """VALUES rows (region_id, sign, ax..cz): every region decomposed into
    its triangle fan with the per-ring depth sign, vertex coords as
    literals — DuckDB recomputes area/centroid from them in SQL."""
    rows = []

    def fan(rid: str, verts, sign: int):
        v0 = verts[0]
        for i in range(1, len(verts) - 1):
            b, c = verts[i], verts[i + 1]
            # CAST: DuckDB types bare VALUES numerics as DECIMAL, whose scale
            # overflows under repeated multiplication
            coords = ", ".join(f"CAST({specs.f(x)} AS DOUBLE)" for x in (*v0, *b, *c))
            rows.append(f"('{rid}', CAST({sign} AS DOUBLE), {coords})")

    for rid, ring in specs.POLYGONS:
        fan(rid, specs.polygon_vertices_xyz(ring), 1)
    for depth, ring in enumerate(specs.NESTED_RINGS):
        fan(
            specs.NESTED_POLYGON_ID,
            specs.polygon_vertices_xyz(ring),
            1 if depth % 2 == 0 else -1,
        )
    return ",\n  ".join(rows)


def o_region_area_stats() -> str:
    xyz = _XYZ.format(id="event_id", src="pts")
    # counts: convex regions via edge-sign branches, nested via parity
    branches = []
    for rid, crosses in polygon_edge_crosses().items():
        dets = [
            f"({specs.f(cx)} * x + {specs.f(cy)} * y + {specs.f(cz)} * z)"
            for cx, cy, cz in crosses
        ]
        inside = " AND ".join(f"{d} > 0" for d in dets)
        margin = " AND ".join(f"abs({d}) > {specs.f(specs.PIP_MARGIN)}" for d in dets)
        branches.append(
            f"SELECT '{rid}' AS region_id, event_id FROM p WHERE ({inside}) AND ({margin})"
        )
    insides, nmargin = _nested_ring_tests()
    parity = " + ".join(f"(CASE WHEN {i} THEN 1 ELSE 0 END)" for i in insides)
    branches.append(
        f"SELECT '{specs.NESTED_POLYGON_ID}' AS region_id, event_id FROM p "
        f"WHERE ({parity}) % 2 = 1 AND ({nmargin})"
    )
    hits = "\nUNION ALL\n".join(branches)
    return f"""
WITH pts AS ({_latlng_cte()}),
p AS ({xyz}),
hits AS ({hits}),
counts AS (SELECT region_id, count(*) AS n_events FROM hits GROUP BY 1),
tri(region_id, s, ax, ay, az, bx, by, bz, cx, cy, cz) AS (VALUES
  {_region_triangle_values()}
),
t1 AS (
  SELECT *,
    atan2(sqrt(POW(by*cz - bz*cy, 2) + POW(bz*cx - bx*cz, 2) + POW(bx*cy - by*cx, 2)),
          bx*cx + by*cy + bz*cz) AS sa,
    atan2(sqrt(POW(cy*az - cz*ay, 2) + POW(cz*ax - cx*az, 2) + POW(cx*ay - cy*ax, 2)),
          cx*ax + cy*ay + cz*az) AS sb,
    atan2(sqrt(POW(ay*bz - az*by, 2) + POW(az*bx - ax*bz, 2) + POW(ax*by - ay*bx, 2)),
          ax*bx + ay*by + az*bz) AS sc,
    ax*(by*cz - bz*cy) + ay*(bz*cx - bx*cz) + az*(bx*cy - by*cx) AS det,
    least(greatest(ax*bx + ay*by + az*bz, -1.0), 1.0) AS dab,
    least(greatest(bx*cx + by*cy + bz*cz, -1.0), 1.0) AS dbc,
    least(greatest(cx*ax + cy*ay + cz*az, -1.0), 1.0) AS dca
  FROM tri
),
t2 AS (
  SELECT *,
    2 * atan2(det, 1.0 + dab + dbc + dca) AS tri_area,
    CASE WHEN sa = 0 THEN 1.0 ELSE sa / sin(sa) END AS ra,
    CASE WHEN sb = 0 THEN 1.0 ELSE sb / sin(sb) END AS rb,
    CASE WHEN sc = 0 THEN 1.0 ELSE sc / sin(sc) END AS rc
  FROM t1
),
t3 AS (
  SELECT region_id, s, tri_area,
    0.5 * (((by-ay)*(cz-az) - (cy-ay)*(bz-az)) * ra
         + ((cy-ay)*az - ay*(cz-az)) * (rb - ra)
         + (ay*(bz-az) - (by-ay)*az) * (rc - ra)) AS ccx,
    0.5 * (((bz-az)*(cx-ax) - (cz-az)*(bx-ax)) * ra
         + ((cz-az)*ax - az*(cx-ax)) * (rb - ra)
         + (az*(bx-ax) - (bz-az)*ax) * (rc - ra)) AS ccy,
    0.5 * (((bx-ax)*(cy-ay) - (cx-ax)*(by-ay)) * ra
         + ((cx-ax)*ay - ax*(cy-ay)) * (rb - ra)
         + (ax*(by-ay) - (bx-ax)*ay) * (rc - ra)) AS ccz
  FROM t2
),
geo AS (
  SELECT region_id, sum(s * tri_area) AS area,
    sum(s * ccx) AS gx, sum(s * ccy) AS gy, sum(s * ccz) AS gz
  FROM t3 GROUP BY 1
)
SELECT region_id, n_events,
  round(area, 9) AS area_r,
  round(gx, 9) AS cx_r, round(gy, 9) AS cy_r, round(gz, 9) AS cz_r,
  round(CAST(n_events AS DOUBLE) / area, 6) AS density_r
FROM counts JOIN geo USING (region_id)
"""


def o_simhash_dedup() -> str:
    """Replay of q_simhash_dedup: simhash per doc (same CTE as o_simhash),
    min-doc_id canonical representative per simhash group."""
    fold = _CHAR_FOLD.format(col="tok")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(32)
    )
    terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM documents, UNNEST(split(text, ' ')) AS u(tok)
  WHERE tok <> ''
),
th AS (SELECT doc_id, {fold} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM th GROUP BY 1),
sig AS (SELECT doc_id, {terms} AS simhash FROM votes)
SELECT doc_id, simhash,
  min(doc_id) OVER (PARTITION BY simhash) AS canonical_id,
  doc_id <> min(doc_id) OVER (PARTITION BY simhash) AS is_dup
FROM sig
"""


def o_simhash_banded() -> str:
    """Replay of q_simhash_banded: same simhash CTE, k+1 disjoint bands of
    32/(k+1) bits, the same LSH_BUCKET_CAP hot-bucket drop, band self-join,
    and the identical integer hamming verify bit_count(xor(a,b)) <= k."""
    from .queries import SIMHASH_HAMMING_K

    k = SIMHASH_HAMMING_K
    bands, width = k + 1, 32 // (k + 1)
    fold = _CHAR_FOLD.format(col="tok")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(32)
    )
    terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_idx, (simhash >> {b * width}) & {(1 << width) - 1} AS bval FROM sig"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM documents, UNNEST(split(text, ' ')) AS u(tok)
  WHERE tok <> ''
),
th AS (SELECT doc_id, {fold} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM th GROUP BY 1),
sig AS (SELECT doc_id, {terms} AS simhash FROM votes),
bands0 AS ({band_selects}),
bsize AS (SELECT band_idx, bval, count(*) AS bc FROM bands0 GROUP BY 1, 2),
bands AS (SELECT doc_id, simhash, band_idx, bval FROM bands0 JOIN bsize USING (band_idx, bval)
          WHERE bc <= {specs.LSH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sha, b.simhash AS shb
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bval = b.bval
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= {k}
"""


def o_minhash_lsh() -> str:
    """DuckDB replay of the full MinHash-LSH pipeline (q_minhash_lsh):
    word-3gram -> char-fold hash -> 128 affine min-hashes -> 16 banded
    signatures -> band self-join -> exact estimate.  All integer math, so
    candidate pairs and estimates match Spark bit-for-bit."""
    n_perm, bands, rows_per = 128, 16, 8
    fold = _CHAR_FOLD.format(col="g")
    mins = ", ".join(
        f"min((gh * {2 * i + 1} + {i * 7919 + 1}) % {specs.FP_MOD}) AS m{i}"
        for i in range(n_perm)
    )
    band_selects = []
    for bnd in range(bands):
        parts = " || '_' || ".join(
            f"CAST(m{bnd * rows_per + r} AS VARCHAR)" for r in range(rows_per)
        )
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band_idx, md5({parts}) AS bk FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    # balanced sum tree: a left-deep 128-term chain trips DuckDB's binder
    # recursion limit (max depth 128)
    terms = [f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(n_perm)]
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    est = terms[0]
    return f"""
WITH {_minhash_ctes()}
SELECT doc_a, doc_b, est_sim FROM scored
"""


def _minhash_ctes() -> str:
    """Shared MinHash-LSH CTE chain through ``scored`` (doc_a, doc_b,
    est_sim) — the candidate pairs with their exact signature-agreement
    estimate, used by o_minhash_lsh and o_dedup_cluster."""
    n_perm, bands, rows_per = 128, 16, 8
    fold = _CHAR_FOLD.format(col="g")
    mins = ", ".join(
        f"min((gh * {2 * i + 1} + {i * 7919 + 1}) % {specs.FP_MOD}) AS m{i}"
        for i in range(n_perm)
    )
    band_selects = []
    for bnd in range(bands):
        parts = " || '_' || ".join(
            f"CAST(m{bnd * rows_per + r} AS VARCHAR)" for r in range(rows_per)
        )
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band_idx, md5({parts}) AS bk FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    # balanced sum tree: a left-deep 128-term chain trips DuckDB's binder
    # recursion limit (max depth 128)
    terms = [f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(n_perm)]
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    est = terms[0]
    return f"""toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, g
  FROM toks, UNNEST(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(g)
),
gh AS (SELECT doc_id, {fold} AS gh FROM grams),
sig AS (SELECT doc_id, {mins} FROM gh GROUP BY 1),
bands0 AS ({bands_sql}),
-- band-bucket skew cap (specs.LSH_BUCKET_CAP): buckets larger than the cap
-- are dropped whole (template clusters belong to exact/simhash dedup)
bsize AS (SELECT band_idx, bk, count(*) AS bc FROM bands0 GROUP BY 1, 2),
bands AS (SELECT doc_id, band_idx, bk FROM bands0 JOIN bsize USING (band_idx, bk)
          WHERE bc <= {specs.LSH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bk = b.bk
  WHERE a.doc_id < b.doc_id
),
scored AS MATERIALIZED (
  SELECT doc_a, doc_b,
    round(CAST({est} AS DOUBLE) / {n_perm}, 6) AS est_sim
  FROM cand
  JOIN (SELECT doc_id AS doc_a, * EXCLUDE (doc_id) FROM sig) sa USING (doc_a)
  JOIN (SELECT doc_id AS doc_b, * EXCLUDE (doc_id) FROM sig) sb USING (doc_b)
)"""


def o_dedup_cluster() -> str:
    """Near-dup clustering replay: dup edges = scored pairs at
    est_sim >= DEDUP_SIM_THRESHOLD, components by recursive-CTE
    reachability (min reachable id per node, the Spark hash-min fixpoint),
    then every document labeled with its canonical id and cluster size
    (itself / 1 when unique).  Dup components are replica groups — a few
    docs each — so the size^2 walk is trivially bounded."""
    return f"""
WITH RECURSIVE {_minhash_ctes()},
dup AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM scored WHERE est_sim >= {specs.f(specs.DEDUP_SIM_THRESHOLD)}
),
sym AS MATERIALIZED (SELECT u, v FROM dup UNION ALL SELECT v, u FROM dup),
nodes AS (SELECT DISTINCT u AS node FROM sym),
walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
sizes AS (SELECT cluster_id, count(*) AS csz FROM cc GROUP BY cluster_id)
SELECT d.doc_id,
  coalesce(cc.cluster_id, d.doc_id) AS canonical_id,
  CAST(coalesce(s.csz, 1) AS BIGINT) AS cluster_size,
  coalesce(cc.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d
LEFT JOIN cc ON cc.node = d.doc_id
LEFT JOIN sizes s ON s.cluster_id = cc.cluster_id
"""


def o_cell_compact() -> str:
    """Compaction replayed in closed form: level-COMPACT_LEVEL counts via
    the non-recursive encode prefix -> one grouped explode over all
    ancestor levels (quadtree parent = coordinate right-shift) -> complete
    = all 4^(L-l) leaf descendants occupied -> keep complete cells whose
    parent is not complete.  No recursion anywhere."""
    lvl = specs.COMPACT_LEVEL
    shift = 30 - lvl
    levels_values = ", ".join(f"({l})" for l in range(lvl + 1))
    return f"""
WITH pts AS ({_latlng_cte()}),
{_fij_ctes("event_id").strip()},
base AS (
  SELECT face, i >> {shift} AS ti, j >> {shift} AS tj, count(*) AS n
  FROM ij GROUP BY 1, 2, 3
),
anc AS (
  SELECT lv.l AS level, face,
    ti >> ({lvl} - lv.l) AS ti_l, tj >> ({lvl} - lv.l) AS tj_l,
    count(*) AS n_tiles, CAST(sum(n) AS BIGINT) AS n_events
  FROM base, (VALUES {levels_values}) lv(l)
  GROUP BY 1, 2, 3, 4
),
comp AS (
  SELECT * FROM anc WHERE n_tiles = (CAST(1 AS BIGINT) << (2 * ({lvl} - level)))
)
SELECT CAST(c.level AS BIGINT) AS level, CAST(c.face AS BIGINT) AS face,
  c.ti_l AS ti, c.tj_l AS tj, c.n_tiles, c.n_events
FROM comp c
LEFT JOIN comp p
  ON p.level = c.level - 1 AND p.face = c.face
 AND p.ti_l = (c.ti_l >> 1) AND p.tj_l = (c.tj_l >> 1)
WHERE p.level IS NULL
"""


def o_events_cube() -> str:
    return """
SELECT date_trunc('hour', ts) AS hour, event_type,
  CAST(GROUPING(date_trunc('hour', ts), event_type) AS BIGINT) AS gid,
  count(*) AS cnt,
  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE(date_trunc('hour', ts), event_type)
"""


def o_asof_join() -> str:
    """Window replay of the as-of join (same interleave-and-carry plan)."""
    return """
WITH pc AS (
  SELECT event_id, user_id, ts,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events WHERE event_type IN ('click', 'purchase')
),
wdw AS (
  SELECT *,
    last_value(CASE WHEN is_p = 0 THEN event_id END IGNORE NULLS) OVER w AS click_id,
    last_value(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS) OVER w AS click_ts
  FROM pc
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_p, event_id ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, ts AS purchase_ts, click_id, click_ts,
  epoch_us(ts) - epoch_us(click_ts) AS gap_us
FROM wdw WHERE is_p = 1
"""


def o_token_count() -> str:
    from .queries import BPE_PAT

    # Standard (non-escaping) SQL string: backslashes reach RE2 verbatim.
    pat = BPE_PAT.replace("'", "''")
    return f"""
SELECT doc_id,
  length(text) - length(replace(text, ' ', '')) + 1 AS n_ws_tokens,
  CAST(length(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_bpe_tokens,
  round(CAST(length(regexp_extract_all(text, '{pat}')) AS DOUBLE)
        / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE), 6)
    AS pieces_per_word
FROM documents
"""


def o_keyterms() -> str:
    """TF-IDF-shaped lift replay: the 6-dp lift is an exact integer
    half-up division over the same whitespace tokenization (no engine
    round()); ties break by token ASC like the Spark window."""
    return f"""
WITH toks AS (
  SELECT doc_id,
    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
    unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, n_tokens, tok, count(*) AS tf
  FROM toks WHERE tok <> '' GROUP BY doc_id, n_tokens, tok
),
d AS (
  SELECT *, count(*) OVER (PARTITION BY tok) AS df,
    (SELECT count(*) FROM documents) AS n_docs
  FROM tf
),
r AS (
  SELECT doc_id, tok, tf, df, n_tokens,
    (2000000 * tf * n_docs + n_tokens * df) // (2 * n_tokens * df) AS lift_e6
  FROM d
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lift_e6 DESC, tok ASC) AS rnk
  FROM r
)
SELECT doc_id, rnk, tok, tf, df, n_tokens, lift_e6
FROM rk WHERE rnk <= {specs.KEYTERMS_K}
"""


def o_doc_bigrams() -> str:
    """Collocation replay: DuckDB zips same-SELECT unnests positionally,
    so unnest(a[1:len-1]) / unnest(a[2:len]) IS the consecutive-pair
    explode; the lift is the keyterms exact integer half-up division (no
    log(), no engine round()); the top-K is a row_number over the same
    (lift DESC, w1, w2) total order Spark's TakeOrderedAndProject uses."""
    return f"""
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS a FROM documents
),
uni AS (SELECT unnest(a) AS w FROM t),
ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY w),
nt AS (SELECT CAST(sum(cu) AS BIGINT) AS n_tok FROM ucnt),
pr AS (
  SELECT unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2 FROM t
),
bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM pr GROUP BY 1, 2 HAVING count(*) >= {specs.BIGRAM_MIN_COUNT}
),
d AS (
  SELECT bc.w1, bc.w2, c_xy, u1.cu AS c_x, u2.cu AS c_y, nt.n_tok,
    (2000000 * c_xy * nt.n_tok + u1.cu * u2.cu) // (2 * u1.cu * u2.cu) AS lift_e6
  FROM bc
  JOIN ucnt u1 ON u1.w = bc.w1
  JOIN ucnt u2 ON u2.w = bc.w2, nt
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY lift_e6 DESC, w1 ASC, w2 ASC) AS rnk
  FROM d
)
SELECT CAST(rnk AS BIGINT) AS rnk, w1, w2, c_xy, c_x, c_y, n_tok, lift_e6
FROM rk WHERE rnk <= {specs.BIGRAM_K}
"""


def o_sample_hash() -> str:
    fold = _CHAR_FOLD.format(col="CAST(doc_id AS VARCHAR)")
    return f"""
WITH h AS (SELECT doc_id, source, CAST(({fold}) % 10 AS BIGINT) AS bucket FROM documents)
SELECT doc_id, source, bucket FROM h WHERE bucket < 3
"""


ORACLES = {
    "s2_tile_assign": o_tile_assign,
    "s2_cell_hierarchy": o_cell_hierarchy,
    "s2_cap_join": o_cap_join,
    # identical semantics over the Hilbert-clustered layout — same oracle
    "s2_cap_join_clustered": o_cap_join,
    "s2_cap_semijoin": o_cap_semijoin,
    "s2_cap_antijoin": o_cap_antijoin,
    "s2_cap_tile_rollup": o_cap_tile_rollup,
    "s2_rasterize": o_rasterize,
    "s2_vectorize": o_s2_vectorize,
    "s2_vectorize_dist": o_s2_vectorize_dist,
    "s2_rect_join": o_rect_join,
    "s2_pip_join": o_pip_join,
    "s2_poly_nested_join": o_poly_nested_join,
    "s2_poly_overlay_join": o_poly_overlay_join,
    "s2_coastline_join": o_coastline_join,
    "s2_region_area_stats": o_region_area_stats,
    "s2_knn": o_knn,
    "s2_knn_cellring": o_knn,
    "s2_distance_join": o_distance_join,
    "s2_spatial_cluster": o_spatial_cluster,
    "s2_dbscan": o_dbscan,
    "s2_cluster_stats": o_cluster_stats,
    "s2_cell_disk": o_cell_disk,
    "s2_cell_compact": o_cell_compact,
    "s2_tile_pyramid": o_tile_pyramid,
    "dedup_cluster": o_dedup_cluster,
    "s2_focal_density": o_focal_density,
    "s2_geo_sample": o_geo_sample,
    "s2_trajectory_step": o_trajectory_step,
    "s2_trajectory_stats": o_trajectory_stats,
    "s2_bearing": o_bearing,
    "doc_quality": o_doc_quality,
    "geo_training_features": o_geo_training_features,
    "s2_colocation_join": o_colocation_join,
    "s2_od_matrix": o_od_matrix,
    "s2_covering_set_ops": o_covering_set_ops,
    "s2_segment_distance": o_segment_distance,
    "s2_snap_join": o_snap_join,
    "s2_voronoi_assign": o_voronoi_assign,
    "s2_step_midpoint": o_step_midpoint,
    "s2_speed_filter": o_speed_filter,
    "s2_waypoints": o_waypoints,
    "s2_traj_simplify": o_traj_simplify,
    "s2_traj_jaccard": o_traj_jaccard,
    "s2_line_crossings": o_line_crossings,
    "s2_crossing_points": o_crossing_points,
    "s2_self_intersect": o_self_intersect,
    "s2_stay_points": o_stay_points,
    "s2_tile_churn": o_tile_churn,
    "s2_hotspot": o_hotspot,
    "s2_moran": o_moran,
    "s2_ripley_k": o_ripley_k,
    "s2_tile_diversity": o_tile_diversity,
    "s2_idw_smooth": o_idw_smooth,
    "s2_decay_density": o_decay_density,
    "s2_polyline_buffer_join": o_polyline_buffer_join,
    "dedup_exact": o_dedup_exact,
    "text_stats": o_text_stats,
    "lang_id": o_lang_id,
    "fingerprint": o_fingerprint,
    "ngram_jaccard": o_ngram_jaccard,
    "minhash_lsh": o_minhash_lsh,
    "simhash": o_simhash,
    "simhash_dedup": o_simhash_dedup,
    "simhash_banded": o_simhash_banded,
    "ann_cosine": o_ann_cosine,
    "ann_ivf": o_ann_ivf,
    "ann_lsh": o_ann_lsh,
    "embed_dedup": o_embed_dedup,
    "span_pipeline": o_span_pipeline,
    "geo_extract": o_geo_extract,
    "media_features": o_media_features,
    "pricing_summary": o_pricing_summary,
    "revenue_by_nation": o_revenue_by_nation,
    "top_orders": o_top_orders,
    "events_hourly": o_events_hourly,
    "sessionize": o_sessionize,
    "events_cube": o_events_cube,
    "asof_join": o_asof_join,
    "token_count": o_token_count,
    "doc_keyterms": o_keyterms,
    "doc_bigrams": o_doc_bigrams,
    "sample_hash": o_sample_hash,
}
# Every query is oracled.  ann_ivf's search is approximate *relative to the
# exact ann_cosine*, but its pipeline is fully deterministic, so o_ann_ivf
# replays it exactly; the recall@5 gate vs ann_cosine remains in tests as
# defense-in-depth.


def oracle_sql() -> dict[str, str]:
    return {name: fn() for name, fn in ORACLES.items()}
