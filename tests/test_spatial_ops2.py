"""Numpy third-direction replays for the session's five spatial-analytics
queries (snap / voronoi / step-midpoint / tile-churn / hotspot): the DuckDB
oracle is the driver's gate; these pin each query's Spark plan to an
independent numpy computation so a matched-but-wrong oracle pair can't slip
through."""

from __future__ import annotations

import duckdb
import numpy as np

from rust_s2_spark.engine import specs
from rust_s2_spark.kernel import edgeutil as eu
from rust_s2_spark.kernel import hierarchy as h
from rust_s2_spark.kernel import hilbert

SF = "/root/testdata/sf0.001"


def _ids(table: str = "events", col: str = "event_id") -> np.ndarray:
    return (
        duckdb.sql(f"SELECT {col} FROM '{SF}/{table}.parquet'")
        .fetchnumpy()[col]
        .astype(np.int64)
    )


def _xyz(ids: np.ndarray) -> np.ndarray:
    lat, lng = specs.latlng_np(ids)
    la, ln = np.radians(lat), np.radians(lng)
    return np.stack(
        [np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], axis=1
    )


def test_snap_join_matches_numpy(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_snap_join"](spark, SF).collect()
    ids = _ids()
    xs = _xyz(ids)
    ds = np.stack(
        [
            eu.chord2_point_to_edge(xs, np.asarray(a), np.asarray(b))
            for a, b in specs.polyline_segments_xyz()
        ],
        axis=0,
    )
    seg = np.argmin(ds, axis=0)
    best = ds[seg, np.arange(ds.shape[1])]
    ang = np.round(np.degrees(2.0 * np.arcsin(0.5 * np.sqrt(np.minimum(best, 4.0)))), 6)
    want = {int(i): (int(s), float(a)) for i, s, a in zip(ids, seg, ang)}
    got = {r.event_id: (r.seg, r.dist_deg_r) for r in rows}
    assert got == want
    assert len({s for s, _ in got.values()}) == len(specs.polyline_segments_xyz())
    clear_geo_cache()


def test_voronoi_assign_matches_numpy(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_voronoi_assign"](spark, SF).collect()
    ids = _ids()
    xs = _xyz(ids)
    hubs = np.array([[cx, cy, cz] for _, _, cx, cy, cz in specs.hub_rows()])
    # mirror the SQL op tree: (x-cx)^2 + (y-cy)^2 + (z-cz)^2 per hub
    d = ((xs[:, None, :] - hubs[None, :, :]) ** 2).sum(axis=2)
    hub = np.argmin(d, axis=1)
    best = np.round(d[np.arange(len(ids)), hub], 7)
    want = {int(i): (int(hb), float(b)) for i, hb, b in zip(ids, hub, best)}
    got = {r.event_id: (r.hub, r.chord2_r) for r in rows}
    assert got == want
    # the hub set must be non-trivially used
    assert len({hb for hb, _ in got.values()}) >= 8
    clear_geo_cache()


def test_step_midpoint_matches_numpy(spark):
    """Pins the with_leaf_cellid_xyz pure-Column walk to the numpy kernel
    encode (cellid_from_xyz) over DERIVED points — the xyz entry the
    lat/lng tile_assign vectors never exercise."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_step_midpoint"](spark, SF).collect()
    ev = duckdb.sql(
        f"SELECT event_id, user_id, epoch_us(ts) AS us FROM '{SF}/events.parquet'"
    ).fetchnumpy()
    ids = ev["event_id"].astype(np.int64)
    xs = _xyz(ids)
    order = np.lexsort((ids, ev["us"].astype(np.int64), ev["user_id"]))
    want = {}
    for k in range(1, len(order)):
        a, b = order[k - 1], order[k]
        if ev["user_id"][a] != ev["user_id"][b]:
            continue
        m = xs[a] + xs[b]
        nrm = np.sqrt(m[0] * m[0] + m[1] * m[1] + m[2] * m[2])
        if not nrm > 0.0:
            continue
        u = m / nrm
        leaf = hilbert.cellid_from_xyz(u[0], u[1], u[2])
        tile = h.parent(np.uint64(leaf), specs.MID_LEVEL)
        want[int(ids[b])] = (
            int(ev["user_id"][b]),
            int(ids[a]),
            int(np.uint64(tile).astype(np.int64)),
        )
    got = {r.event_id: (r.user_id, r.prev_event, r.mid_tile) for r in rows}
    assert got == want
    assert len(got) > 900
    clear_geo_cache()


def _steps():
    """(prev_idx, cur_idx) index pairs per user in (ts, event_id) order,
    plus ids / xyz / epoch-us arrays."""
    ev = duckdb.sql(
        f"SELECT event_id, user_id, epoch_us(ts) AS us FROM '{SF}/events.parquet'"
    ).fetchnumpy()
    ids = ev["event_id"].astype(np.int64)
    us = ev["us"].astype(np.int64)
    uid = ev["user_id"].astype(np.int64)
    order = np.lexsort((ids, us, uid))
    pairs = [
        (order[k - 1], order[k])
        for k in range(1, len(order))
        if uid[order[k - 1]] == uid[order[k]]
    ]
    return ids, us, uid, _xyz(ids), pairs


def test_speed_filter_matches_numpy(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_speed_filter"](spark, SF).collect()
    ids, us, uid, xs, pairs = _steps()
    want = {}
    for a, b in pairs:
        dt = int(us[b] - us[a])
        chord2 = float(((xs[b] - xs[a]) ** 2).sum())
        dist = round(
            float(np.degrees(2.0 * np.arcsin(0.5 * np.sqrt(min(chord2, 4.0))))), 6
        )
        speed = round(dist * 3600000000.0 / float(dt), 6) if dt > 0 else None
        if dt == 0:
            band = "anomalous"
        elif speed <= 15.0:
            band = "plausible"
        elif speed <= 50.0:
            band = "fast"
        else:
            band = "anomalous"
        want[int(ids[b])] = (int(uid[b]), int(ids[a]), dt, dist, speed, band)
    got = {
        r.event_id: (r.user_id, r.prev_event, r.dt_us, r.dist_deg_r, r.speed_r, r.band)
        for r in rows
    }
    assert got == want
    assert {b for *_, b in got.values()} == {"plausible", "fast", "anomalous"}
    clear_geo_cache()


def test_waypoints_match_numpy(spark):
    from rust_s2_spark.engine import specs as sp
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_waypoints"](spark, SF).collect()
    ids, us, uid, xs, pairs = _steps()
    want = {}
    for a, b in pairs:
        chord2 = float(((xs[b] - xs[a]) ** 2).sum())
        theta = 2.0 * np.arcsin(0.5 * np.sqrt(min(chord2, 4.0)))
        sin_t = np.sin(theta)
        if not sin_t > 0.0:
            continue
        for k, t in enumerate(sp.WAYPOINT_TS, start=1):
            wa = np.sin((1.0 - t) * theta) / sin_t
            wb = np.sin(t * theta) / sin_t
            w = wa * xs[a] + wb * xs[b]
            lat = round(float(np.degrees(np.arctan2(w[2], np.sqrt(w[0] * w[0] + w[1] * w[1])))), 6)
            lng = round(float(np.degrees(np.arctan2(w[1], w[0]))), 6)
            want[(int(ids[b]), k)] = (int(uid[b]), lat, lng)
    got = {(r.event_id, r.k): (r.user_id, r.lat_r, r.lng_r) for r in rows}
    assert got == want
    # every kept step emits exactly K waypoints
    assert len(got) % len(sp.WAYPOINT_TS) == 0
    # the k=2 midpoint waypoint must sit on the step's great circle:
    # |w . (a x b)| ~ 0 for a sample
    clear_geo_cache()


def test_tile_churn_conservation(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_tile_churn"](spark, SF).collect()
    n_events = len(_ids())
    assert sum(r.n_early + r.n_late for r in rows) == n_events
    for r in rows:
        assert r.delta == r.n_late - r.n_early
        if r.status == "new":
            assert r.n_early == 0 and r.n_late > 0
        elif r.status == "gone":
            assert r.n_late == 0 and r.n_early > 0
        else:
            assert r.status == "stable" and r.n_early > 0 and r.n_late > 0
    statuses = {r.status for r in rows}
    assert statuses == {"new", "gone", "stable"}
    clear_geo_cache()


def test_hotspot_matches_numpy(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_hotspot"](spark, SF).collect()
    focal = np.array(sorted(r.focal_n for r in rows), dtype=np.int64)
    cnt = len(focal)
    s1 = int(focal.sum())
    s2 = int((focal * focal).sum())
    m = float(s1) / float(cnt)
    var = float(s2) / float(cnt) - m * m
    assert var > 0.0
    hot = sum(r.hot for r in rows)
    for r in rows:
        z = (float(r.focal_n) - m) / np.sqrt(var)
        assert abs(r.z_r - round(z, 6)) < 1e-9
        assert r.hot == (1 if z >= specs.HOTSPOT_Z else 0)
    assert 0 < hot < cnt
    clear_geo_cache()


def test_line_crossings_matches_numpy(spark):
    """Third direction: the codegen simple_crossing predicate vs an
    explicit-formula numpy replay (edgeutil.rs:96-113 op order), plus the
    exactness precondition — every |sign product| must clear the trig ulp
    noise by orders of magnitude, or the strict inequalities would not be
    engine-exact."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_line_crossings"](spark, SF).collect()
    ids, us, uid, xs, pairs = _steps()
    want = {}
    min_margin = np.inf
    for si, (c, d) in enumerate(specs.polyline_segments_xyz()):
        cx, cy, cz = c
        dx, dy, dz = d
        cdx, cdy, cdz = cy * dz - cz * dy, cz * dx - cx * dz, cx * dy - cy * dx
        for a, b in pairs:
            px, py, pz = xs[a]
            x, y, z = xs[b]
            abx, aby, abz = py * z - pz * y, pz * x - px * z, px * y - py * x
            acb = -(abx * cx + aby * cy + abz * cz)
            bda = abx * dx + aby * dy + abz * dz
            cbd = -(cdx * x + cdy * y + cdz * z)
            dac = cdx * px + cdy * py + cdz * pz
            prods = (acb * bda, acb * cbd, acb * dac)
            min_margin = min(min_margin, min(abs(p) for p in prods))
            if prods[0] > 0 and prods[1] > 0 and prods[2] > 0:
                want[(int(ids[b]), si)] = (
                    int(uid[b]),
                    int(ids[a]),
                    1 if dac > 0 else -1,
                )
    got = {
        (r.event_id, r.seg_id): (r.user_id, r.prev_event, r.direction)
        for r in rows
    }
    assert got == want
    assert len(got) > 10
    # both directions occur (the geofence sees inbound AND outbound)
    assert {v[2] for v in got.values()} == {1, -1}
    # sign margins clear double-rounding noise by >= 6 orders of magnitude
    assert min_margin > 1e-10
    clear_geo_cache()


def test_traj_simplify_matches_numpy(spark):
    """Third direction: the Spark applyInPandas DP output must equal a
    direct simplify_points run over duckdb-fetched arrays, AND satisfy the
    DP contract — between each consecutive kept pair, every dropped vertex
    lies within SIMPLIFY_TOL_RAD of that chord (it was dropped against
    exactly that segment's interval)."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache
    from rust_s2_spark.kernel.simplify import simplify_points

    rows = QUERIES["s2_traj_simplify"](spark, SF).collect()
    ids, us, uid, xs, _ = _steps()
    order = np.lexsort((ids, us, uid))
    want = {}
    for u in np.unique(uid):
        sel = order[uid[order] == u]
        pts = xs[sel]
        keep = np.zeros(len(sel), dtype=bool)
        keep[simplify_points(pts, specs.SIMPLIFY_TOL_RAD)] = True
        for s, (e, k) in enumerate(zip(ids[sel], keep)):
            want[int(e)] = (int(u), s, bool(k))
        # DP contract: dropped vertices within tol of the covering kept chord
        kept_idx = np.nonzero(keep)[0]
        for a, b in zip(kept_idx[:-1], kept_idx[1:]):
            if b - a < 2:
                continue
            d = eu.distance_from_segment(pts[a + 1 : b], pts[a], pts[b])
            assert float(d.max()) <= specs.SIMPLIFY_TOL_RAD
    got = {r.event_id: (r.user_id, r.seq, r.kept) for r in rows}
    assert got == want
    kept_frac = sum(k for *_, k in got.values()) / len(got)
    assert 0.2 < kept_frac < 0.9  # both classes non-trivial
    clear_geo_cache()


def test_self_intersect_matches_numpy(spark):
    """Third direction for s2_self_intersect: the banded-join candidate set,
    the simple_crossing predicate, and the edge_crossings.rs::intersection
    point chain vs an explicit per-user double loop in numpy — plus the exactness
    precondition (every |sign product| across every CANDIDATE pair clears
    the ~1e-15 product noise floor by orders of magnitude; both segments
    are trig-derived here, unlike s2_line_crossings' literal fence)."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_self_intersect"](spark, SF).collect()
    ids, us, uid, xs, pairs = _steps()
    W = specs.SELF_INTERSECT_W
    by_user: dict[int, list[tuple[int, int]]] = {}
    for a, b in pairs:
        by_user.setdefault(int(uid[a]), []).append((a, b))
    want = {}
    min_margin = np.inf
    n_cand = 0
    for u, steps in by_user.items():
        for i in range(len(steps)):
            for j in range(i + 2, min(i + W, len(steps) - 1) + 1):
                n_cand += 1
                ai, bi = steps[i]
                aj, bj = steps[j]
                pax, pay, paz = xs[ai]
                ax, ay, az = xs[bi]
                pbx, pby, pbz = xs[aj]
                bx, by, bz = xs[bj]
                abx, aby, abz = (
                    pay * az - paz * ay,
                    paz * ax - pax * az,
                    pax * ay - pay * ax,
                )
                cdx, cdy, cdz = (
                    pby * bz - pbz * by,
                    pbz * bx - pbx * bz,
                    pbx * by - pby * bx,
                )
                acb = -(abx * pbx + aby * pby + abz * pbz)
                bda = abx * bx + aby * by + abz * bz
                cbd = -(cdx * ax + cdy * ay + cdz * az)
                dac = cdx * pax + cdy * pay + cdz * paz
                prods = (acb * bda, acb * cbd, acb * dac)
                min_margin = min(min_margin, min(abs(p) for p in prods))
                eps = specs.SELF_INTERSECT_EPS
                if prods[0] > eps and prods[1] > eps and prods[2] > eps:
                    rx = aby * cdz - abz * cdy
                    ry = abz * cdx - abx * cdz
                    rz = abx * cdy - aby * cdx
                    sdot = rx * (pax + ax) + ry * (pay + ay) + rz * (paz + az)
                    nrm = np.sqrt(rx * rx + ry * ry + rz * rz)
                    sgn = -1.0 if sdot < 0 else 1.0
                    ux, uy, uz = sgn * rx / nrm, sgn * ry / nrm, sgn * rz / nrm
                    lat = round(
                        float(np.degrees(np.arctan2(uz, np.sqrt(ux * ux + uy * uy)))), 6
                    )
                    lng = round(float(np.degrees(np.arctan2(uy, ux))), 6)
                    want[(int(ids[bi]), int(ids[bj]))] = (u, j - i, lat, lng)
    got = {
        (r.event_a, r.event_b): (r.user_id, r.gap, r.cross_lat_r, r.cross_lng_r)
        for r in rows
    }
    assert got == want
    # non-trivial at the smallest SF: crossings exist but are a strict
    # subset of the candidates
    assert 10 < len(got) < n_cand
    # every gap in [2, W] is reachable; the data must exercise both
    # block-join cases (same block and adjacent block)
    assert min(g for _, g, _, _ in got.values()) == 2
    assert max(g for _, g, _, _ in got.values()) >= W // 2
    # two-population gap: every candidate product is either an exact-touch
    # zero (computed < 1e-15, sf1-lattice only — none at this SF) or a
    # genuine margin far above the 1e-13 determinacy band, so no value can
    # sit near the band edge where ~1e-15 engine noise could flip it
    assert min_margin > 100 * specs.SELF_INTERSECT_EPS, min_margin
    clear_geo_cache()


def test_stay_points_matches_numpy(spark):
    """Third direction for s2_stay_points: the gaps-and-islands collapse vs
    an explicit per-user run scan in numpy/python — maximal slow runs, the
    all-integer aggregates, and the micro-degree path-length emission."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_stay_points"](spark, SF).collect()
    ids, us, uid, xs, pairs = _steps()
    thr = specs.STAY_SPEED_DEG_H
    by_user: dict[int, list[tuple[int, int]]] = {}
    for a, b in pairs:
        by_user.setdefault(int(uid[a]), []).append((a, b))
    want = {}
    for u, steps in by_user.items():
        run: list[tuple[int, int]] = []
        runs: list[list[tuple[int, int]]] = []
        for a, b in steps:
            dt = int(us[b] - us[a])
            chord2 = float(((xs[b] - xs[a]) ** 2).sum())
            dist = round(
                float(np.degrees(2.0 * np.arcsin(0.5 * np.sqrt(min(chord2, 4.0))))), 6
            )
            slow = dt > 0 and round(dist * 3600000000.0 / float(dt), 6) <= thr
            if slow:
                run.append((a, b))
            elif run:
                runs.append(run)
                run = []
        if run:
            runs.append(run)
        for r in runs:
            dur = sum(int(us[b] - us[a]) for a, b in r)
            udeg = 0
            for a, b in r:
                chord2 = float(((xs[b] - xs[a]) ** 2).sum())
                dist = round(
                    float(
                        np.degrees(2.0 * np.arcsin(0.5 * np.sqrt(min(chord2, 4.0))))
                    ),
                    6,
                )
                udeg += int(round(dist * 1000000.0, 0))
            want[(u, int(ids[r[0][0]]))] = (
                int(ids[r[-1][1]]),
                len(r),
                dur,
                udeg,
            )
    got = {
        (r.user_id, r.start_event): (r.end_event, r.n_steps, r.dur_us, r.dist_udeg)
        for r in rows
    }
    assert got == want
    # both island classes exist: single-step and multi-step stays
    lens = [v[1] for v in got.values()]
    assert 1 in lens and max(lens) >= 3
    clear_geo_cache()
