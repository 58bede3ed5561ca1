"""Third-direction replays for the session-7 analytics queries:

- s2_moran: numpy replay of the rook-adjacency Moran's I algebra (the
  DuckDB oracle recomputes it via the FACE_WRAP CASE tables; this test
  pins the Spark contribution-explode plan to the kernel adjacency and
  the exact-bigint D/L algebra from a third direction), plus the
  zero-sum/symmetry invariants the statistic must satisfy.
- s2_ripley_k: bucket counts re-derived in python from the (already
  independently gated) distance-join pairs, plus monotonicity and the
  mirrored floor-chain replay.
- doc_bigrams: full python replay of tokenize -> consecutive pairs ->
  exact integer lift -> total-order top-K, bit-equal including ranks.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import numpy as np

from rust_s2_spark.engine import specs
from rust_s2_spark.kernel import hierarchy as h
from rust_s2_spark.kernel import hilbert

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _numpy_moran(sf_dir: str, lvl: int):
    ids = (
        duckdb.sql(f"SELECT event_id FROM '{sf_dir}/events.parquet'")
        .fetchnumpy()["event_id"]
        .astype(np.int64)
    )
    lat, lng = specs.latlng_np(ids)
    tiles = h.parent(hilbert.cellid_from_latlng(lat, lng), lvl)
    counts = Counter(np.asarray(tiles, dtype=np.uint64).tolist())
    occupied = np.array(sorted(counts), dtype=np.uint64)
    nbrs = np.asarray(h.edge_neighbors(occupied), dtype=np.uint64)
    n_tiles = len(occupied)
    s_tot = sum(counts.values())
    per = {}
    for t, nb in zip(occupied.tolist(), nbrs.tolist()):
        occ = [x for x in nb if x in counts]
        per[t] = (counts[t], sum(counts[x] for x in occ), len(occ))
    w_pairs = sum(nn for _, _, nn in per.values())
    den = num = 0
    dl = {}
    for t, (x, nbr_sum, nn) in per.items():
        d = n_tiles * x - s_tot
        li = n_tiles * nbr_sum - nn * s_tot
        dl[t] = (d, d * li)
        den += d * d
        num += d * li
    nd = float(n_tiles)
    out = {}
    sh = 30 - lvl
    for t, (x, nbr_sum, nn) in per.items():
        d, lnum = dl[t]
        local = (
            math.floor(1000000.0 * (nd * float(lnum) / float(den)))
            if den > 0
            else 0
        )
        glob = (
            math.floor(
                1000000.0 * (nd * float(num) / (float(w_pairs) * float(den)))
            )
            if den > 0 and w_pairs > 0
            else 0
        )
        f, i, j, _ = hilbert.cellid_to_face_ij_orientation(np.uint64(t))
        out[(int(f), int(i) >> sh, int(j) >> sh)] = (
            x,
            nn,
            d,
            lnum,
            local,
            n_tiles,
            w_pairs,
            num,
            den,
            glob,
        )
    return out


def test_moran_matches_numpy(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_moran"](spark, SF01).collect()
    got = {
        (r.face, r.ti, r.tj): (
            r.n,
            r.nn,
            r.d,
            r.lnum,
            r.local_e6f,
            r.n_tiles,
            r.w_pairs,
            r.num,
            r.den,
            r.moran_e6f,
        )
        for r in rows
    }
    want = _numpy_moran(SF01, specs.FOCAL_LEVEL)
    assert got == want
    # invariants: scaled deviations sum to zero by construction; the rook
    # relation restricted to occupied tiles is symmetric, so W is even;
    # positive autocorrelation of a density surface puts I in (0, 1.5e6]
    assert sum(v[2] for v in got.values()) == 0
    w = next(iter(got.values()))[6]
    assert w % 2 == 0 and w > 0
    moran = next(iter(got.values()))[9]
    assert 0 < moran <= 1_500_000
    clear_geo_cache()


def test_moran_degenerate_uniform():
    """All-equal counts => DEN = 0 => both statistics clamp to 0 (the
    zero-variance guard), exercised through the same numpy replay path
    the main test trusts."""
    n_tiles, x = 4, 7
    s_tot = n_tiles * x
    d = n_tiles * x - s_tot
    assert d == 0  # every deviation vanishes; den == 0 forces the guard


def test_ripley_matches_pairs(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    pairs = [
        r.chord2_r for r in QUERIES["s2_distance_join"](spark, SF001).collect()
    ]
    n_pts = (
        duckdb.sql(f"SELECT count(*) FROM '{SF001}/events.parquet'").fetchone()[0]
    )
    rows = {
        r.r_idx: (r.n_pairs, r.n_pts, r.k_e6f)
        for r in QUERIES["s2_ripley_k"](spark, SF001).collect()
    }
    assert set(rows) == set(range(len(specs.RIPLEY_FRACTIONS)))
    area = 4.0 * math.pi
    prev = -1
    for k, frac in enumerate(specs.RIPLEY_FRACTIONS):
        chord = 2.0 * math.sin(frac * specs.DISTANCE_JOIN_RADIUS / 2.0)
        r2 = chord * chord
        want_np = sum(1 for c in pairs if c <= r2)
        khat = math.floor(
            1000000.0
            * (
                area
                * (2.0 * float(want_np))
                / (float(n_pts) * (float(n_pts) - 1.0))
            )
        )
        assert rows[k] == (want_np, n_pts, khat)
        assert want_np >= prev  # K is a cumulative (monotone) function
        prev = want_np
    # the largest radius IS the epsilon graph: every pair counted
    assert rows[len(specs.RIPLEY_FRACTIONS) - 1][0] == len(pairs)
    clear_geo_cache()


def _python_bigrams(sf_dir: str):
    docs = duckdb.sql(
        f"SELECT text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    uni: Counter = Counter()
    big: Counter = Counter()
    for (text,) in docs:
        toks = [t for t in text.split(" ") if t != ""]
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n_tok = sum(uni.values())
    out = []
    for (w1, w2), c in big.items():
        if c < specs.BIGRAM_MIN_COUNT:
            continue
        cx, cy = uni[w1], uni[w2]
        lift = (2000000 * c * n_tok + cx * cy) // (2 * cx * cy)
        out.append((-lift, w1, w2, c, cx, cy))
    out.sort()
    return [
        (i + 1, w1, w2, c, cx, cy, n_tok, -neg)
        for i, (neg, w1, w2, c, cx, cy) in enumerate(out[: specs.BIGRAM_K])
    ]


def test_doc_bigrams_matches_python(spark):
    from rust_s2_spark.engine.queries import QUERIES

    rows = sorted(
        (r.rnk, r.w1, r.w2, r.c_xy, r.c_x, r.c_y, r.n_tok, r.lift_e6)
        for r in QUERIES["doc_bigrams"](spark, SF001).collect()
    )
    want = sorted(_python_bigrams(SF001))
    assert rows == want
    assert len(rows) == specs.BIGRAM_K
    assert all(r[3] >= specs.BIGRAM_MIN_COUNT for r in rows)


def test_doc_bigrams_multispace_tokenization(spark):
    """Double spaces produce empty split tokens; pairs must be consecutive
    AFTER the empty filter (a..b across a double space IS a bigram)."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame([("a  b a b",), ("a b x",)], "text string")
    toks = df.select(
        F.expr("filter(split(text, ' '), x -> x != '')").alias("a")
    )
    combined = (
        "zip_with(slice(a, 1, greatest(size(a)-1, 0)), "
        "slice(a, 2, greatest(size(a)-1, 0)), "
        "(x, y) -> struct(x AS w1, y AS w2))"
    )
    got = Counter(
        (r.w1, r.w2)
        for r in toks.select(F.explode(F.expr(combined)).alias("p"))
        .select("p.w1", "p.w2")
        .collect()
    )
    assert got == Counter(
        {("a", "b"): 3, ("b", "a"): 1, ("b", "x"): 1}
    )


def _numpy_tile_user(sf_dir: str, lvl: int):
    rows = duckdb.sql(
        f"SELECT event_id, user_id FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    users = {r[0]: r[1] for r in rows}
    lat, lng = specs.latlng_np(ids)
    tiles = np.asarray(
        h.parent(hilbert.cellid_from_latlng(lat, lng), lvl), dtype=np.uint64
    )
    return ids, users, tiles


def test_tile_diversity_matches_numpy(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    lvl = specs.FOCAL_LEVEL
    ids, users, tiles = _numpy_tile_user(SF001, lvl)
    per: dict = {}
    for eid, t in zip(ids.tolist(), tiles.tolist()):
        per.setdefault(t, Counter())[users[eid]] += 1
    sh = 30 - lvl
    want = {}
    for t, cnt in per.items():
        n = sum(cnt.values())
        sumsq = sum(c * c for c in cnt.values())
        simpson = (2000000 * (n * n - sumsq) + n * n) // (2 * n * n)
        f, i, j, _ = hilbert.cellid_to_face_ij_orientation(np.uint64(t))
        want[(int(f), int(i) >> sh, int(j) >> sh)] = (
            n,
            len(cnt),
            sumsq,
            simpson,
        )
    rows = QUERIES["s2_tile_diversity"](spark, SF001).collect()
    got = {
        (r.face, r.ti, r.tj): (r.n, r.u_cnt, r.sumsq, r.simpson_e6)
        for r in rows
    }
    assert got == want
    # bounds: 0 <= simpson < 1e6; a single-user tile scores exactly 0
    assert all(0 <= v[3] < 1_000_000 for v in got.values())
    assert sum(v[0] for v in got.values()) == len(ids)
    clear_geo_cache()


def test_idw_smooth_matches_numpy(spark):
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    lvl = specs.FOCAL_LEVEL
    ids = (
        duckdb.sql(f"SELECT event_id FROM '{SF001}/events.parquet'")
        .fetchnumpy()["event_id"]
        .astype(np.int64)
    )
    lat, lng = specs.latlng_np(ids)
    tiles = h.parent(hilbert.cellid_from_latlng(lat, lng), lvl)
    counts = Counter(np.asarray(tiles, dtype=np.uint64).tolist())
    occupied = np.array(sorted(counts), dtype=np.uint64)
    sh = 30 - lvl
    want = {}
    for t in occupied.tolist():
        ring1 = set(
            np.asarray(h.edge_neighbors(np.array([t], dtype=np.uint64)))
            .reshape(-1)
            .tolist()
        )
        ring2 = set()
        for x in ring1:
            ring2 |= set(
                np.asarray(h.edge_neighbors(np.array([x], dtype=np.uint64)))
                .reshape(-1)
                .tolist()
            )
        ring2 -= ring1 | {t}
        num = sum(
            specs.IDW_W1 * counts[x] for x in ring1 if x in counts
        ) + sum(specs.IDW_W2 * counts[x] for x in ring2 if x in counts)
        den = sum(specs.IDW_W1 for x in ring1 if x in counts) + sum(
            specs.IDW_W2 for x in ring2 if x in counts
        )
        idw = (2000000 * num + den) // (2 * den) if den > 0 else 0
        f, i, j, _ = hilbert.cellid_to_face_ij_orientation(np.uint64(t))
        want[(int(f), int(i) >> sh, int(j) >> sh)] = (
            counts[t],
            num,
            den,
            idw,
            idw - counts[t] * 1000000,
        )
    rows = QUERIES["s2_idw_smooth"](spark, SF001).collect()
    got = {
        (r.face, r.ti, r.tj): (r.n, r.num, r.den, r.idw_e6, r.resid_e6)
        for r in rows
    }
    assert got == want
    # smoothing must actually mix: residuals of both signs exist
    assert any(v[4] > 0 for v in got.values())
    assert any(v[4] < 0 for v in got.values())
    clear_geo_cache()


def test_crossing_points_matches_python(spark):
    """Python replay of the crossing predicate + the
    edge_crossings.rs::intersection chain (same IEEE ops in the same order
    => bit-identical doubles), vs the
    Spark codegen output at sf0.001."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = duckdb.sql(
        f"SELECT event_id, user_id, ts FROM '{SF001}/events.parquet' "
        "ORDER BY user_id, ts, event_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    lat, lng = specs.latlng_np(ids)
    la, ln = np.radians(lat), np.radians(lng)
    xyz = {
        r[0]: (
            math.cos(la[i]) * math.cos(ln[i]),
            math.cos(la[i]) * math.sin(ln[i]),
            math.sin(la[i]),
        )
        for i, r in enumerate(rows)
    }
    segs = []
    for i, (c, d) in enumerate(specs.polyline_segments_xyz()):
        cd = (
            c[1] * d[2] - c[2] * d[1],
            c[2] * d[0] - c[0] * d[2],
            c[0] * d[1] - c[1] * d[0],
        )
        segs.append((i, c, d, cd))
    want = {}
    prev_by_user: dict = {}
    for eid, uid, _ts in rows:
        if uid in prev_by_user:
            pid = prev_by_user[uid]
            px, py, pz = xyz[pid]
            x, y, z = xyz[eid]
            abx, aby, abz = (
                py * z - pz * y,
                pz * x - px * z,
                px * y - py * x,
            )
            for sid, c, d, cd in segs:
                acb = -(abx * c[0] + aby * c[1] + abz * c[2])
                bda = abx * d[0] + aby * d[1] + abz * d[2]
                cbd = -(cd[0] * x + cd[1] * y + cd[2] * z)
                dac = cd[0] * px + cd[1] * py + cd[2] * pz
                if acb * bda > 0 and acb * cbd > 0 and acb * dac > 0:
                    rx = aby * cd[2] - abz * cd[1]
                    ry = abz * cd[0] - abx * cd[2]
                    rz = abx * cd[1] - aby * cd[0]
                    sdot = rx * (px + x) + ry * (py + y) + rz * (pz + z)
                    nrm = math.sqrt(rx * rx + ry * ry + rz * rz)
                    sgn = -1.0 if sdot < 0 else 1.0
                    ux, uy, uz = (
                        (sgn * rx) / nrm,
                        (sgn * ry) / nrm,
                        (sgn * rz) / nrm,
                    )
                    clat = math.degrees(
                        math.atan2(uz, math.sqrt(ux * ux + uy * uy))
                    )
                    clng = math.degrees(math.atan2(uy, ux))
                    want[(uid, eid, pid, sid)] = (
                        1 if dac > 0 else -1,
                        round(clat, 6),
                        round(clng, 6),
                    )
        prev_by_user[uid] = eid
    got = {
        (r.user_id, r.event_id, r.prev_event, r.seg_id): (
            r.direction,
            r.cross_lat_r,
            r.cross_lng_r,
        )
        for r in QUERIES["s2_crossing_points"](spark, SF001).collect()
    }
    assert set(got) == set(want)
    for k, (dirn, clat, clng) in want.items():
        gd, glat, glng = got[k]
        assert gd == dirn
        # python round is banker's at exact halves vs Spark HALF_UP; trig
        # irrationals never land there, so equality is exact in practice
        assert abs(glat - clat) < 5e-7 and abs(glng - clng) < 5e-7
    assert len(got) > 10
    # every crossing point must lie ON the crossed segment's great circle:
    # |cd . u| ~ 0 within ulps
    for (uid, eid, pid, sid), (_d, clat, clng) in want.items():
        _i, c, d, cd = segs[sid]
        la2, ln2 = math.radians(clat), math.radians(clng)
        u = (
            math.cos(la2) * math.cos(ln2),
            math.cos(la2) * math.sin(ln2),
            math.sin(la2),
        )
        assert abs(cd[0] * u[0] + cd[1] * u[1] + cd[2] * u[2]) < 1e-6
    clear_geo_cache()


def test_decay_density_matches_python(spark):
    """Python replay of the exact power-of-2 decay weights (integer
    microsecond ages, shift weights, half-up emission)."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    lvl = specs.FOCAL_LEVEL
    rows = duckdb.sql(
        f"SELECT event_id, epoch_us(ts) FROM '{SF001}/events.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    us = {r[0]: r[1] for r in rows}
    hi = max(us.values())
    lat, lng = specs.latlng_np(ids)
    tiles = np.asarray(
        h.parent(hilbert.cellid_from_latlng(lat, lng), lvl), dtype=np.uint64
    )
    agg: dict = {}
    for eid, t in zip(ids.tolist(), tiles.tolist()):
        b = min((hi - us[eid]) // specs.DECAY_HALF_LIFE_US, specs.DECAY_BMAX)
        w = 1 << (specs.DECAY_BMAX - b)
        n, num = agg.get(t, (0, 0))
        agg[t] = (n + 1, num + w)
    scale = 1 << specs.DECAY_BMAX
    sh = 30 - lvl
    want = {}
    for t, (n, num) in agg.items():
        f, i, j, _ = hilbert.cellid_to_face_ij_orientation(np.uint64(t))
        want[(int(f), int(i) >> sh, int(j) >> sh)] = (
            n,
            num,
            (2000000 * num + scale) // (2 * scale),
        )
    got = {
        (r.face, r.ti, r.tj): (r.n, r.num, r.decayed_e6)
        for r in QUERIES["s2_decay_density"](spark, SF001).collect()
    }
    assert got == want
    # decay must actually decay: no tile exceeds its undecayed bound
    # (a tile whose only event sits at max-ts attains it exactly), and
    # MOST tiles sit strictly below it
    assert all(num <= n * scale for n, num, _ in got.values())
    assert sum(1 for n, num, _ in got.values() if num < n * scale) > len(got) // 2
    assert len({num for _, num, _ in got.values()}) > 10
    clear_geo_cache()
