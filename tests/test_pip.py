"""Loop/Polygon PIP oracles ported from the reference test suite.

Vectors: loop.rs:2128-2243 (fixtures), 2601-2650 (origin containment),
2652-2738 (contains_point under rotations), 2740-2783 (cell-vertex partition
property), predicates degenerate cases.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from rust_s2_spark.kernel import hierarchy as h
from rust_s2_spark.kernel import pip
from rust_s2_spark.kernel.pip import CCW, CW, Loop, Polygon, robust_sign
from rust_s2_spark.kernel.region import Cell, _latlng_point

# loop.rs:2128-2243 fixtures
FIXTURES = {
    "north_hemi": "0:-180, 0:-90, 0:0, 0:90",
    "north_hemi3": "0:-180, 0:-60, 0:60",
    "south_hemi": "0:90, 0:0, 0:-90, 0:-180",
    "west_hemi": "0:-180, -90:0, 0:0, 90:0",
    "east_hemi": "90:0, 0:0, -90:0, 0:-180",
    "near_hemi": "0:-90, -90:0, 0:90, 90:0",
    "far_hemi": "90:0, 0:90, -90:0, 0:-90",
    "candy_cane": "-20:150, -20:-70, 0:70, 10:-150, 10:70, -10:-70",
    "small_necw": "35:20, 45:20, 40:25",
    "arctic80": "80:-150, 80:-30, 80:90",
    "antarctic80": "-80:120, -80:0, -80:-120",
    "loop_a": "0:178, -1:180, 0:-179, 1:-180",
}

# loop.rs:2601-2650 — origin containment truth table
ORIGIN_INSIDE = {
    "north_hemi": True,
    "north_hemi3": True,
    "south_hemi": False,
    "west_hemi": False,
    "east_hemi": True,
    "near_hemi": False,
    "far_hemi": True,
    "candy_cane": False,
    "small_necw": True,
    "arctic80": True,
    "antarctic80": False,
    "loop_a": False,
}


def L(name: str) -> Loop:
    return Loop.from_latlng_text(FIXTURES[name])


def test_origin_inside_truth_table():
    for name, want in ORIGIN_INSIDE.items():
        assert L(name).origin_inside == want, name


NORTH = np.array([0.0, 0.0, 1.0])
SOUTH = np.array([0.0, 0.0, -1.0])
EAST = np.array([0.0, 1.0, 0.0])
WEST = np.array([0.0, -1.0, 0.0])


def _rotated(loop: Loop, k: int) -> Loop:
    v = np.roll(loop.vertices, -k, axis=0)
    return Loop(v)


def test_contains_point_cases():
    # loop.rs:2652-2738, each under 4 rotations
    assert not Loop.empty().contains_point(NORTH)
    assert Loop.full().contains_point(SOUTH)
    cases = [
        ("north_hemi", NORTH, SOUTH),
        ("south_hemi", SOUTH, NORTH),
        ("west_hemi", WEST, EAST),
        ("east_hemi", EAST, WEST),
        (
            "candy_cane",
            _latlng_point(math.radians(5), math.radians(71)),
            _latlng_point(math.radians(-8), math.radians(71)),
        ),
    ]
    for name, inside, outside in cases:
        base = L(name)
        for rot in range(4):
            lp = _rotated(base, rot)
            assert lp.contains_point(inside), f"{name} rot{rot} should contain"
            assert not lp.contains_point(outside), f"{name} rot{rot} should not contain"


def test_contains_points_vectorized_matches_scalar():
    rng = np.random.default_rng(5)
    lat = rng.uniform(-90, 90, 2000)
    lng = rng.uniform(-180, 180, 2000)
    pts = np.array(
        [_latlng_point(math.radians(a), math.radians(o)) for a, o in zip(lat, lng)]
    )
    for name in ["north_hemi", "candy_cane", "arctic80", "loop_a", "small_necw"]:
        lp = L(name)
        vec = lp.contains_points(pts[:, 0], pts[:, 1], pts[:, 2])
        scalar = np.array([lp.contains_point(p) for p in pts])
        assert np.array_equal(vec, scalar), name


@pytest.mark.parametrize("level", [0, 1, 2])
def test_cell_vertex_partition(level):
    # loop.rs:2740-2783: every cell vertex/center at this level is contained
    # by exactly one adjacent cell-loop.
    loops = []
    points = {}
    cid = h.child_begin_at_level(h.from_face(0), level)
    end = h.child_end_at_level(h.from_face(5), level)
    while int(cid) != int(end):
        cell = Cell(int(cid))
        points[tuple(cell.center())] = True
        verts = cell.vertices()
        for v in verts:
            points[tuple(v)] = True
        loops.append(Loop(np.array(verts)))
        cid = h.next_cell(cid)

    pts = np.array(list(points.keys()))
    counts = np.zeros(len(pts), dtype=int)
    for lp in loops:
        counts += lp.contains_points(pts[:, 0], pts[:, 1], pts[:, 2]).astype(int)
    assert (counts == 1).all(), f"level {level}: {np.unique(counts, return_counts=True)}"


def test_polygon_with_hole():
    # polygon.rs:140-143: interior = points contained by an ODD number of
    # loops; every loop CCW around its own area (holes CCW around the hole).
    shell = Loop.from_latlng_text("0:0, 0:10, 10:10, 10:0")
    hole = Loop.from_latlng_text("2:2, 2:8, 8:8, 8:2")
    poly = Polygon([shell, hole])
    inside_shell = _latlng_point(math.radians(1.0), math.radians(5.0))
    inside_hole = _latlng_point(math.radians(5.0), math.radians(5.0))
    outside = _latlng_point(math.radians(-5.0), math.radians(5.0))
    assert poly.contains_point(inside_shell)
    assert not poly.contains_point(inside_hole)
    assert not poly.contains_point(outside)
    got = poly.contains_points(
        *np.array([inside_shell, inside_hole, outside]).T
    )
    assert got.tolist() == [True, False, False]


def test_robust_sign_degenerate():
    # predicates.rs:239-303 spirit: collinear / equal points decided by the
    # exact tier, antisymmetry holds.
    a = np.array([1.0, 0.0, 0.0])
    b = np.array([0.0, 1.0, 0.0])
    c = np.array([0.0, 0.0, 1.0])
    assert robust_sign(a, b, c) == CCW
    assert robust_sign(c, b, a) == CW
    # collinear triple on the equator
    p1 = _latlng_point(0.0, math.radians(1.0))
    p2 = _latlng_point(0.0, math.radians(2.0))
    p3 = _latlng_point(0.0, math.radians(3.0))
    s = robust_sign(p1, p2, p3)
    assert s in (CCW, CW)  # exact tier must decide
    assert robust_sign(p3, p2, p1) == -s
    # rotation invariance
    assert robust_sign(p2, p3, p1) == s
    assert robust_sign(p3, p1, p2) == s


def test_degenerate_loops():
    # line_triangle and skinny_chevron (loop.rs:2186-2196) must construct and
    # answer containment consistently (they're "CCW" degenerates).
    lt = Loop.from_latlng_text("0:1, 0:2, 0:3")
    assert not lt.contains_point(NORTH)
    sc = Loop.from_latlng_text("0:0, -1e-320:80, 0:1e-320, 1e-320:80")
    assert not sc.contains_point(NORTH)


def test_turning_angle_and_area():
    # loop.rs:4156-4338 spot checks: hemisphere area = 2*pi
    nh = L("north_hemi3")
    assert abs(nh.signed_area() - 2 * math.pi) < 1e-9
    sh = L("south_hemi")
    assert abs(sh.signed_area() - 2 * math.pi) < 1e-9
    # arctic80 is a geodesic triangle inscribed in the lat-80 cap: its area is
    # positive and strictly less than the cap's.
    arctic = L("arctic80")
    cap_area = 2 * math.pi * (1 - math.sin(math.radians(80)))
    assert 0 < arctic.signed_area() < cap_area
    # small_necw is a small CW ring: its left-hand interior is most of the sphere.
    assert L("small_necw").signed_area() > 2 * math.pi


# ---------------------------------------------------------------------------
# angle_contains_vertex (edge_crossings.rs:397-430 + its test vectors)
# ---------------------------------------------------------------------------


def test_angle_contains_vertex_reference_vectors():
    from rust_s2_spark.kernel.pip import angle_contains_vertex, reference_dir

    a = np.array([1.0, 0.0, 0.0])
    b = np.array([0.0, 1.0, 0.0])
    ref_b = reference_dir(b)
    # degenerate angle ABA
    assert not angle_contains_vertex(a, b, a)
    # wedge closed at A: A == referenceDir(B)
    assert angle_contains_vertex(ref_b, b, a)
    # wedge open at C: C == referenceDir(B)
    assert not angle_contains_vertex(a, b, ref_b)


def test_angle_contains_vertex_antisymmetry():
    from rust_s2_spark.kernel.pip import angle_contains_vertex

    rng = np.random.default_rng(7)
    b = np.array([0.0, 0.0, 1.0])
    for _ in range(50):
        v = rng.normal(size=(2, 3))
        a, c = (x / np.linalg.norm(x) for x in v)
        if np.allclose(a, c):
            continue
        assert angle_contains_vertex(a, b, c) != angle_contains_vertex(c, b, a)


def test_angle_contains_vertex_tiling_partition():
    """Property (3): polygons tiling the region around a vertex — exactly one
    wedge contains it.  v_1..v_k ordered cyclically CCW around b; the wedge
    (v_{i+1}, b, v_i) is the tile between consecutive spokes."""
    from rust_s2_spark.kernel.pip import angle_contains_vertex

    b = np.array([0.0, 0.0, 1.0])
    for k, phase in ((3, 0.0), (5, 0.3), (8, 1.1), (12, 2.7)):
        spokes = []
        for i in range(k):
            t = phase + 2.0 * math.pi * i / k
            v = np.array([math.cos(t), math.sin(t), 1.0])
            spokes.append(v / np.linalg.norm(v))
        owners = [
            angle_contains_vertex(spokes[(i + 1) % k], b, spokes[i]) for i in range(k)
        ]
        assert sum(owners) == 1, (k, phase, owners)


def test_shipped_regions_answer_identically_after_pickle():
    """The polygon queries broadcast the Loop/Polygon objects their setups
    build.  Every one, pickled after a first query (so lazily built caches
    travel too), answers contains_points bit-identically, and so does the
    object rebuilt from its vertices and depths alone."""
    import pickle

    from rust_s2_spark.engine import queries as Q
    from rust_s2_spark.kernel.stuv import latlng_to_xyz

    verts, _ = Q._loop_setup()
    regions = {rid: Loop(v) for rid, v in verts.items()}
    regions["nested"] = Q._nested_setup()[0]
    regions.update(Q._overlay_setup()[0])
    regions["coastline"] = Loop(Q._coastline_setup()[0])

    def rebuilt(region):
        if isinstance(region, Loop):
            return Loop(region.vertices.copy())
        loops = []
        for lp in region.loops:
            fresh = Loop(lp.vertices.copy())
            fresh.depth = lp.depth
            loops.append(fresh)
        return Polygon(loops, _nested=True)

    rng = np.random.default_rng(11)
    glob = latlng_to_xyz(
        np.degrees(np.arcsin(rng.uniform(-1, 1, 3000))), rng.uniform(-180, 180, 3000)
    )
    for rid, region in regions.items():
        ring_verts = (
            region.vertices
            if isinstance(region, Loop)
            else np.concatenate([lp.vertices for lp in region.loops])
        )
        near = ring_verts[rng.integers(len(ring_verts), size=3000)]
        near = near + rng.normal(scale=0.02, size=near.shape)
        near /= np.linalg.norm(near, axis=1, keepdims=True)
        px, py, pz = (np.concatenate([g, n]) for g, n in zip(glob, near.T))
        want = region.contains_points(px, py, pz)
        assert want.any() and not want.all(), rid
        shipped = pickle.loads(pickle.dumps(region))
        assert np.array_equal(shipped.contains_points(px, py, pz), want), rid
        assert np.array_equal(rebuilt(region).contains_points(px, py, pz), want), rid
