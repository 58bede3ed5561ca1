"""Connected components (engine/cluster.py) vs an exact union-find oracle.

The scheme's scaling claims are asserted directly: correctness (min id per
component, any topology, any partitioning), round count (pointer jumping
contracts a path graph in O(log n) rounds where plain hash-min needs O(n))
and a Spark-jobs budget (a small graph is one partition: no round runs)."""

from __future__ import annotations

import contextlib

import numpy as np

from rust_s2_spark.engine.cluster import _local_union_find, connected_components


def _union_find(n_edges):
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = set()
    for a, b in n_edges:
        nodes.add(a)
        nodes.add(b)
    return {x: find(x) for x in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    got = connected_components(df, **kw)
    return {r.node: r.cluster for r in got.collect()}


def _random_edges(rng, n=150):
    m = int(rng.randint(40, 200))
    edges = set()
    while len(edges) < m:
        a, b = rng.randint(1, n + 1, 2)
        if a != b:
            edges.add((int(min(a, b)), int(max(a, b))))
    return sorted(edges)


@contextlib.contextmanager
def _many_partitions(spark):
    """A tiny AQE advisory size: the rebalance before the local union-find
    keeps many partitions, so the boundary graph is not empty."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64b")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_local_union_find_matches_union_find():
    """The partition-local numpy union-find alone, no Spark: any edge list
    (self-loops, repeats, descending chains) maps every node to its
    component minimum."""
    rng = np.random.RandomState(11)
    cases = [
        [(i + 1, i) for i in range(1, 60)],
        [(5, 5), (5, 3), (3, 5), (9, 2)],
    ]
    for _ in range(40):
        n = int(rng.randint(2, 120))
        m = int(rng.randint(1, 160))
        cases.append([(int(a), int(b)) for a, b in rng.randint(1, n + 1, (m, 2))])
    for edges in cases:
        u = np.array([a for a, _ in edges], np.int64)
        v = np.array([b for _, b in edges], np.int64)
        nodes, roots = _local_union_find(u, v)
        assert list(nodes) == sorted(set(u) | set(v))
        assert dict(zip(nodes.tolist(), roots.tolist())) == _union_find(edges)


def test_small_graph_jobs_budget(spark):
    """A ~100-edge graph fits one partition: the checkpointed local
    union-find and the certificate are all that run (no aggregation, no
    boundary round).  A change that adds eager actions fails this ceiling."""
    edges = _random_edges(np.random.RandomState(3), n=300)
    df = spark.createDataFrame(edges, "src long, dst long")
    sc = spark.sparkContext
    group = "test_cluster_jobs_budget"
    stats = {}
    sc.setJobGroup(group, group)
    try:
        got = connected_components(df, stats=stats)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, jobs
    assert stats["rounds"] == 0, stats
    assert {r.node: r.cluster for r in got.collect()} == _union_find(edges)


def test_boundary_phase_on_many_partitions(spark):
    """The path graph and the random graphs again, spread over many
    partitions: local components are cut at partition borders, the boundary
    fixpoint must run (rounds > 0) and still finish well under 20 rounds."""
    path = [(i, i + 1) for i in range(1, 120)]
    rng = np.random.RandomState(7)
    with _many_partitions(spark):
        for edges in [path] + [_random_edges(rng) for _ in range(2)]:
            stats = {}
            assert _run(spark, edges, stats=stats) == _union_find(edges)
            assert 0 < stats["rounds"] <= 20, stats


def test_two_components_and_isolated_edge(spark):
    edges = [(1, 2), (2, 3), (10, 11), (3, 1)]
    assert _run(spark, edges) == _union_find(edges)


def test_path_graph_logarithmic_rounds(spark):
    """A 120-node path: plain hash-min needs ~120 rounds; hash-min with
    pointer jumping must finish in well under 20 (in one partition the
    local union-find alone labels it and no round runs; the many-partition
    run is test_boundary_phase_on_many_partitions)."""
    edges = [(i, i + 1) for i in range(1, 120)]
    stats = {}
    got = _run(spark, edges, stats=stats)
    assert got == _union_find(edges)
    assert set(got.values()) == {1}
    assert stats["rounds"] <= 20, stats


def test_random_graphs_match_union_find(spark):
    rng = np.random.RandomState(7)
    for trial in range(3):
        edges = _random_edges(rng)
        assert _run(spark, edges) == _union_find(edges)


def test_label_ids_shuffled_are_component_minima(spark):
    """Labels must be the MIN id even when the min enters through a long
    chain (descending ids stress the monotone-convergence argument)."""
    edges = [(i + 1, i) for i in range(1, 60)]  # 60 -> ... -> 1 descending
    got = _run(spark, edges)
    assert set(got.values()) == {1}


def _dbscan_brute(ids, minpts, radius):
    """Blocked numpy brute-force DBSCAN over the derived event geometry:
    returns {event_id: (role, cluster_id)} with the same deterministic
    tie-breaks as q_dbscan (cluster = min core id of the component, border
    joins its minimum-cluster core neighbor, noise = -1)."""
    import math

    from rust_s2_spark.engine import specs

    ids = np.asarray(sorted(ids), dtype=np.int64)
    lat, lng = specs.latlng_np(ids)
    la, ln = np.radians(lat), np.radians(lng)
    P = np.stack([np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], 1)
    chord = 2.0 * math.sin(radius / 2.0)
    r2 = chord * chord
    n = len(ids)
    deg = np.zeros(n, dtype=np.int64)
    nbrs = [[] for _ in range(n)]
    B = 2000
    for s in range(0, n, B):
        d2 = ((P[s : s + B, None, :] - P[None, :, :]) ** 2).sum(-1)
        for r in range(d2.shape[0]):
            d2[r, s + r] = np.inf
        hit = d2 <= r2
        deg[s : s + B] = hit.sum(1)
        for r, c in zip(*np.nonzero(hit)):
            nbrs[s + r].append(int(c))
    core = deg + 1 >= minpts
    core_edges = [
        (int(ids[i]), int(ids[j]))
        for i in range(n)
        if core[i]
        for j in nbrs[i]
        if core[j] and i < j
    ]
    cc = _union_find(core_edges)
    out = {}
    for i in range(n):
        eid = int(ids[i])
        if core[i]:
            out[eid] = ("core", cc.get(eid, eid))
        else:
            cands = [
                cc.get(int(ids[j]), int(ids[j])) for j in nbrs[i] if core[j]
            ]
            out[eid] = ("border", min(cands)) if cands else ("noise", -1)
    return out


def test_dbscan_matches_brute_force_sf001(spark):
    """q_dbscan vs blocked numpy brute force at sf0.01 (the gate scale) —
    roles, cluster ids, and border tie-breaks all exact; asserts the
    fixture genuinely exercises all three roles."""
    from rust_s2_spark.engine import specs
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    sf = "/root/testdata/sf0.01"
    got = {
        r.event_id: (r.role, r.cluster_id)
        for r in QUERIES["s2_dbscan"](spark, sf).collect()
    }
    ids = list(got)
    expect = _dbscan_brute(ids, specs.DBSCAN_MINPTS, specs.DISTANCE_JOIN_RADIUS)
    assert got == expect
    roles = {v[0] for v in got.values()}
    assert roles == {"core", "border", "noise"}, roles
    clear_geo_cache()


def test_dbscan_all_noise_degenerate(spark):
    """sf0.001's epsilon graph has max degree 1 < minPts-1: every event is
    noise and no core machinery fires (the empty-core-edge-set branch of
    connected_components)."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    rows = QUERIES["s2_dbscan"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 1000
    assert all(r.role == "noise" and r.cluster_id == -1 for r in rows)
    clear_geo_cache()


def test_query_matches_union_find_on_real_pairs(spark):
    """q_spatial_cluster vs union-find over q_distance_join's own pairs at
    sf0.001 — pins query wiring (memoization, sizes join) to the kernel."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    sf = "/root/testdata/sf0.001"
    pairs = [
        (r.event_a, r.event_b)
        for r in QUERIES["s2_distance_join"](spark, sf).collect()
    ]
    expect = _union_find(pairs)
    out = {
        r.event_id: (r.cluster_id, r.cluster_size)
        for r in QUERIES["s2_spatial_cluster"](spark, sf).collect()
    }
    from collections import Counter

    sizes = Counter(expect.values())
    assert {k: v[0] for k, v in out.items()} == expect
    assert all(v[1] == sizes[v[0]] for v in out.values())
    assert len(out) > 20
    clear_geo_cache()
