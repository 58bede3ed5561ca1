"""Query-scoped persisted intermediates must not accumulate: repeated
invocations of the persisting queries reuse the session memo's cached
relation, so executor storage stays bounded in a long-lived session
(ADVICE round 3), and clear_geo_cache() releases everything the memo holds."""

from pyspark.broadcast import Broadcast

from rust_s2_spark.engine import memo as M
from rust_s2_spark.engine import queries as Q

SF = "/root/testdata/sf0.001"


def _n_persisted(spark):
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _n_broadcasts():
    return sum(isinstance(v, Broadcast) for v in M.held())


def test_repeat_invocations_do_not_stack_persists(spark):
    Q.q_ngram_jaccard(spark, SF).count()
    Q.q_minhash_lsh(spark, SF).count()
    base_held = len(M.held())
    base_rdds = _n_persisted(spark)
    for _ in range(3):
        Q.q_ngram_jaccard(spark, SF).count()
        Q.q_minhash_lsh(spark, SF).count()
    assert len(M.held()) == base_held
    assert _n_persisted(spark) == base_rdds

    r1 = Q.q_knn_cellring(spark, SF)
    base_rdds = _n_persisted(spark)
    r2 = Q.q_knn_cellring(spark, SF)
    assert r2 is r1  # memoized result, no re-search
    assert _n_persisted(spark) == base_rdds

    # and the clear still releases everything the memo holds, including the
    # session broadcasts (data-derived payloads like the IVF centroids must
    # be rebuilt from a possibly-rewritten source after a clear, not served
    # stale)
    from rust_s2_spark.engine import polyjoin as pj

    pj.session_broadcast(spark, ("test_tag", "cleared"), lambda: 1)
    assert _n_broadcasts() > 0
    Q.clear_geo_cache()
    assert M.held() == []


def test_session_broadcast_builds_once_per_tag(spark):
    from rust_s2_spark.engine import polyjoin as pj

    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return {"payload": calls["n"]}

    b1 = pj.session_broadcast(spark, ("test_tag", "a"), make)
    b2 = pj.session_broadcast(spark, ("test_tag", "a"), make)
    b3 = pj.session_broadcast(spark, ("test_tag", "b"), make)
    assert b1 is b2  # same tag -> same Broadcast object, make() not re-run
    assert calls["n"] == 2  # once per distinct tag
    assert b3 is not b1


def test_tagged_queries_reuse_broadcasts_across_warm_runs(spark):
    queries = (
        Q.q_pip_join,
        Q.q_poly_nested_join,
        Q.q_coastline_join,
        Q.q_poly_overlay_join,
        Q.q_region_area_stats,
    )
    for q in queries:
        q(spark, SF).count()
    base = _n_broadcasts()
    for _ in range(2):
        for q in queries:
            q(spark, SF).count()
    # warm re-runs ship nothing new: the broadcast memo is stable
    assert _n_broadcasts() == base


def test_cc_queries_release_checkpoints_on_clear(spark):
    """The connected-components consumers hold persists and local
    checkpoints (every fixpoint round is one); a clear must release all of
    them, so repeated query-and-clear cycles return to the baseline.  The
    check is on RDD ids: Spark registers persisted RDDs weakly, so ones an
    earlier test dropped may vanish from the baseline on a JVM collection."""

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    Q.clear_geo_cache()
    base = ids()
    for _ in range(3):
        for q in (Q.q_spatial_cluster, Q.q_dbscan, Q.q_dedup_cluster):
            q(spark, SF).collect()
        assert ids() - base
        Q.clear_geo_cache()
        assert not ids() - base


def test_untagged_refine_is_held_until_clear(spark):
    """An untagged refine (the benchmark replays one batch through its
    ``.func``) gets its own broadcast of the built loops, which the memo
    holds so a clear frees it; the UDF answers as the loops themselves."""
    import numpy as np
    import pandas as pd

    from rust_s2_spark.engine import polyjoin as pj
    from rust_s2_spark.engine import specs
    from rust_s2_spark.kernel.pip import Loop
    from rust_s2_spark.kernel.stuv import latlng_to_xyz

    verts, _ = Q._loop_setup()
    Q.clear_geo_cache()
    udf = pj._pip_refine_udf(spark, verts)
    assert _n_broadcasts() == 1

    rng = np.random.default_rng(5)
    rids, lat, lng = [], [], []
    for rid, ring in specs.POLYGONS:
        c_lat, c_lng = np.mean(ring, axis=0)
        rids += [rid] * 500
        lat.append(c_lat + rng.uniform(-15, 15, 500))
        lng.append(c_lng + rng.uniform(-20, 20, 500))
    rids, lat, lng = np.array(rids), np.concatenate(lat), np.concatenate(lng)
    got = udf.func(pd.Series(rids), pd.Series(lat), pd.Series(lng)).to_numpy()
    px, py, pz = latlng_to_xyz(lat, lng)
    want = np.zeros(len(rids), dtype=bool)
    for rid, v in verts.items():
        m = rids == rid
        want[m] = Loop(v).contains_points(px[m], py[m], pz[m])
    assert want.any() and not want.all()
    assert (got == want).all()

    Q.clear_geo_cache()
    assert _n_broadcasts() == 0


def test_focal_level_counts_are_memoized_once(spark):
    """s2_focal_density's focal table and s2_idw_smooth's grid counts group
    events_geo by the same FOCAL_LEVEL tile: one memoized frame does that
    aggregation and the other reads it.  A frame's own work is its analyzed
    plan down to, not into, fragments another persisted frame caches."""
    from pyspark.sql import DataFrame

    from rust_s2_spark.engine import specs

    session = spark._jsparkSession
    cache = session.sharedState().cacheManager()
    lsb = 1 << (2 * (30 - specs.FOCAL_LEVEL))

    def aggregates_focal_tiles(df):
        stack = [(df._jdf.queryExecution().analyzed(), True)]
        while stack:
            node, root = stack.pop()
            if not root and cache.lookupCachedData(session, node).isDefined():
                continue
            keys = str(node.groupingExpressions()) if node.nodeName() == "Aggregate" else ""
            if "cell_id" in keys and f"-{lsb})" in keys:
                return True
            kids = node.children()
            stack.extend((kids.apply(i), False) for i in range(kids.size()))
        return False

    Q.clear_geo_cache()
    Q.q_focal_density(spark, SF)
    Q.q_idw_smooth(spark, SF)
    frames = [v for v in M.held() if isinstance(v, DataFrame)]
    assert sum(aggregates_focal_tiles(f) for f in frames) == 1
    Q.clear_geo_cache()
