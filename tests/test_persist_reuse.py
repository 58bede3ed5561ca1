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
    assert pj.broadcast_memo_key(spark, b1) == pj.broadcast_memo_key(spark, b2)
    assert pj.broadcast_memo_key(spark, b3) != pj.broadcast_memo_key(spark, b1)


def test_tagged_queries_reuse_broadcasts_across_warm_runs(spark):
    Q.q_pip_join(spark, SF).count()
    Q.q_poly_nested_join(spark, SF).count()
    Q.q_coastline_join(spark, SF).count()
    base = _n_broadcasts()
    for _ in range(2):
        Q.q_pip_join(spark, SF).count()
        Q.q_poly_nested_join(spark, SF).count()
        Q.q_coastline_join(spark, SF).count()
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
