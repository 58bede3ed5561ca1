"""embed_dedup's block-pair join is exact at EVERY K: the triangle-inequality
admissibility argument (queries._embed_setup docstring) is K-independent, so
the same corpus must yield identical cos>=tau pairs at K=16 and K=64."""

from rust_s2_spark.engine.queries import _embed_k, q_embed_dedup

SF = "/root/testdata/sf0.001"


def test_k_derivation():
    # floor keeps the bucketed shape at toy scale
    assert _embed_k(500, None) == 16
    assert _embed_k(4096 * 16, None) == 16
    # grows with the corpus at the rows-per-block target
    assert _embed_k(4096 * 100, None) == 100
    # ceiling bounds the driver-side O(K^2) pair enumeration
    assert _embed_k(4096 * 10**6, None) == 4096
    # explicit K wins, clamped to the corpus
    assert _embed_k(500, 64) == 64
    assert _embed_k(30, 64) == 30


def test_output_pairs_identical_at_k16_and_k64(spark):
    a = sorted(map(tuple, q_embed_dedup(spark, SF, k=16).collect()))
    b = sorted(map(tuple, q_embed_dedup(spark, SF, k=64).collect()))
    assert len(a) > 0
    assert a == b


def test_corpus_smaller_than_k_floor(spark, tmp_path):
    """A corpus below the K floor of 16 must run (effective K = n) and
    match brute force — the centroid table is just shorter than requested."""
    import numpy as np

    rng = np.random.default_rng(3)
    mat = rng.normal(size=(10, 8))
    rows = [(i, mat[i].tolist()) for i in range(10)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = sorted(
        (r["id_a"], r["id_b"]) for r in q_embed_dedup(spark, str(tmp_path)).collect()
    )
    nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = nm @ nm.T
    from rust_s2_spark.engine.specs import EMBED_DEDUP_TAU

    want = sorted(
        (i, j) for i in range(10) for j in range(i + 1, 10)
        if sims[i, j] >= EMBED_DEDUP_TAU
    )
    assert got == want

