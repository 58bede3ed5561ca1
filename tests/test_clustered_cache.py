"""Session-memo lifecycle: a rewritten dataset must be re-read, re-clustered
and re-trained after clear_geo_cache(), and two datasets sharing a basename
must not alias to one clustered copy (the on-disk path is keyed by the FULL
dataset dir)."""

from __future__ import annotations

import numpy as np

from rust_s2_spark.engine import queries as Q


def _write_events(spark, path: str, ids: range) -> None:
    spark.createDataFrame(
        [(int(i),) for i in ids], "event_id long"
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_embeddings(spark, path: str, seed: int) -> None:
    vecs = np.random.default_rng(seed).standard_normal((200, 8)).astype(np.float32)
    spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def _write(spark, path: str, ids: range, seed: int) -> None:
    _write_events(spark, path, ids)
    _write_embeddings(spark, path, seed)


def _rows(spark, sf_dir: str, q=Q.q_cap_join_clustered):
    return sorted(map(tuple, q(spark, sf_dir).collect()))


# memoized per session: the pair table and the CC labels (persist + local
# checkpoint), and the data-derived IVF centroids (session broadcast)
MEMOIZED = [Q.q_distance_join, Q.q_spatial_cluster, Q.q_ann_ivf]


def test_rewritten_dataset_recluster_after_clear(spark, tmp_path):
    d = str(tmp_path / "ds" / "sfX")
    _write(spark, d, range(0, 3000), seed=1)
    first = _rows(spark, d)
    assert first == sorted(map(tuple, Q.q_cap_join(spark, d).collect()))
    assert first  # caps over globally spread LCG points: non-empty
    first_memo = [_rows(spark, d, q) for q in MEMOIZED]
    assert all(first_memo)

    # rewrite the dataset in place; every memoized value is stale
    _write(spark, d, range(50000, 53000), seed=2)
    Q.clear_geo_cache()
    second = _rows(spark, d)
    assert second == sorted(map(tuple, Q.q_cap_join(spark, d).collect()))
    assert second != first

    # the memoized queries serve the rewritten rows: the same as a fresh
    # dataset dir holding the new data, which no memo entry has seen
    fresh = str(tmp_path / "fresh" / "sfX")
    _write(spark, fresh, range(50000, 53000), seed=2)
    for q, old in zip(MEMOIZED, first_memo):
        got = _rows(spark, d, q)
        assert got == _rows(spark, fresh, q), q.__name__
        assert got != old, q.__name__


def test_same_basename_datasets_do_not_alias(spark, tmp_path):
    d1 = str(tmp_path / "a" / "sfY")
    d2 = str(tmp_path / "b" / "sfY")
    _write_events(spark, d1, range(0, 3000))
    _write_events(spark, d2, range(50000, 53000))
    r1 = _rows(spark, d1)
    r2 = _rows(spark, d2)  # before the fix this overwrote d1's clustered copy
    assert r1 != r2
    # d1 must still serve ITS rows (not d2's) from its clustered path
    assert _rows(spark, d1) == r1
    assert r1 == sorted(map(tuple, Q.q_cap_join(spark, d1).collect()))
