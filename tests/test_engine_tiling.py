"""End-to-end: synthetic interleaved docs -> geo extraction -> tile assignment.

The 14 exact latlng vectors (cellid.rs:1118-1134) ride as docs 0-13, so the
full Spark path (Arrow UDF + Column bit math) is bit-matched, not just numpy.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_s2_spark.engine import ingest, tiling
from rust_s2_spark.kernel import hierarchy as h

pytestmark = pytest.mark.spark

EXPECTED = {
    0: 0x47A1CBD595522B39,
    1: 0x46525318B63BE0F9,
    7: 0xB09DFF882A7809E1,
    13: 0xB112966AAAAAAAAB,
}


def test_synth_docs_deterministic(spark):
    a = ingest.synth_docs(spark, 200, partitions=2).orderBy("doc_id").collect()
    b = ingest.synth_docs(spark, 200, partitions=7).orderBy("doc_id").collect()
    assert a == b  # partition-count invariant
    assert len(a) == 200
    # offsets monotonic per doc
    for row in a[:50]:
        offs = [s["offset"] for s in row["spans"]]
        assert offs == sorted(offs) == list(range(len(offs)))


def test_extract_and_tile_bitmatch(spark):
    docs = ingest.synth_docs(spark, 64, partitions=4)
    geo = ingest.extract_geo(docs)
    tiled = tiling.with_leaf_cellid(geo)
    rows = {r["doc_id"]: r["cell_id"] for r in tiled.collect()}
    for idx, want in EXPECTED.items():
        got = np.int64(rows[f"doc-{idx:012d}"]).view(np.uint64)
        # geo text round-trips through %.9f; re-encode of the quantized latlng
        # must equal direct kernel encode of the same quantized values
        assert h.is_valid(got)
    # Full bit-match for all docs against the pure-numpy kernel on parsed text.
    from rust_s2_spark.kernel import hilbert

    pdf = ingest.extract_geo(docs).toPandas().sort_values("doc_id")
    want_cids = hilbert.cellid_from_latlng(pdf["lat"].to_numpy(), pdf["lng"].to_numpy())
    got_pdf = tiled.select("doc_id", "cell_id").toPandas().sort_values("doc_id")
    assert np.array_equal(
        got_pdf["cell_id"].to_numpy(np.int64).view(np.uint64), want_cids
    )


def test_exact_vectors_through_spark(spark):
    # Bypass the %.9f quantization: feed exact vector latlngs through the UDF.
    from tests.test_hilbert import LATLNG_VECTORS

    df = spark.createDataFrame(
        [(float(lat), float(lng), int(np.uint64(cid).view(np.int64))) for cid, lat, lng in LATLNG_VECTORS],
        "lat double, lng double, want long",
    )
    out = tiling.with_leaf_cellid(df).where(F.col("cell_id") != F.col("want"))
    assert out.count() == 0


def test_column_bit_math_matches_kernel(spark):
    docs = ingest.synth_docs(spark, 500, partitions=4)
    tiled = tiling.with_leaf_cellid(ingest.extract_geo(docs))
    for lvl in (4, 10, 16):
        got = tiled.select(
            "cell_id", tiling.parent_col("cell_id", lvl).alias("p")
        ).toPandas()
        want = h.parent(got["cell_id"].to_numpy(np.int64).view(np.uint64), lvl)
        assert np.array_equal(got["p"].to_numpy(np.int64).view(np.uint64), want)
    got = tiled.select(
        "cell_id",
        tiling.range_min_col("cell_id").alias("rmin"),
        tiling.range_max_col("cell_id").alias("rmax"),
        tiling.level_col(tiling.parent_col("cell_id", 12)).alias("lvl12"),
        tiling.is_valid_col("cell_id").alias("ok"),
    ).toPandas()
    cids = got["cell_id"].to_numpy(np.int64).view(np.uint64)
    assert np.array_equal(got["rmin"].to_numpy(np.int64).view(np.uint64), h.range_min(cids))
    assert np.array_equal(got["rmax"].to_numpy(np.int64).view(np.uint64), h.range_max(cids))
    assert (got["lvl12"] == 12).all()
    assert got["ok"].all()


def test_span_invariant(spark):
    docs = ingest.synth_docs(spark, 300, partitions=3)
    # A pass-through stage preserves the invariant…
    ingest.assert_span_invariant(docs, docs.repartition(5))
    # …and corruption is caught.
    corrupted = docs.withColumn(
        "spans",
        F.expr(
            "transform(spans, s -> named_struct("
            "'kind', s.kind, 'text', coalesce(s.text, '') || 'X', "
            "'media_ref', s.media_ref, 'offset', s.offset))"
        ),
    )
    with pytest.raises(AssertionError):
        ingest.assert_span_invariant(docs, corrupted)


def test_column_encode_bitmatch_udf_on_fixture(spark):
    """The pure-Column Hilbert encode must be bit-identical to the numpy
    kernel on the full sf0.001 events fixture."""
    from rust_s2_spark.engine.queries import events_geo
    from rust_s2_spark.kernel import hilbert

    geo = events_geo(spark, "/root/testdata/sf0.001").drop("cell_id")
    got = tiling.with_leaf_cellid(geo, out="c").select("lat", "lng", "c").toPandas()
    want = hilbert.cellid_from_latlng(
        got["lat"].to_numpy(np.float64), got["lng"].to_numpy(np.float64)
    ).view(np.int64)
    assert len(got) == 1000
    assert (got["c"].to_numpy() == want).all()


def test_column_encode_deterministic_across_executions(spark):
    """The pure-Column encode carries a nondeterministic MARKER (rand()*0)
    as a Catalyst rewrite barrier — its VALUE must stay exactly
    deterministic across independent executions and partitionings, or
    every downstream join/checkpoint silently breaks."""
    from rust_s2_spark.engine.queries import events_geo

    geo = events_geo(spark, "/root/testdata/sf0.001")
    a = {r["event_id"]: r["cell_id"] for r in geo.select("event_id", "cell_id").collect()}
    # fresh, uncached lineage with a different partitioning
    from rust_s2_spark.engine import specs, tiling

    lat_sql, lng_sql = specs.latlng_sql("event_id")
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .repartition(7)
        .select("event_id", F.expr(lat_sql).alias("lat"), F.expr(lng_sql).alias("lng"))
    )
    fresh = tiling.with_leaf_cellid(df)
    b = {r["event_id"]: r["cell_id"] for r in fresh.select("event_id", "cell_id").collect()}
    assert a == b
