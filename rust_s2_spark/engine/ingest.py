"""Synthetic interleaved text+media document table + geo extraction.

Input contract (BASELINE.json input_hint / FIXTURES.md F1):

    doc_id: string,
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Geo spans carry ``text = "<lat>:<lng>"`` in degrees (the reference's own loop
fixture format, loop.rs:2046-2067).

Design notes (100 TB scale):
- Generation is pure Catalyst (``spark.range(n)`` + Column exprs, zero
  Python): content is a *pure function of the doc index* (native xxhash64,
  no RNG state), so output is identical at any partitioning/parallelism —
  determinism at two cluster sizes — and runs in whole-stage codegen.
- Geo extraction is **pure Catalyst** (``F.filter``/``F.split`` on the span
  array — no Python at all), so it's whole-stage-codegen'd and column-pruned
  down to the one struct field the query needs.
- Span-sequence invariant (kind, text, media_ref, order) is checked via a
  JVM-side sha2 signature per doc (engine-wide, cheap, no Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The 14 exact latlng vectors (cellid.rs:1118-1134) are injected as docs 0-13
# so bit-match against the reference is exercised end-to-end.
_EXACT_VECTORS = [
    (49.703498679, 11.770681595),
    (55.685376759, 12.588490937),
    (45.486546517, -93.449700022),
    (58.299984854, 23.049300056),
    (34.364439040, 108.330699969),
    (-30.694551352, -30.048758753),
    (-25.285264027, 133.823116966),
    (-75.000000031, 0.000000133),
    (-24.694439215, -47.537363213),
    (38.899730392, -99.901813021),
    (81.647200334, -55.631712940),
    (10.050986518, 78.293170610),
    (-34.055420593, 18.551140038),
    (-69.219262171, 49.670072392),
]

# Hot-cluster centers: exercise hot-cell salting (FIXTURES.md F1).
_CITIES = np.array(
    [
        [37.7749, -122.4194],  # SF
        [40.7128, -74.0060],  # NYC
        [35.6762, 139.6503],  # Tokyo
    ]
)

_U = np.uint64

# XXH64 primes — the derivation hash is Spark's native xxhash64 (seed 42),
# reproduced here bit-for-bit so numpy stays the independent reference.
_P1 = _U(0x9E3779B185EBCA87)
_P2 = _U(0xC2B2AE3D27D4EB4F)
_P3 = _U(0x165667B19E3779F9)
_P4 = _U(0x85EBCA77C2B2AE63)
_P5 = _U(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = _U(r)
    return (x << r) | (x >> (_U(64) - r))


def _xxh64_long(v: np.ndarray, seed) -> np.ndarray:
    """XXH64 of a single 8-byte (long) block — matches Spark XxHash64."""
    v = np.asarray(v).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = np.asarray(seed, dtype=np.uint64) + _P5 + _U(8)
        k1 = _rotl(v * _P2, 31) * _P1
        h = h ^ k1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> _U(33)
        h *= _P2
        h ^= h >> _U(29)
        h *= _P3
        h ^= h >> _U(32)
    return h


def _hash_k(idx: np.ndarray, k: int) -> np.ndarray:
    """numpy twin of F.xxhash64(id, lit(k).cast("long"))."""
    base = _xxh64_long(idx, _U(42))
    if k == 0:
        return base
    return _xxh64_long(np.full(len(np.atleast_1d(base)), k, dtype=np.int64), base)


def _u01(x: np.ndarray) -> np.ndarray:
    return (x >> _U(11)).astype(np.float64) * (2.0**-53)


def doc_latlng(idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic lat/lng for doc index: 40% uniform-on-sphere, 60% hot city
    blobs; docs 0-13 pinned to the exact reference vectors."""
    idx = np.asarray(idx, dtype=np.int64)
    h1 = _hash_k(idx, 0)
    h2 = _hash_k(idx, 1)
    h3 = _hash_k(idx, 2)
    u1, u2, u3 = _u01(h1), _u01(h2), _u01(h3)

    # Uniform on sphere (random.rs:35-41 semantics).
    z = 2.0 * u1 - 1.0
    lat_uni = np.degrees(np.arcsin(z))
    lng_uni = 360.0 * u2 - 180.0

    # Hot blobs: tight boxes around 3 cities.
    city = (h3 % _U(3)).astype(np.int64)
    lat_blob = _CITIES[city, 0] + (u1 - 0.5) * 0.5
    lng_blob = _CITIES[city, 1] + (u2 - 0.5) * 0.5

    is_blob = u3 < 0.6
    lat = np.where(is_blob, lat_blob, lat_uni)
    lng = np.where(is_blob, lng_blob, lng_uni)

    for k, (vlat, vlng) in enumerate(_EXACT_VECTORS):
        lat = np.where(idx == k, vlat, lat)
        lng = np.where(idx == k, vlng, lng)
    return lat, lng


def _u01_col(x):
    return F.shiftrightunsigned(x, 11).cast("double") * F.lit(2.0**-53)


def _umod3_col(x):
    """u64 % 3 on a signed column: u64 = 2*(x>>>1) + (x&1)."""
    return (
        F.shiftrightunsigned(x, 1) % 3 * 2 + x.bitwiseAND(F.lit(1))
    ) % 3


def _hash_k_col(idx, k: int):
    """Native xxhash64 chain — single tiny expression, stays in codegen."""
    if k == 0:
        return F.xxhash64(idx)
    return F.xxhash64(idx, F.lit(k).cast("long"))


def synth_docs(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Deterministic interleaved-doc table — pure Catalyst, zero Python.

    Whole-stage codegen generates docs at JVM speed on every executor;
    content is a pure function of the row id (identical at any parallelism).
    The numpy ``doc_latlng`` above remains the independent reference: the
    Column math below reproduces it bit-for-bit (same xxhash64 chain),
    modulo 1-ulp libm differences inside asin.
    """
    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)
    df = spark.range(0, n_docs, numPartitions=partitions)
    doc_id, spans = doc_cols(F.col("id"))
    return df.select(doc_id.alias("doc_id"), spans.alias("spans"))


def doc_cols(idx):
    """(doc_id, spans) Column pair from a long index column.

    Shared by the batch generator and the streaming source (streaming.py) so
    both produce byte-identical docs for the same index.
    """
    h1 = _hash_k_col(idx, 0)
    h2 = _hash_k_col(idx, 1)
    h3 = _hash_k_col(idx, 2)
    u1, u2, u3 = _u01_col(h1), _u01_col(h2), _u01_col(h3)

    lat_uni = F.degrees(F.asin(F.lit(2.0) * u1 - F.lit(1.0)))
    lng_uni = F.lit(360.0) * u2 - F.lit(180.0)
    city = _umod3_col(h3)
    city_lat = F.element_at(F.array(*[F.lit(float(c)) for c in _CITIES[:, 0]]), city.cast("int") + 1)
    city_lng = F.element_at(F.array(*[F.lit(float(c)) for c in _CITIES[:, 1]]), city.cast("int") + 1)
    lat = F.when(u3 < 0.6, city_lat + (u1 - 0.5) * 0.5).otherwise(lat_uni)
    lng = F.when(u3 < 0.6, city_lng + (u2 - 0.5) * 0.5).otherwise(lng_uni)
    # docs 0-13 pin to the exact reference vectors: one array lookup, not a
    # 14-deep when-chain (keeps the expression tree codegen-friendly)
    vlat_arr = F.array(*[F.lit(v) for v, _ in _EXACT_VECTORS])
    vlng_arr = F.array(*[F.lit(v) for _, v in _EXACT_VECTORS])
    pin = idx < len(_EXACT_VECTORS)
    lat = F.when(pin, F.element_at(vlat_arr, idx.cast("int") + 1)).otherwise(lat)
    lng = F.when(pin, F.element_at(vlng_arr, idx.cast("int") + 1)).otherwise(lng)

    n_extra = _umod3_col(_hash_k_col(idx, 3))
    has_media = _hash_k_col(idx, 4).bitwiseAND(F.lit(3)) == 0

    sid = idx.cast("string")
    null_s = F.lit(None).cast("string")
    span = lambda kind, text, ref, off: F.struct(
        F.lit(kind).alias("kind"),
        text.alias("text"),
        ref.alias("media_ref"),
        off.cast("int").alias("offset"),
    )
    base = F.array(
        span("text", F.concat(F.lit("intro "), sid), null_s, F.lit(0)),
        span("geo", F.format_string("%.9f:%.9f", lat, lng), null_s, F.lit(1)),
    )
    media = F.when(
        has_media,
        F.array(span("media", null_s, F.concat(F.lit("media://blob/"), sid), F.lit(2))),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
    off0 = F.lit(2) + F.when(has_media, 1).otherwise(0)
    # plain CASE (no higher-order transform: HOF lambdas are CodegenFallback
    # and would drop the whole projection out of whole-stage codegen)
    body0 = span("text", F.concat(F.lit("body "), sid, F.lit(" 0")), null_s, off0)
    body1 = span("text", F.concat(F.lit("body "), sid, F.lit(" 1")), null_s, off0 + 1)
    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    extras = (
        F.when(n_extra == 0, empty)
        .when(n_extra == 1, F.array(body0))
        .otherwise(F.array(body0, body1))
    )
    spans = F.concat(base, media, extras)
    doc_id = F.concat(F.lit("doc-"), F.lpad(sid, 12, "0"))
    return doc_id, spans


def extract_geo(docs: DataFrame, keep_spans: bool = False) -> DataFrame:
    """doc_id + (lat, lng) from the first geo span — pure Catalyst, no Python.

    Column pruning reaches the scan: only ``spans.kind``/``spans.text`` are read.
    """
    geo_text = F.filter("spans", lambda s: s["kind"] == F.lit("geo"))[0]["text"]
    parts = F.split(geo_text, ":")
    cols = [
        F.col("doc_id"),
        parts[0].cast("double").alias("lat"),
        parts[1].cast("double").alias("lng"),
    ]
    if keep_spans:
        cols.append(F.col("spans"))
    return docs.select(*cols).where(F.col("lat").isNotNull())


def span_signature(docs: DataFrame) -> DataFrame:
    """Per-doc sha2 over the exact (kind, text, media_ref, order) sequence.

    Used as the stage-invariant check (BASELINE.json input_hint): signatures of
    any checkpoint must equal the source's. JVM-side only.
    """
    sig = F.sha2(
        F.array_join(
            F.transform(
                "spans",
                lambda s: F.concat_ws(
                    "\x1f",
                    s["kind"],
                    F.coalesce(s["text"], F.lit("\x00")),
                    F.coalesce(s["media_ref"], F.lit("\x00")),
                    s["offset"].cast("string"),
                ),
            ),
            "\x1e",
        ),
        256,
    )
    return docs.select("doc_id", sig.alias("span_sig"))


def assert_span_invariant(source: DataFrame, checkpoint: DataFrame) -> None:
    """Raise if any doc's span sequence changed between two stages."""
    a = span_signature(source).alias("a")
    b = span_signature(checkpoint).alias("b")
    bad = (
        a.join(b, on="doc_id", how="full")
        .where(F.col("a.span_sig").eqNullSafe(F.col("b.span_sig")) == F.lit(False))
        .count()
    )
    if bad:
        raise AssertionError(f"span-sequence invariant violated for {bad} docs")
