"""Headline benchmark: runs the registered queries end-to-end.

Times every `QUERIES` entry in registry order, minus the `UNBENCHED` set.

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via a noop write (count() would let Catalyst
prune the geometry UDFs away).  Throughput for the tiling stage is reported as
docs/sec in the extras.

Protocol (v2, round 4): one COLD pass over the whole suite in order, then
W warm passes (default 3) — each warm pass runs the whole suite again in
order, so a query's repeats are separated by every other query (interleaved,
never back-to-back: round-3's back-to-back repeats let one query's shuffle
cleanup / GC land inside the next repeat's window, producing warm > cold
artifacts).  The recorded warm number is the per-query MEDIAN of the W warm
passes.  The headline "value" is the sum of warm medians; the cold pass is
kept verbatim in extras.  Metric name is versioned (headline_warm_median_sec_v2)
so historical JSONs (r1/r2 = cold totals, r3 = best-of-2 warm) are never
compared apples-to-oranges.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Every registered query is benched, in registry order, except these.  The
# reason is the stdout budget, not the queries: only the last ~2,000 chars of
# stdout are recorded, and 83 per-query warm medians need ~1,999 chars even at
# 2 dp (measured on r05's values), so the size guard in main() would drop them
# all.  A new query is benched by default.
UNBENCHED = {
    "s2_cell_hierarchy",
    "s2_cap_semijoin",
    "s2_cap_antijoin",
    "s2_cap_tile_rollup",
    "s2_polyline_buffer_join",
    "text_stats",
    "fingerprint",
    "geo_extract",
    "media_features",
    "revenue_by_nation",
    "top_orders",
    "events_hourly",
    "sample_hash",
}


def _run_once(spark, sf_dir: str, name: str) -> float:
    from rust_s2_spark.engine.queries import QUERIES

    t0 = time.time()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def run(spark, sf_dir: str, names=None, warm_passes: int = 3):
    """One cold pass then `warm_passes` interleaved warm passes over the
    whole suite; returns (cold, warm_median, warm_all)."""
    from rust_s2_spark.engine.queries import QUERIES

    names = list(names or (n for n in QUERIES if n not in UNBENCHED))
    cold = {name: _run_once(spark, sf_dir, name) for name in names}
    warm_all: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(warm_passes):
        for name in names:
            warm_all[name].append(_run_once(spark, sf_dir, name))
    warm = {
        name: round(statistics.median(ts), 3) if ts else cold[name]
        for name, ts in warm_all.items()
    }
    return cold, warm, warm_all


def _progress_rows(query) -> int:
    rows = 0
    for p in query.recentProgress:
        if isinstance(p, str):
            p = json.loads(p)
        rows += int(p.get("numInputRows", 0))
    return rows


def bench_streaming(spark) -> dict:
    """Structured Streaming micro-bench: wall-clock drain of a 200k-row
    availableNow micro-batch through the two stateful pipelines (windowed
    tile counts; applyInPandasWithState purchase attribution).  One UNTIMED
    warmup drain per pipeline (stream startup + state-store init swung the
    single-drain numbers ~3x run-to-run), then the MEDIAN of 3 timed drains
    — a regression canary, not a peak number."""
    from rust_s2_spark.engine import streaming as S

    def _drop(view):
        try:
            spark.catalog.dropTempView(view)
        except Exception:
            pass

    def drain_tiles(tag):
        name = f"bench_stream_tiles_{tag}"
        t0 = time.time()
        q = S.run_stream_to_memory(
            spark, rows_per_batch=200_000, tile_level=6, query_name=name
        )
        dt = time.time() - t0
        rows = _progress_rows(q)
        _drop(name)
        return rows, dt

    def drain_attr(tag):
        name = f"bench_stream_attr_{tag}"
        t0 = time.time()
        attr = S.stream_attribution(spark, rows_per_batch=200_000)
        q = (
            attr.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        dt = time.time() - t0
        rows = _progress_rows(q)
        _drop(name)
        return rows, dt

    def drain_traj(tag):
        name = f"bench_stream_traj_{tag}"
        t0 = time.time()
        traj = S.stream_trajectory(spark, rows_per_batch=200_000)
        q = (
            traj.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        dt = time.time() - t0
        rows = _progress_rows(q)
        _drop(name)
        return rows, dt

    def drain_xing(tag):
        name = f"bench_stream_xing_{tag}"
        t0 = time.time()
        xing = S.stream_line_crossings(spark, rows_per_batch=200_000)
        q = (
            xing.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        dt = time.time() - t0
        rows = _progress_rows(q)
        _drop(name)
        return rows, dt

    def median_of(drain, reps: int = 3):
        drain("warmup")
        runs = [drain(i) for i in range(reps)]
        med = statistics.median(dt for _, dt in runs)
        rows = runs[0][0]
        return {
            "rows": rows,
            "sec": round(med, 3),
            "rows_per_sec": round(rows / med, 1),
            "all_secs": [round(dt, 3) for _, dt in runs],
            "protocol": "median of 3 drains after 1 untimed warmup drain",
        }

    return {
        "stream_tile_counts": median_of(drain_tiles),
        "stream_attribution": median_of(drain_attr),
        "stream_trajectory": median_of(drain_traj),
        "stream_line_crossings": median_of(drain_xing),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from rust_s2_spark.engine.session import get_spark

    spark = get_spark(app_name="rust-s2-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + UDF workers once (excluded from timings).  The pandas
    # UDF warms the Python worker pool across all cores: spawning 32 workers
    # simultaneously costs ~5-7 s on this sandbox (mmap-lock contention on
    # concurrent numpy imports) and is pure infrastructure — production
    # executors are long-lived.
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from rust_s2_spark.engine.queries import QUERIES

    QUERIES["s2_tile_assign"](spark, sf_dir).limit(10).collect()

    def _warm_fn(x):
        import numpy  # noqa: F401  (the expensive concurrent import)

        return x * 1.0

    # no type hints: `from __future__ import annotations` stringifies them
    # and the local alias can't be resolved by pyspark's hint inference
    _warm = pandas_udf(_warm_fn, "double")

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(0, 100 * n_cores, 1, n_cores).select(
        F.sum(_warm(F.col("id").cast("double")))
    ).collect()
    # warmup primes the memoized tiled-events table; clear it so the first
    # timed query pays the materialization cost honestly (later queries
    # legitimately share it — that is the materialized-ingest design)
    from rust_s2_spark.engine.queries import clear_geo_cache

    clear_geo_cache()

    warm_passes = int(os.environ.get("SPARK_GRAFT_BENCH_WARM_PASSES", "3"))
    cold, warm, warm_all = run(spark, sf_dir, warm_passes=warm_passes)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    out = {
        "metric": "headline_warm_median_sec_v2",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "sf": sf_dir,
        "tile_docs_per_sec": round(n_events / warm["s2_tile_assign"], 1),
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "suite_size": len(warm),
        "protocol": (
            f"1 cold pass + {warm_passes} interleaved warm passes over the full "
            "suite; value = sum of per-query warm MEDIANS over THIS json's "
            "queries dict — totals are only comparable across runs with "
            "identical suites (see suite_size); per-query medians are always "
            "comparable.  v2 is not comparable to r1/r2 headline (cold "
            "totals) or r3 (best-of-2 back-to-back warm); compare "
            "cold_total_sec for a cross-round basis."
        ),
        "queries_cold": cold,
        "cold_total_sec": round(sum(cold.values()), 3),
    }
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        out["streaming"] = bench_streaming(spark)

    # The driver records only the LAST ~2000 chars of stdout; round 4's full
    # record (~4.5 kB) got decapitated and BENCH_r04.json arrived parsed:null.
    # Write the complete record to a file, then print a compact headline line
    # LAST — metric, value, per-query warm medians — guaranteed to fit.  The
    # record is named by UTC time and opened exclusively, so a rerun never
    # overwrites an earlier record.
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_full_{stamp}.json"
    )
    try:
        with open(full_path, "x") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        full_path = None
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": warm,
        "sf": sf_dir,
        "suite_size": out["suite_size"],
        "cold_total_sec": out["cold_total_sec"],
        "tile_docs_per_sec": out["tile_docs_per_sec"],
    }
    if "streaming" in out:
        compact["stream_rows_per_sec"] = {
            k: v["rows_per_sec"] for k, v in out["streaming"].items()
        }
    if full_path:
        compact["full_record"] = os.path.basename(full_path)
    # Belt-and-braces: never exceed the driver's ~2000-char tail capture.
    # Shed the LEAST valuable fields first — the per-query warm medians are
    # the artifact the driver exists to record, so they go last (68-query
    # suite measures ~1.9 kB with everything on; the first two steps buy
    # ~200 bytes of headroom).
    def _line() -> str:
        return json.dumps(compact, separators=(",", ":"))

    if len(_line()) > 1900:
        compact.pop("stream_rows_per_sec", None)  # in the full record
    if len(_line()) > 1900:
        compact["sf"] = os.path.basename(sf_dir.rstrip("/"))
    if len(_line()) > 1900:
        compact["queries"] = {k: round(v, 2) for k, v in warm.items()}
    if len(_line()) > 1900:
        compact.pop("queries", None)
    print(_line())


if __name__ == "__main__":
    main()
