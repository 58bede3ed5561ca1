"""SparkSession construction tuned for the spatial engine.

Local testing runs ``local[N]``; the same builder flags are what we'd ship to a
1000-executor cluster: AQE on (skew-join splitting + dynamic coalescing), Arrow
on (every geometry kernel rides pandas UDFs), and shuffle partitions sized by
the caller (default 32 locally; at cluster scale set ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "rust-s2-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER supports multi-executor modes (e.g.
    # local-cluster[8,4,4096] = 8 executor JVMs x 4 cores — the sandbox's
    # stand-in for a real cluster; per-process CPU is throttled here, so
    # separate executor processes are how parallelism actually scales).
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # wrapping 64-bit arithmetic (splitmix64 in Column exprs) needs
        # non-ANSI overflow semantics; all engine arithmetic is range-checked
        # by construction.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # Arrow batches deliberately small: per-op numpy temporaries stay
        # cache-resident and allocation pressure per fault-in stays low —
        # measured faster than 128k/1M batches at high worker counts.
        # glibc tuning for the Arrow/numpy workers: large numpy buffers default
        # to mmap (128 KiB threshold); with dozens of concurrent workers the
        # kernel serializes on mmap_lock and python stages stop scaling.
        # Keeping big allocations in the arena heap removes that contention
        # (measured: 2.5x on a 32-core box).
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "2")
        # JVM-side twin of the malloc tuning: pre-touch the executor heap at
        # startup so allocation-heavy stages (doc synth string building,
        # shuffle buffers) never grow the heap mid-job — dynamic heap growth
        # funnels through the same host mmap_lock that serializes the python
        # workers.  ParallelGC beats G1 here: small heaps, throughput-bound
        # batch stages, no latency targets.  These flags apply only to
        # separate executor JVMs (local-cluster via SPARK_GRAFT_MASTER, as in
        # tools/bench_scaling.py, or a real cluster).  Under the default
        # local[*] master the executors run inside the driver JVM, so they
        # never take effect there and the driver runs the JVM default (G1).
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # Iceberg catalog wiring: active automatically when the runtime ships
        # the iceberg-spark runtime jar (production path). Local sandbox has no
        # jar -> engine.checkpoint falls back to parquet checkpoints.
        .config("spark.sql.catalog.spark_catalog.warehouse", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/s2_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor python workers (the --py-files path when
    # not launched through spark-submit).
    pyz = os.environ.get("SPARK_GRAFT_PYFILES")
    if pyz:
        spark.sparkContext.addPyFile(pyz)
    return spark
