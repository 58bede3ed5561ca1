"""Structured Streaming: continuous doc ingest -> tiling -> windowed rollups.

The reference has no streaming surface; this is the engine's idiomatic
extension of the same operators to unbounded input:

- source: ``rate-micro-batch`` (deterministic batches) whose ``value`` feeds
  the exact batch generator expressions (``ingest.doc_cols``), so streamed
  docs are byte-identical to batch docs with the same index;
- geo extraction + leaf-cellid UDF + tile bit-math are the *same* Columns
  and pandas UDF as the batch path (pandas UDFs run per micro-batch);
- event-time windowed per-tile counts with a watermark bound late data;
  checkpointLocation gives exactly-once sink semantics — the streaming
  analog of the batch CheckpointManager lineage.

At scale this is the continuous-ingest deployment: Kafka source instead of
rate-micro-batch (swap ``readStream.format``), Iceberg streaming sink
instead of memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ingest, specs, tiling

__all__ = [
    "stream_docs",
    "stream_tile_counts",
    "run_stream_to_memory",
    "stream_sessions",
    "batch_sessions_reference",
    "stream_cap_join",
    "run_stream_cap_join_to_memory",
    "stream_dedup_docs",
    "run_stream_dedup_to_memory",
    "stream_attribution",
    "batch_attribution_reference",
]


def stream_docs(spark: SparkSession, rows_per_batch: int = 1000) -> DataFrame:
    """Unbounded deterministic doc stream: (ts, doc_id, spans)."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    doc_id, spans = ingest.doc_cols(F.col("value"))
    return src.select(
        F.col("timestamp").alias("ts"), doc_id.alias("doc_id"), spans.alias("spans")
    )


def stream_tile_counts(
    docs: DataFrame,
    tile_level: int = 6,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Windowed per-tile doc counts with late-data watermark."""
    geo_text = F.filter("spans", lambda s: s["kind"] == F.lit("geo"))[0]["text"]
    parts = F.split(geo_text, ":")
    g = docs.withWatermark("ts", watermark).select(
        "ts",
        "doc_id",
        parts[0].cast("double").alias("lat"),
        parts[1].cast("double").alias("lng"),
    )
    g = tiling.with_leaf_cellid(g)
    g = g.withColumn("tile", tiling.parent_col("cell_id", tile_level))
    return g.groupBy(F.window("ts", window).alias("win"), F.col("tile")).agg(
        F.count("*").alias("n_docs")
    )


def run_stream_to_memory(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    tile_level: int = 6,
    query_name: str = "tile_counts",
):
    """Drain the currently-available micro-batches into a memory sink.

    ``availableNow`` processes what the deterministic source has produced and
    terminates — the bounded-run harness for an unbounded pipeline.  Results
    readable from the ``query_name`` in-memory table.
    """
    counts = stream_tile_counts(stream_docs(spark, rows_per_batch), tile_level)
    q = (
        counts.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


# ---------------------------------------------------------------------------
# Streaming exact dedup (the continuous-ingest face of dedup_exact)
# ---------------------------------------------------------------------------


def stream_dedup_docs(
    spark: SparkSession,
    rows_per_batch: int = 500,
    distinct_docs: int = 120,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming exact dedup by content fingerprint.

    The source replays the deterministic doc generator with index
    ``value % distinct_docs``, so genuinely duplicate documents arrive
    continuously (the streaming analog of a templated corpus).  State is
    bounded by ``dropDuplicatesWithinWatermark``: two copies of a document
    whose event times fall within the watermark delay are deduped, and the
    engine evicts fingerprints older than the watermark — at 100 TB/day
    this is the only dedup whose state does NOT grow with the corpus
    (exact batch dedup covers the historical table; this covers the live
    stream, with the watermark as the dedup horizon).
    """
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        # rate-micro-batch defaults to startTimestamp=0 (epoch), and the
        # dedup operator's late-row filter treats epoch-0 event times as not
        # later than the initial watermark — every row of the first batches
        # is silently dropped.  Any real start timestamp fixes it.
        .option("startTimestamp", 1700000000000)
        .load()
    )
    doc_id, spans = ingest.doc_cols(F.col("value") % F.lit(distinct_docs))
    docs = src.select(
        F.col("timestamp").alias("ts"), doc_id.alias("doc_id"), spans.alias("spans")
    )
    # fingerprint = hash of the full span sequence (kind, text, media_ref,
    # offset) — the span-sequence invariant IS the identity of a doc
    keyed = docs.withColumn("content_key", F.xxhash64(F.to_json(F.col("spans"))))
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["content_key"]
    )


def run_stream_dedup_to_memory(
    spark: SparkSession,
    rows_per_batch: int = 500,
    distinct_docs: int = 120,
    query_name: str = "dedup_docs",
):
    """Bounded drain of the dedup stream into a memory sink (availableNow)."""
    out = stream_dedup_docs(spark, rows_per_batch, distinct_docs)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


# ---------------------------------------------------------------------------
# Custom stateful operator: gap-based sessionization over the doc stream
# ---------------------------------------------------------------------------

SESSION_GAP_SEC = 30

_SESSION_OUT = (
    "user_id long, session_no long, n_events long, start_sec long, end_sec long"
)
_SESSION_STATE = "last_sec long, sess_no long, n_events long, start_sec long"


def _sessionize_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: emits one row per *closed* session.

    State = (last event second, session ordinal, events in open session,
    open-session start). A gap > SESSION_GAP_SEC closes the session.
    """
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_sec, sess_no, n_events, start_sec = state.get
    else:
        last_sec, sess_no, n_events, start_sec = None, 0, 0, None
    out = []
    # Concatenate all Arrow chunks before sorting: a key's rows may span
    # chunks, and per-chunk sorting would miscount across chunk boundaries.
    chunks = [pdf for pdf in pdf_iter]
    if chunks:
        allsec = pd.concat(chunks, ignore_index=True)["sec"].sort_values()
        for sec in allsec.tolist():
            if last_sec is None:
                sess_no, n_events, start_sec = 1, 1, sec
            elif sec - last_sec > SESSION_GAP_SEC:
                out.append((user_id, sess_no, n_events, start_sec, last_sec))
                sess_no, n_events, start_sec = sess_no + 1, 1, sec
            else:
                n_events += 1
            last_sec = sec
    state.update((last_sec, sess_no, n_events, start_sec))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "session_no", "n_events", "start_sec", "end_sec"]
        )


def stream_sessions(spark: SparkSession, rows_per_batch: int = 500) -> DataFrame:
    """Deterministic event stream -> stateful sessionization.

    Events derive (user_id, event-second) from the rate-micro-batch value by
    pure arithmetic; per-user inter-event gaps alternate below/above the
    session gap so sessions close deterministically across micro-batches.
    """
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    user = F.col("value") % 20
    seq = F.expr("value DIV 20")
    # monotonic event time with a 57 s jump every 3rd event (> session gap);
    # the state kernel assumes in-order arrival per key — real deployments
    # bound disorder upstream with a watermark + sort within micro-batch
    sec = seq * 17 + F.expr("(value DIV 20) DIV 3") * 40
    ev = src.select(user.alias("user_id"), sec.cast("long").alias("sec"))
    return ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def batch_sessions_reference(spark: SparkSession, n_rows: int) -> DataFrame:
    """Same sessionization computed in batch with window functions —
    the oracle for the stateful streaming operator (closed sessions only)."""
    from pyspark.sql import Window

    df = spark.range(n_rows).select(
        (F.col("id") % 20).alias("user_id"),
        (F.expr("id DIV 20") * 17 + F.expr("(id DIV 20) DIV 3") * 40).cast("long").alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec")
    lag = F.lag("sec").over(w)
    new_sess = F.when(lag.isNull() | (F.col("sec") - lag > SESSION_GAP_SEC), 1).otherwise(0)
    df = df.withColumn(
        "session_no",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = df.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("sec").alias("start_sec"),
        F.max("sec").alias("end_sec"),
    )
    # closed sessions only (the stream never flushes the open one)
    last = agg.groupBy("user_id").agg(F.max("session_no").alias("last_no"))
    return agg.join(last, "user_id").where(F.col("session_no") < F.col("last_no")).drop(
        "last_no"
    )


# ---------------------------------------------------------------------------
# Stateful as-of attribution: the streaming twin of queries.q_asof_join
# ---------------------------------------------------------------------------

_ATTR_OUT = "user_id long, purchase_sec long, click_sec long, gap_sec long"
_ATTR_STATE = "last_click_sec long"


def _attribution_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: carry each user's most recent click
    across micro-batches; emit one row per purchase, attributed to the last
    click at-or-before it (clicks sort first at equal seconds — the same
    tie rule as the batch as-of join).  Purchases before any click emit
    NULL click/gap columns."""
    import pandas as pd

    (user_id,) = key
    last_click = state.get[0] if state.exists else None
    chunks = [pdf for pdf in pdf_iter]
    out = []
    if chunks:
        allrows = pd.concat(chunks, ignore_index=True).sort_values(
            ["sec", "is_p"], kind="stable"
        )
        for sec, is_p in zip(allrows["sec"].tolist(), allrows["is_p"].tolist()):
            if is_p == 0:
                last_click = sec
            else:
                out.append((user_id, sec, last_click))
    state.update((last_click,))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "purchase_sec": [r[1] for r in out],
                "click_sec": pd.array([r[2] for r in out], dtype="Int64"),
                "gap_sec": pd.array(
                    [None if r[2] is None else r[1] - r[2] for r in out], dtype="Int64"
                ),
            }
        )


def _attr_event_cols(value):
    """Deterministic (user_id, sec, is_p) from a monotone row index: 8 users,
    monotone per-user seconds.  Even users purchase on two CONSECUTIVE ticks
    (the second purchase attributes across the first, gap = 2 ticks); odd
    users' FIRST event is a purchase (exercises the no-prior-click path)."""
    user = value % 8
    seq = F.shiftright(value, 3)  # exact integer div by 8 from the passed column
    sec = seq * 11
    is_p = F.when(
        (user % 2 == 1) & (seq == 0), F.lit(1)
    ).otherwise(F.when((seq % 4 == 2) | (seq % 4 == 3), 1).otherwise(0))
    return (
        user.alias("user_id"),
        sec.cast("long").alias("sec"),
        is_p.cast("int").alias("is_p"),
    )


def stream_attribution(spark: SparkSession, rows_per_batch: int = 400) -> DataFrame:
    """Continuous purchase->last-click attribution (stateful as-of).

    Unlike sessionization, every purchase is emitted in the micro-batch it
    arrives in — the state is just one value per user (the latest click),
    so state size is O(users) regardless of stream length.  In-order
    arrival per key is assumed (rate-micro-batch is monotone); real
    deployments bound disorder with a watermark upstream."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    ev = src.select(*_attr_event_cols(F.col("value")))
    return ev.groupBy("user_id").applyInPandasWithState(
        _attribution_fn,
        outputStructType=_ATTR_OUT,
        stateStructType=_ATTR_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def batch_attribution_reference(spark: SparkSession, n_rows: int) -> DataFrame:
    """The batch as-of composition (same plan as queries.q_asof_join) over
    the identical derived events — the oracle for stream_attribution."""
    from pyspark.sql import Window

    ev = (
        spark.range(n_rows)
        .select(F.col("id").alias("value"))
        .select(*_attr_event_cols(F.col("value")))
    )
    w = Window.partitionBy("user_id").orderBy("sec", "is_p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = ev.withColumn(
        "click_sec", F.last(F.when(F.col("is_p") == 0, F.col("sec")), ignorenulls=True).over(w)
    )
    return (
        out.where(F.col("is_p") == 1)
        .select(
            "user_id",
            F.col("sec").alias("purchase_sec"),
            "click_sec",
            (F.col("sec") - F.col("click_sec")).alias("gap_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming trajectory steps (the continuous face of s2_trajectory_step)
# ---------------------------------------------------------------------------

TRAJ_USERS = 25

_TRAJ_OUT = "user_id long, event_id long, prev_event long, chord2 double"
_TRAJ_STATE = "last_eid long, px double, py double, pz double"


def _trajectory_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-user squared-chord step distance
    from the previous event, carried across micro-batches.

    State = (last event id, last unit-sphere x, y, z).  The xyz columns are
    computed JVM-side BEFORE this kernel (trig stays in codegen); here only
    IEEE -,*,+ run in numpy float64, which are bit-identical to the JVM's,
    so streaming output equals the batch window reference EXACTLY —
    unrounded doubles."""
    import numpy as np
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_eid, px, py, pz = state.get
    else:
        last_eid, px, py, pz = None, 0.0, 0.0, 0.0
    chunks = [pdf for pdf in pdf_iter]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("event_id")
        eid = pdf["event_id"].to_numpy(np.int64)
        x = pdf["x"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        z = pdf["z"].to_numpy(np.float64)
        pxs = np.concatenate(([px], x[:-1]))
        pys = np.concatenate(([py], y[:-1]))
        pzs = np.concatenate(([pz], z[:-1]))
        peid = np.concatenate(([last_eid if last_eid is not None else -1], eid[:-1]))
        dx, dy, dz = x - pxs, y - pys, z - pzs
        chord2 = dx * dx + dy * dy + dz * dz
        keep = np.ones(len(eid), dtype=bool)
        if last_eid is None:
            keep[0] = False  # the user's first event ever has no step
        state.update((int(eid[-1]), float(x[-1]), float(y[-1]), float(z[-1])))
        if keep.any():
            yield pd.DataFrame(
                {
                    "user_id": np.full(int(keep.sum()), user_id, dtype=np.int64),
                    "event_id": eid[keep],
                    "prev_event": peid[keep],
                    "chord2": chord2[keep],
                }
            )
    # no chunks (e.g. a timeout tick): leave state untouched — writing a
    # sentinel last_eid here would fake a "previous point" for a user whose
    # first event hasn't arrived yet


def _traj_xyz_cols(df: DataFrame, id_col: str) -> DataFrame:
    """Derived (user_id, event_id, x, y, z): the shared LCG latlng of the
    id, projected to the unit sphere with the same JVM op order as
    q_trajectory_step."""
    lat_sql, lng_sql = specs.latlng_sql(id_col)
    g = df.select(
        (F.col(id_col) % TRAJ_USERS).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.expr(lat_sql).alias("lat"),
        F.expr(lng_sql).alias("lng"),
    )
    x, y, z = tiling.xyz_cols("lat", "lng")
    return g.select("user_id", "event_id", x.alias("x"), y.alias("y"), z.alias("z"))


def stream_trajectory(spark: SparkSession, rows_per_batch: int = 500) -> DataFrame:
    """Deterministic event stream -> stateful per-user trajectory steps.

    Event ids (the rate value) arrive in increasing order, so per-user
    arrival order is the trajectory order; the kernel sorts within each
    micro-batch and the state carries the last point across batches."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    ev = _traj_xyz_cols(src, "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        _trajectory_fn,
        outputStructType=_TRAJ_OUT,
        stateStructType=_TRAJ_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def batch_trajectory_reference(spark: SparkSession, n_rows: int) -> DataFrame:
    """The same steps computed in batch with a lag window — the oracle for
    the stateful streaming operator (exact doubles, no rounding)."""
    from pyspark.sql import Window

    g = _traj_xyz_cols(spark.range(n_rows), "id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    g = g.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        F.lag("z").over(w).alias("pz"),
        "x",
        "y",
        "z",
    )
    dx = F.col("x") - F.col("px")
    dy = F.col("y") - F.col("py")
    dz = F.col("z") - F.col("pz")
    return g.where(F.col("prev_event").isNotNull()).select(
        "user_id",
        "event_id",
        "prev_event",
        (dx * dx + dy * dy + dz * dz).alias("chord2"),
    )


_TRAJ_FRAME_OUT = (
    "user_id long, event_id long, prev_event long, "
    "px double, py double, pz double, x double, y double, z double"
)


def _traj_frame_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel emitting the full step FRAME
    (prev point + cur point) instead of a derived distance — the stateful
    carrier under downstream JVM-side geometry (crossing detection).  The
    state contract is identical to _trajectory_fn's; no arithmetic runs
    here at all (pure shuffling of already-JVM-computed doubles), so
    streaming output is bit-identical to the batch lag window by
    construction."""
    import numpy as np
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_eid, px, py, pz = state.get
    else:
        last_eid, px, py, pz = None, 0.0, 0.0, 0.0
    chunks = [pdf for pdf in pdf_iter]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("event_id")
        eid = pdf["event_id"].to_numpy(np.int64)
        x = pdf["x"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        z = pdf["z"].to_numpy(np.float64)
        pxs = np.concatenate(([px], x[:-1]))
        pys = np.concatenate(([py], y[:-1]))
        pzs = np.concatenate(([pz], z[:-1]))
        peid = np.concatenate(([last_eid if last_eid is not None else -1], eid[:-1]))
        keep = np.ones(len(eid), dtype=bool)
        if last_eid is None:
            keep[0] = False
        state.update((int(eid[-1]), float(x[-1]), float(y[-1]), float(z[-1])))
        if keep.any():
            yield pd.DataFrame(
                {
                    "user_id": np.full(int(keep.sum()), user_id, dtype=np.int64),
                    "event_id": eid[keep],
                    "prev_event": peid[keep],
                    "px": pxs[keep],
                    "py": pys[keep],
                    "pz": pzs[keep],
                    "x": x[keep],
                    "y": y[keep],
                    "z": z[keep],
                }
            )


def stream_line_crossings(spark: SparkSession, rows_per_batch: int = 500) -> DataFrame:
    """Continuous geofence crossing detection: the stateful step-frame
    pipeline feeding the SAME codegen simple_crossing predicate as the
    batch query (queries.line_crossing_frame) — alerts stream out as
    steps arrive, with the previous point carried across micro-batches."""
    from .queries import line_crossing_frame

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    ev = _traj_xyz_cols(src, "value")
    frame = ev.groupBy("user_id").applyInPandasWithState(
        _traj_frame_fn,
        outputStructType=_TRAJ_FRAME_OUT,
        stateStructType=_TRAJ_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return line_crossing_frame(frame)


def batch_line_crossings_reference(spark: SparkSession, n_rows: int) -> DataFrame:
    """Batch lag-window step frame through the same predicate — the exact
    oracle for the streaming pipeline."""
    from pyspark.sql import Window

    from .queries import line_crossing_frame

    g = _traj_xyz_cols(spark.range(n_rows), "id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    g = g.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        F.lag("z").over(w).alias("pz"),
        "x",
        "y",
        "z",
    ).where(F.col("prev_event").isNotNull())
    return line_crossing_frame(g)


# ---------------------------------------------------------------------------
# Stream-static spatial join: streaming docs vs the static covering table
# ---------------------------------------------------------------------------


def stream_cap_join(
    spark: SparkSession,
    docs: DataFrame,
    regions: DataFrame,
    coverings: DataFrame,
    levels: list[int],
) -> DataFrame:
    """Continuous cap-containment spatial join: the streaming side explodes
    leaf cellids to the coverings' levels (same bit-math Columns as batch),
    then a stream-static broadcast hash join + the JVM chord refine.  The
    static side (regions + normalized coverings) is the broadcast dimension
    — the scale shape as batch cap_join, per micro-batch."""
    from .join import cap_join

    geo_text = F.filter("spans", lambda s: s["kind"] == F.lit("geo"))[0]["text"]
    parts = F.split(geo_text, ":")
    g = docs.select(
        "ts",
        "doc_id",
        parts[0].cast("double").alias("lat"),
        parts[1].cast("double").alias("lng"),
    )
    g = tiling.with_leaf_cellid(g)
    return cap_join(g, regions, coverings, id_col="doc_id", levels=levels).select(
        "region_id", "doc_id"
    )


def run_stream_cap_join_to_memory(
    spark: SparkSession,
    rows_per_batch: int = 500,
    query_name: str = "stream_cap_hits",
):
    """Bounded-run harness: drain available micro-batches of the stream-static
    spatial join into a memory sink."""
    from .queries import _cap_setup

    regions, coverings, levels = _cap_setup(spark)
    hits = stream_cap_join(
        spark, stream_docs(spark, rows_per_batch), regions, coverings, levels
    )
    q = (
        hits.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q
