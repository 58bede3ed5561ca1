"""The session memo: values the engine builds once per Spark session.

The production design materializes the tiled events table and each
iterative result (distance pairs, connected-components labels, IVF
centroids) once, as a checkpointed or Iceberg table, and every query reads
it.  In a session the stand-in is this table, keyed on
``(applicationId, sf_dir, tag)``.  ``clear()`` releases everything it holds,
so after a clear every value is rebuilt from the (possibly rewritten)
source instead of being served stale.

Keys use the applicationId, not ``id(spark)``: a stopped-and-recreated
session could reuse the same object address and be handed values bound to
the dead context.
"""

from __future__ import annotations

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple, object] = {}


def memo(spark: SparkSession, sf_dir: str | None, tag, build):
    """The value held under ``(applicationId, sf_dir, tag)``; on a miss it is
    ``build()``.  The tag must fully identify the value for that dataset."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, tag)
    if key in _MEMO:
        return _MEMO[key]
    # forget the values of stopped contexts: Spark can no longer release
    # them, but dropping the references lets their driver-side payloads go
    for k in [k for k in _MEMO if k[0] != app_id]:
        del _MEMO[k]
    _MEMO[key] = value = build()
    return value


def hold(spark: SparkSession, value):
    """Keep ``value`` until the next ``clear()`` without serving it to
    anyone: a persisted intermediate of a result that is not memoized."""
    return memo(spark, None, ("held", id(value)), lambda: value)


def held() -> list:
    """Every value the memo holds, oldest first."""
    return list(_MEMO.values())


def release(value) -> None:
    """Free what ``value`` holds on the cluster, working it out from the
    value: a persisted DataFrame is unpersisted, a locally checkpointed one
    has its checkpoint RDD unpersisted, a Broadcast is unpersisted, a tuple
    is released element by element.  Anything else (a plan object, a path)
    holds nothing to free."""
    if isinstance(value, tuple):
        for v in value:
            release(v)
    elif isinstance(value, DataFrame):
        if value.is_cached:
            value.unpersist()
        plan = value._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":  # a checkpoint's leaf
            plan.rdd().unpersist(False)
    elif isinstance(value, Broadcast):
        value.unpersist()


def clear() -> None:
    """Release and forget everything the memo holds.  Newest first: a
    persisted frame goes before the cached inputs it was built over, so
    unpersisting an input never makes Spark re-plan a dependent's cache."""
    while _MEMO:
        _, value = _MEMO.popitem()
        try:
            release(value)
        except Exception:  # a stopped context can no longer release anything
            pass
