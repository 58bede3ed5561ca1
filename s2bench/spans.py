"""Layer spans and Spark execution counters, taken from outside the engine.

A ``Tracer`` opens wall-clock spans at layer boundaries.  Every span sets its
own Spark job group, so each job Spark runs is attributed to the innermost
open span; after the run the jobs and stages are read back from the driver's
status REST API (the same store the Spark UI shows) and summed per span
subtree.  ``patched`` wraps engine entry points (checkpoint stages, the span
invariant, connected components) in spans for the duration of a traced pass;
no engine file is changed.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from urllib.parse import urlparse

_GROUP = "s2bench-"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"{_GROUP}{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def subtree(self, root: int) -> set[int]:
        """Ids of ``root`` and every span below it."""
        out = {root}
        for s in self.spans[root + 1:]:  # children are opened after parents
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def find(self, name: str, within: set[int] | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (within is None or s["id"] in within)]

    def total(self, name: str, within: set[int] | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name, within))


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _ts(s: str) -> float:
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_jobs(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) of this application, once the status listener has
    caught up with every job the scheduler has started."""
    ui = urlparse(sc.uiWebUrl)
    base = f"http://127.0.0.1:{ui.port}/api/v1/applications/{sc.applicationId}"
    # job ids are dense from 0: the scheduler's next id says how many jobs the
    # listener still has to report
    started = sc._jsc.sc().dagScheduler().nextJobId()
    started = started if isinstance(started, int) else started.get()
    deadline = time.time() + 30
    while True:
        jobs = _get(f"{base}/jobs")
        done = [j for j in jobs if "completionTime" in j]
        if len(done) >= started or time.time() > deadline:
            break
        time.sleep(0.1)
    stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
    return jobs, stages


def exec_counters(jobs: list[dict], stages: dict[int, dict], groups: set[int]) -> dict[str, float]:
    """Summed job/stage counters over the jobs whose group is a span id in
    ``groups``."""
    mine = [j for j in jobs if j.get("jobGroup", "").startswith(_GROUP)
            and int(j["jobGroup"][len(_GROUP):]) in groups]
    st = [stages[i] for j in mine for i in j["stageIds"] if i in stages]
    mb = 1 / (1 << 20)
    return {
        "s": sum(_ts(j["completionTime"]) - _ts(j["submissionTime"]) for j in mine
                 if "completionTime" in j and "submissionTime" in j),
        "jobs": len(mine),
        "stages": len(st),
        "tasks": sum(s["numCompleteTasks"] for s in st),
        "task_s": sum(s["executorRunTime"] for s in st) / 1000.0,
        "task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) * mb,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) * mb,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st) * mb,
    }


# ---------------------------------------------------------------------------
# Engine entry points wrapped in spans
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Wrap the engine's layer entry points in spans while the block runs."""
    from pyspark.sql.readwriter import DataFrameWriter

    from rust_s2_spark.engine import cluster, ingest
    from rust_s2_spark.engine.checkpoint import CheckpointManager

    orig_mat = CheckpointManager.materialize
    orig_save = DataFrameWriter.save
    orig_inv = ingest.assert_span_invariant
    orig_cc = cluster.connected_components

    def materialize(self, name, df_fn, *a, **kw):
        def build():
            with tracer.span("checkpoint.build"):
                return df_fn()

        with tracer.span(f"stage.{name}"):
            return orig_mat(self, name, build, *a, **kw)

    def save(self, *a, **kw):
        with tracer.span("checkpoint.write"):
            return orig_save(self, *a, **kw)

    def invariant(*a, **kw):
        with tracer.span("stage.invariant"):
            return orig_inv(*a, **kw)

    def components(*a, stats=None, **kw):
        stats = {} if stats is None else stats
        with tracer.span("cluster.cc") as rec:
            out = orig_cc(*a, stats=stats, **kw)
        rec["rounds"] = stats.get("rounds", 0)
        return out

    CheckpointManager.materialize = materialize
    DataFrameWriter.save = save
    ingest.assert_span_invariant = invariant
    cluster.connected_components = components
    try:
        yield
    finally:
        CheckpointManager.materialize = orig_mat
        DataFrameWriter.save = orig_save
        ingest.assert_span_invariant = orig_inv
        cluster.connected_components = orig_cc
