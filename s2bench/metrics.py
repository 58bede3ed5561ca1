"""End-to-end and per-layer metrics of one run (README.md lists what each
layer metric should move)."""

from __future__ import annotations

import time

import numpy as np

from . import spans
from .stats import geomean, median, self_times

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_geomean_s": "s",
    "stored_bytes_per_doc": "B/doc",
    "live_mem_mb": "MiB",
}
OP_METRICS = {"s2_spatial_cluster", "s2_self_intersect"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "stage.ingest_s": "s",
    "stage.geo_s": "s",
    "stage.joined_s": "s",
    "stage.rollup_s": "s",
    "stage.invariant_s": "s",
    "stage.resume_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.recount_s": "s",
    "checkpoint.bytes": "B",
    "checkpoint.files": "count",
    "tiling.encode_rows_per_s": "rows/s",
    "join.candidates": "count",
    "join.matches": "count",
    "join.keep_ratio": "ratio",
    "plan.build_s": "s",
    "plan.analyze_s": "s",
    "plan.optimize_s": "s",
    "plan.physical_s": "s",
    "plan.chars": "chars",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_cpu_share": "ratio",
    "exec.shuffle_read_mb": "MiB",
    "exec.shuffle_write_mb": "MiB",
    "exec.spill_mb": "MiB",
    "udf.python_s": "s",
    "udf.replay_s": "s",
    "kernel.encode_mrows_s": "Mrows/s",
    "kernel.pip_mrows_s": "Mrows/s",
    "kernel.cap_covering_s": "s",
    "cluster.jobs": "count",
    "cluster.build_s": "s",
    "cluster.rounds": "count",
    **{f"op.{q}.{m}": u for q in sorted(OP_METRICS)
       for m, u in (("build_s", "s"), ("optimize_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "trace.overhead_s": "s",
}


def _settled(run, traced: bool | None = None) -> list[dict]:
    """The settled passes whose figures are printed: those after the first
    pass, up to ``run.gated``."""
    return [p for p in run.passes[1:run.gated] if traced is None or p["traced"] == traced]


def end_to_end(run, setup: dict) -> dict[str, float]:
    settled = _settled(run)
    return {
        "setup_s": setup["setup_s"],
        "first_pass_cpu_s": sum(run.passes[0]["cpu"].values()),
        "pass_cpu_s": median(sum(p["cpu"].values()) for p in settled),
        "op_cpu_geomean_s": geomean(median(p["cpu"][op] for p in settled) for op in run.wl.ops),
        "stored_bytes_per_doc": median(p["stored"][0] for p in settled) / run.wl.n_rows,
        "live_mem_mb": run.memory["total"],
    }


def _pass_layers(run, p: dict, jobs, stages) -> dict[str, float]:
    tr = run.tracer
    sub = tr.subtree(p["span"])
    own = self_times([s for s in tr.spans if s["id"] in sub])
    m = {f"stage.{s}_s": tr.total(f"stage.{s}", sub) for s in ("ingest", "geo", "joined", "rollup", "invariant")}
    m["stage.resume_s"] = p["ops"].get("resume", 0.0)
    if "resume" in p["ops"]:
        m["checkpoint.bytes"], m["checkpoint.files"] = p["stored"]
    m["checkpoint.write_s"] = tr.total("checkpoint.write", sub)
    m["checkpoint.recount_s"] = sum(own[s["id"]] for s in tr.spans
                                    if s["id"] in sub and s["name"].startswith("stage.") and s["name"] != "stage.invariant")
    for ph in ("build", "analyze", "optimize", "physical"):
        m[f"plan.{ph}_s"] = tr.total(f"plan.{ph}", sub)
    m["plan.chars"] = sum(s.get("chars", 0) for s in tr.find("plan.optimize", sub))
    for k, v in spans.exec_counters(jobs, stages, sub).items():
        m[f"exec.{k}"] = v
    m["exec.task_cpu_share"] = m["exec.task_cpu_s"] / sum(p["cpu"].values())
    m["udf.python_s"] = tr.spans[p["span"]]["udf_python_s"]
    cc = tr.find("cluster.cc", sub)
    m["cluster.build_s"] = sum(s["end"] - s["start"] for s in cc)
    m["cluster.rounds"] = sum(s["rounds"] for s in cc)
    m["cluster.jobs"] = sum(spans.exec_counters(jobs, stages, tr.subtree(s["id"]))["jobs"] for s in cc)
    for op_span in tr.find("op", sub):
        q = op_span["op"]
        if q not in OP_METRICS:
            continue
        osub = tr.subtree(op_span["id"])
        m[f"op.{q}.build_s"] = tr.total("plan.build", osub)
        m[f"op.{q}.optimize_s"] = tr.total("plan.optimize", osub)
        m[f"op.{q}.exec_s"] = tr.total("exec", osub)
        m[f"op.{q}.jobs"] = spans.exec_counters(jobs, stages, osub)["jobs"]
    return m


def _timed(fn, min_s: float = 0.2) -> float:
    """Median seconds per call of ``fn`` over at least 3 calls and ``min_s``."""
    ts, t_end = [], time.perf_counter() + min_s
    while len(ts) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def _probes(run) -> dict[str, float]:
    """Layer probes on the workload's own points, once per traced run."""
    from rust_s2_spark.engine import join, polyjoin, specs, tiling
    from rust_s2_spark.engine.queries import _cap_setup, _loop_setup
    from rust_s2_spark.kernel import hilbert
    from rust_s2_spark.kernel.covering import RegionCoverer
    from rust_s2_spark.kernel.pip import Loop
    from rust_s2_spark.kernel.region import Cap

    lat, lng, df = run.wl.points()
    n = len(lat)
    m = {}
    enc = tiling.with_leaf_cellid(df)
    m["tiling.encode_rows_per_s"] = n / _timed(
        lambda: enc.select("cell_id").write.format("noop").mode("overwrite").save(), 0)
    regions, coverings, levels = _cap_setup(run.spark)
    idc = run.wl.id_col
    m["join.candidates"] = join.covering_join(enc, coverings, levels=levels, id_col=idc).count()
    m["join.matches"] = join.cap_join(enc, regions, coverings, levels=levels, id_col=idc).count()
    m["join.keep_ratio"] = m["join.matches"] / max(m["join.candidates"], 1)

    la, ln = np.radians(lat), np.radians(lng)
    px, py, pz = np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)
    m["kernel.encode_mrows_s"] = n / 1e6 / _timed(lambda: hilbert.cellid_from_latlng(lat, lng))
    verts, _ = _loop_setup()
    rid, v = next(iter(verts.items()))
    loop = Loop(v)
    m["kernel.pip_mrows_s"] = n / 1e6 / _timed(lambda: loop.contains_points(px, py, pz))
    caps = [Cap(np.array([cx, cy, cz]), r2) for _, cx, cy, cz, r2 in specs.cap_rows()]
    m["kernel.cap_covering_s"] = _timed(lambda: [RegionCoverer(max_cells=12).covering(c) for c in caps])

    # one Arrow batch through the workload's refine UDF, locally (numpy time
    # without the Arrow transfer)
    import pandas as pd

    b = min(n, int(run.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")))
    blat, blng = pd.Series(lat[:b]), pd.Series(lng[:b])
    if run.wl.refine == "pip":
        udf = polyjoin._pip_refine_udf(run.spark, verts)
        rids = pd.Series([rid] * b)
        m["udf.replay_s"] = _timed(lambda: udf.func(rids, blat, blng))
    else:
        _, cx, cy, cz, r2 = specs.cap_rows()[0]
        consts = [pd.Series(np.full(b, c)) for c in (cx, cy, cz, r2)]
        udf = join._cap_refine_udf()
        m["udf.replay_s"] = _timed(lambda: udf.func(blat, blng, *consts))
    return m


def per_layer(run, setup: dict) -> dict[str, float]:
    jobs, stages = spans.spark_jobs(run.spark.sparkContext)
    traced = _settled(run, True)
    layers = [_pass_layers(run, p, jobs, stages) for p in traced]
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    for k in set().union(*layers):
        out[k] = median(lm.get(k, 0.0) for lm in layers)
    out["session.start_s"] = setup["session_start_s"]
    out.update(_probes(run))
    out["trace.overhead_s"] = median(p["wall"] for p in traced) - median(p["wall"] for p in _settled(run, False))
    return out
