"""The workloads.  Each one has a fixed list of operations run in order
as one pass; ``begin_pass`` resets session state so every pass pays the same
work, and ``check`` maps each operation of a pass to its output problems.

- ``ckpt_pipeline``: the checkpointed spatial-join job, crashed after
  ``geo`` and resumed, into a fresh checkpoint root each pass.  At 300,000
  docs its executor tasks (Column kernels, shuffle, parquet checkpoint
  writes) hold over half its CPU time; at 10,000 they held 11%, and driver
  planning dominated as it does in ``query_mix``.
- ``query_mix``: cap and polygon joins, trajectory queries and spatial
  clustering from ``engine.queries``.  Driver-bound: Python plan build, the
  Catalyst optimizer and the dozens of small Spark jobs of the
  connected-components fixpoint's eager ``localCheckpoint`` rounds.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

import numpy as np

from . import checks, inputs


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


class QueryMix:
    """Queries from ``engine.queries.QUERIES`` over a seeded events table."""

    n_rows = 2000  # events
    ops = ["s2_cap_join", "s2_pip_join", "s2_self_intersect", "s2_spatial_cluster"]
    id_col = "event_id"
    refine = "pip"  # the Arrow refine UDF the layer probe replays

    def __init__(self, ctx):
        self.ctx = ctx
        self.oracles = None

    def prepare(self, out_dir: str) -> int:
        return inputs.write_events(out_dir, self.ctx.seed, self.n_rows)

    def begin_pass(self) -> None:
        from rust_s2_spark.engine.queries import clear_geo_cache

        clear_geo_cache()

    def run_op(self, name: str):
        return self.ctx.run_query(name)

    def references(self) -> None:
        """Oracle results, computed once per run: they depend only on the
        inputs."""
        self.oracles = checks.oracle_frames(self.ctx.data, [op for op in self.ops if op != "s2_spatial_cluster"])
        self.components = checks.components_reference(self.ctx.data)
        margin = checks.self_intersect_margin(self.ctx.data)
        self.margin_fault = [] if margin is None else [
            f"candidate sign product {margin:.3e} inside the SELF_INTERSECT_EPS determinacy band"]

    def check_op(self, name: str, got) -> list[str]:
        if name == "s2_spatial_cluster":
            return checks.check_components(got, self.components)
        out = checks.tool("check_oracles").compare(name, got, self.oracles[name])
        return out + self.margin_fault if name == "s2_self_intersect" else out

    def check(self, results: dict) -> dict[str, list[str]]:
        if self.oracles is None:
            self.references()
        return {name: self.check_op(name, got) for name, got in results.items()}

    def stored(self) -> tuple[int, int]:
        """(bytes, files) the engine keeps on disk: the Hilbert-clustered copy
        of the events that ``s2_pip_join`` writes once per session."""
        return dir_bytes(self.ctx.engine_tmp)

    def points(self):
        """(lat, lng) numpy arrays and a Spark DataFrame of this workload's
        points, for the kernel and layer probes."""
        from pyspark.sql import functions as F

        from rust_s2_spark.engine import specs

        ids = np.arange(self.n_rows, dtype=np.int64) + inputs.id_base(self.ctx.seed)
        lat, lng = specs.latlng_np(ids)
        lat_sql, lng_sql = specs.latlng_sql("event_id")
        df = self.ctx.spark.read.parquet(os.path.join(self.ctx.data, "events.parquet")).select(
            "event_id", F.expr(lat_sql).alias("lat"), F.expr(lng_sql).alias("lng"))
        return lat, lng, df


class CkptPipeline:
    """``jobs/spatial_join_job.main``: run with ``--fail-after geo`` into a
    fresh root, then rerun the same command, which resumes from the ``geo``
    checkpoint.  Inputs are a pure function of ``n_rows``; the seed is not
    used."""

    n_rows = 300_000  # docs
    ops = ["crash", "resume"]
    id_col = "doc_id"
    refine = "cap"

    def __init__(self, ctx):
        self.ctx = ctx
        self.pass_no = 0
        self.root = None
        self.report = None

    def prepare(self, out_dir: str) -> int:
        return 0

    def _job(self, *extra: str):
        from jobs import spatial_join_job

        argv = ["--n-docs", str(self.n_rows), "--checkpoint-root", self.root, *extra]
        with contextlib.redirect_stdout(io.StringIO()):
            return spatial_join_job.main(argv)

    def begin_pass(self) -> None:
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.pass_no += 1
        self.root = os.path.join(self.ctx.work, f"ckpt-{self.pass_no}")

    def run_op(self, name: str):
        if name == "crash":
            try:
                self._job("--fail-after", "geo")
            except SystemExit as e:
                if "simulated failure after geo" not in str(e):
                    raise
                return None
            raise RuntimeError("--fail-after geo did not stop the job")
        self.report = self._job()
        return self.report

    def check(self, results: dict) -> dict[str, list[str]]:
        return checks.ckpt_problems(self.root, self.report, self.n_rows)

    def stored(self) -> tuple[int, int]:
        """(bytes, files) of this pass's checkpoint root."""
        return dir_bytes(self.root)

    def points(self):
        import pyarrow.dataset as ds

        geo = os.path.join(self.root, "geo")
        t = ds.dataset(geo, format="parquet").to_table(columns=["lat", "lng"])
        df = self.ctx.spark.read.parquet(geo).select("doc_id", "lat", "lng")
        return t.column("lat").to_numpy(), t.column("lng").to_numpy(), df


WORKLOADS = {"ckpt_pipeline": CkptPipeline, "query_mix": QueryMix}
