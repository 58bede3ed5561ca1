"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 s2bench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Protocol: set up (Spark session start, seeded input preparation), run one
first pass over the workload's operations in the fresh session, then one
settled pass; more passes follow, for the record only, while less than
``--seconds`` have passed since the first pass began.  Every operation's
output is checked outside the timed window; a mismatching operation counts
as failed.  ``--trace 0`` prints the end-to-end metrics, whose times are CPU
seconds of the benchmark's own processes; ``--trace 1`` prints the
per-layer metrics (README.md).

Every run appends one record to ``s2bench/out/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
PREP_REPEATS = 3


# ---------------------------------------------------------------------------
# Run record
# ---------------------------------------------------------------------------


def host_probe() -> float:
    """Wall time of a fixed single-thread numpy loop: host speed, so a slow
    run can be traced to the machine rather than the code."""
    import numpy as np

    x = np.random.default_rng(0).random(1 << 18)
    t0 = time.perf_counter()
    for _ in range(20):
        np.sort(x)
        np.sqrt(x * x + 1.0).sum()
    return time.perf_counter() - t0


def steal_share(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Share of the machine's CPU time the hypervisor gave to other guests
    between two ``machine_ticks`` readings (a host property, for the record)."""
    return (after[1] - before[1]) / max(1e-9, after[0] - before[0])


def machine_ticks() -> tuple[float, float]:
    """(all, steal) CPU seconds of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) / os.sysconf("SC_CLK_TCK") for x in f.readline().split()[1:]]
    return sum(t), t[7]


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, own CPU s, reaped children's CPU s) for every process."""
    tck = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
            out[int(d)] = (int(st[1]), (int(st[11]) + int(st[12])) / tck, (int(st[13]) + int(st[14])) / tck)
    return out


def descendants(root: int, table: dict) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) of this process and every process below
    it: the driver JVM, the Python worker daemon and its workers.  Children
    that exited count through their parent's reaped-children time, so the
    difference of two readings is the CPU the benchmark's processes used in
    between.  Time the hypervisor stole is not in it."""
    table = _proc_table()
    return sum(table[p][1] + table[p][2] for p in descendants(os.getpid(), table) if p in table)


def git_sha() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def append_record(rec: dict) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(rec, default=str) + "\n")


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0) / 1024
    except OSError:
        return 0.0


def memory_mb(sc) -> dict[str, float]:
    """Memory the program holds, in MiB: the driver JVM's live heap (heap in
    use after a full collection, so the figure does not follow when the
    collector last ran or how large it let the young generation grow), plus
    its non-heap use (code cache, metaspace), plus the peak resident size of
    every process below the JVM (the Python workers).  The JVM's peak heap
    use and peak resident size go into the record only: both follow the
    collector's heap sizing, which G1 adapts from run to run."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP")
    mem = mf.getMemoryMXBean()
    # Python garbage can hold JVM objects through py4j; then collect until
    # the heap stops shrinking: each collection lets Spark's context cleaner
    # drop the broadcasts, shuffles and checkpointed blocks whose weak
    # references it cleared, which the next one frees
    gc.collect()
    used = []
    while len(used) < 2 or (used[-2] - used[-1] > 1 << 20 and len(used) < 10):
        sc._jvm.System.gc()
        used.append(mem.getHeapMemoryUsage().getUsed())
        time.sleep(0.5)
    heap, nonheap = used[-1], mem.getNonHeapMemoryUsage().getUsed()
    jvm = sc._gateway.proc.pid
    below = descendants(jvm, _proc_table())[1:]
    workers = sum(_vm_hwm_mb(p) for p in below)
    mib = 1 / (1 << 20)
    return {"total": (heap + nonheap) * mib + workers, "live_heap": heap * mib, "nonheap": nonheap * mib,
            "workers_hwm": workers, "n_workers": len(below), "heap_peak": peak * mib, "jvm_hwm": _vm_hwm_mb(jvm),
            "live_heap_per_gc": [u * mib for u in used]}


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args):
        from .spans import Tracer
        from .workloads import WORKLOADS

        self.args = args
        self.seed = args.seed
        self.work = os.path.join(OUT, f"work-{os.getpid()}")
        self.data = os.path.join(self.work, "in-0")
        self.engine_tmp = os.path.join(self.work, "engine-tmp")
        # one CPU is left to the driver's Python process and the JVM's
        # compiler and collector threads: with every CPU running tasks the
        # hypervisor took 2-15% of CPU time (steal) and passes ran ~10% slower
        self.cores = max(1, min(4, (os.cpu_count() or 1) - 1))
        self.spark = None
        self.tracer = Tracer()
        self.wl = WORKLOADS[args.workload](self)
        self.phases = False  # plan-phase split (traced passes only)
        self.passes: list[dict] = []
        self.gated = 0  # passes[:gated] give the printed metrics
        self.memory: dict[str, float] = {}
        self.problems: list[str] = []
        self.attempted = self.failed = 0

    # -- set-up ---------------------------------------------------------------

    def _env(self) -> dict[str, str]:
        """Point every temp, local and warehouse dir into the work dir; returns
        the benchmark's extra Spark conf."""
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, self.engine_tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
        os.environ.update({
            "TMPDIR": tmp,
            # every JVM the launch starts (the launcher too): no hsperfdata
            # files under /tmp, temp files inside the work dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_TMP": self.engine_tmp,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(self.work, "warehouse"),
        })
        return {
            "spark.ui.showConsoleProgress": "false",
            # the per-op job and stage counters are read back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    def setup(self) -> dict:
        from rust_s2_spark.engine.session import get_spark

        from .stats import median

        conf = self._env()
        c0 = cpu_s()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"s2bench-{self.args.workload}", master=f"local[{self.cores}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        start_s, start_cpu = time.perf_counter() - t0, cpu_s() - c0
        prep, prep_cpu = [], []
        for k in range(PREP_REPEATS):
            t0, c0 = time.perf_counter(), cpu_s()
            self.wl.prepare(os.path.join(self.work, f"in-{k}"))
            prep.append(time.perf_counter() - t0)
            prep_cpu.append(cpu_s() - c0)
        return {"session_start_s": start_s, "session_start_cpu_s": start_cpu, "prep_s": prep,
                "prep_cpu_s": prep_cpu, "setup_s": start_cpu + median(prep_cpu)}

    # -- operations -----------------------------------------------------------

    def run_query(self, name: str):
        from rust_s2_spark.engine.queries import QUERIES

        tr = self.tracer
        with tr.span("plan.build"):
            df = QUERIES[name](self.spark, self.data)
        if self.phases:
            qe = df._jdf.queryExecution()
            with tr.span("plan.analyze"):
                qe.analyzed()
            with tr.span("plan.optimize") as rec:
                plan = qe.optimizedPlan()
            with tr.span("plan.physical"):
                qe.executedPlan()
            rec["chars"] = len(plan.toString())
        with tr.span("exec"):
            return df.toPandas()

    def run_pass(self, traced: bool) -> None:
        from contextlib import nullcontext

        from .spans import patched

        index = len(self.passes)
        self.wl.begin_pass()
        self.phases = traced
        if traced:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        results, times, cpu = {}, {}, {}
        ticks0 = machine_ticks()
        with self.tracer.span("pass", index=index, traced=traced) as prec, (
                patched(self.tracer) if traced else nullcontext()):
            for op in self.wl.ops:
                c0 = cpu_s()
                with self.tracer.span("op", op=op) as orec:
                    try:
                        results[op] = self.wl.run_op(op)
                    except Exception as e:  # a failing operation is counted, not fatal
                        traceback.print_exc()
                        results[op] = e
                times[op] = orec["end"] - orec["start"]
                cpu[op] = cpu_s() - c0
        if traced:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            prec["udf_python_s"] = udf_profile_seconds(self.spark)
        self.passes.append({"index": index, "traced": traced, "span": prec["id"], "wall": sum(times.values()),
                            "ops": times, "cpu": cpu, "steal_share": steal_share(ticks0, machine_ticks()),
                            "stored": self.wl.stored()})
        self._check(results)

    def _check(self, results: dict) -> None:
        ok = {k: v for k, v in results.items() if not isinstance(v, Exception)}
        try:
            problems = self.wl.check(ok) if ok else {}
        except Exception as e:  # outputs too broken to check count as wrong
            problems = {op: [f"check raised {type(e).__name__}: {e}"] for op in ok}
        for op, res in results.items():
            self.attempted += 1
            msgs = [f"{type(res).__name__}: {res}"] if isinstance(res, Exception) else problems.get(op, [])
            if msgs:
                self.failed += 1
                self.problems += [f"pass {len(self.passes) - 1} {op}: {m}" for m in msgs]

    def measure(self) -> None:
        """The first pass, then one settled pass, whose figures are the
        printed ones: the same pass in every run, however fast the host is.
        A traced run's settled passes are untraced, traced, untraced: the
        tracing overhead is measured against passes that bracket the traced
        one, which cancels the JIT's pass-to-pass settling.  Memory is read
        right after them.  Passes that follow,
        while less than ``--seconds`` have passed since the first pass
        began, are checked and go into the record only."""
        traced = bool(self.args.trace)
        t0 = time.perf_counter()
        self.run_pass(traced)
        for t in [False, True, False] if traced else [False]:
            self.run_pass(t)
        self.gated = len(self.passes)
        self.memory = memory_mb(self.spark.sparkContext)
        while time.perf_counter() - t0 < self.args.seconds:
            self.run_pass(False)


def udf_profile_seconds(spark) -> float:
    """Python UDF seconds recorded by Spark's UDF profiler since the last
    call (cProfile total time, summed over UDFs), then cleared."""
    coll = spark.profile.profiler_collector
    total = sum(st.total_tt for st in coll._perf_profile_results.values())
    spark.profile.clear(type="perf")
    return total


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    from .workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:  # the engine must be importable from this checkout, not elsewhere
        import jobs.spatial_join_job
        import rust_s2_spark.engine.queries

        for mod in (jobs.spatial_join_job, rust_s2_spark.engine.queries):
            if not os.path.abspath(mod.__file__).startswith(REPO + os.sep):
                raise ImportError(f"{mod.__name__} imported from {mod.__file__}")
    except ImportError as e:
        print(f"s2bench: engine not importable from {REPO}: {e}", file=sys.stderr)
        return 2

    from . import metrics

    t_start = time.perf_counter()
    probe_before = host_probe()
    ticks_before = machine_ticks()
    run = Run(args)
    try:
        setup = run.setup()
        run.measure()
        sc = run.spark.sparkContext
        out = metrics.per_layer(run, setup) if args.trace else metrics.end_to_end(run, setup)
        java = sc._jvm.System.getProperty("java.version")
        spark_version = run.spark.version
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    ticks_after = machine_ticks()
    probe_after = host_probe()
    units = metrics.PER_LAYER_UNITS if args.trace else metrics.END_TO_END_UNITS
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(out[k]), "unit": units[k]} for k in units},
    }
    append_record({
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "git_sha": git_sha(), "nproc": os.cpu_count(), "cores_used": run.cores,
        "mem_total_mb": round(mem_total_mb()), "spark": spark_version, "java": java,
        "python": platform.python_version(), "wall_s": time.perf_counter() - t_start,
        "host_probe_s": [probe_before, probe_after],
        "host_steal_share": steal_share(ticks_before, ticks_after),
        "setup": setup, "passes": run.passes, "gated_passes": run.gated, "problems": run.problems[:50], "result": result,
        "spans": run.tracer.spans if args.trace else None,
        "memory_mb": run.memory,
    })
    for p in run.problems[:20]:
        print(f"s2bench: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # run as a script: import this file as part of its package, with the
    # checkout root (not this directory) on the path
    sys.path[0] = REPO
    from s2bench.run import main as _main

    sys.exit(_main())
