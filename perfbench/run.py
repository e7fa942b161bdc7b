#!/usr/bin/env python3
"""hashquery_spark benchmark: one workload, one seed, one process.

Run from the repository root:

    python3 perfbench/run.py --workload bi_semantic --seed 1 --seconds 10 --trace 0

Steps of a run:

1. Generate the workload's inputs from the seed (``datagen.py``), at the
   workload's scale and at the warm-up scale (sf0.001).
2. Compute the expected rows of every operation once with the DuckDB
   oracle (``__spark_entry__.oracle_sql()``) or the Python twin
   (``hashquery_spark.py_twins``). Steps 1-2 are off the clock.
3. Set up (timed as ``setup_s``): start the SparkSession on
   ``local[nproc]``, ``Connection.register_dir`` both input directories,
   and run two warm-up passes of the workload at sf0.001.
4. Run passes, one client, back to back, until ``--seconds`` have passed
   and at least ``MIN_PASSES`` passes have run.
   After each pass (off the clock) every result is compared with its
   expected rows through ``hashquery_spark.parity``; written results are
   read back first.
5. With ``--trace 1``, passes alternate untraced and traced; traced
   passes attribute each operation's time to layers (``tracing.py``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A full record
(host facts, samples, per-query layers, spans) is written to
``.perfbench_work/artifacts/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from tracing import LAYERS, Tracer  # noqa: E402
from workloads import WARMUP_SCALE, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "query_p90_s": "s",
    "peak_mem_mb": "MB",
}
PER_LAYER = {
    "connection.register_s": "s",
    "setup.warmup_s": "s",
    "model.build_s": "s",
    "sources.compile_s": "s",
    "ops.call_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_s": "s",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.reuse_ratio": "ratio",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "B",
    "exec.scan_rows": "rows",
    "exec.scan_bytes": "B",
    "exec.output_rows": "rows",
    "trace.overhead_s": "s",
}
# per-operation readings summed into a pass; the ones not in PER_LAYER
# (each reads 0 on a healthy run of at least one workload) stay in the
# artifact
_OP_SUMS = (
    "model.build_s", "model.build_jobs", "sources.compile_s", "sources.compile_jobs", "ops.call_s",
    "ops.call_jobs", "catalyst.plan_s", "exec.collect_s", "exec.write_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.stages_skipped", "exec.tasks",
    "exec.failed_tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.spill_memory_bytes",
    "exec.scan_rows", "exec.scan_bytes", "exec.output_rows",
)
MIN_COVERAGE = 0.9
# the first pass after the warm-up is still the slowest (JIT); with three
# or more passes the median leaves it out
MIN_PASSES = 3
# the JIT is still warming after one cold pass at the warm-up scale; a
# second, warm one halved the run-to-run spread of pass_s on bi_semantic
WARMUP_PASSES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke", action="store_true",
        help="one pass (two with --trace 1) with the measured inputs at sf0.001",
    )
    return p.parse_args(argv)


# --- environment ------------------------------------------------------------


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_ticks():
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _cpu_probe_s() -> float:
    """Best of three timings of a fixed single-core Python loop: a marker
    of the host's speed at the time of the run (the host's load varies)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best


def _configure_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and DuckDB write inside the run dir;
    size the local session to this host."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    gc_log = os.path.join(run_dir, "gc.log")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} "
        f"-Xlog:gc:file={gc_log}:uptimemillis' pyspark-shell"
    )


def _source_digest() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "hashquery_spark", "**", "*.py"), recursive=True))
    files += [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "oracle_queries.py")]
    for path in files:
        if os.path.exists(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _git_head():
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)) / 2**20


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


_GC_PAUSE = re.compile(r"^\[(\d+)ms\].* Pause .*?\d+[KMG]->(\d+)([KMG])\(")


def _gc_pauses(gc_log: str) -> list:
    """(JVM uptime ms, heap MB in use right after the pause) of every
    collection pause in a ``-Xlog:gc:file=...:uptimemillis`` file, whose
    lines read "[6312ms] GC(25) Pause Young (Normal) ... 157M->61M(190M) ..."."""
    mb = {"K": 1 / 1024, "M": 1, "G": 1024}
    out = []
    with open(gc_log) as f:
        for line in f:
            m = _GC_PAUSE.search(line)
            if m:
                out.append((int(m.group(1)), int(m.group(2)) * mb[m.group(3)]))
    return out


def _heap_peak_mb(pauses: list, start_ms: int, end_ms: int) -> float:
    """Largest heap occupancy after a pause in [start_ms, end_ms]; with no
    pause in the window, the occupancy the window started from."""
    inside = [mb for ms, mb in pauses if start_ms <= ms <= end_ms]
    before = [mb for ms, mb in pauses if ms < start_ms]
    return max(inside or before[-1:] or [0.0])


def _descendants(pid: int) -> list:
    children = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown() -> None:
    """Stop Spark, then the gateway JVM and its Python workers, and wait
    for every one of them to end."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    workers = _descendants(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in workers) and time.time() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            os.kill(p, 9)


# --- expected results ---------------------------------------------------------


class Expectations:
    """Expected rows per operation, computed once per (workload, seed)."""

    def __init__(self, data_dir: str, ops, oracles, tmp: str):
        import duckdb
        from hashquery_spark.parity import TABLES
        from hashquery_spark.py_twins import PY_TWINS

        con = duckdb.connect()
        con.execute(f"SET threads TO {_nproc()}")
        con.execute(f"SET temp_directory='{os.path.join(tmp, 'duckdb')}'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.frames, self.opts = {}, {}
        for name in ops:
            if name in oracles:
                self.frames[name] = con.execute(oracles[name]).df()
                self.opts[name] = {}
            else:
                fn, opts = PY_TWINS[name]
                self.frames[name] = fn(con)
                self.opts[name] = opts
        con.close()

    def check(self, name: str, pdf) -> dict:
        from hashquery_spark.parity import compare_frames, compare_frames_tolerant

        exp, opts = self.frames[name], self.opts[name]
        drop = list(opts.get("drop_cols", ()))
        got = pdf.drop(columns=[c for c in drop if c in pdf.columns])
        exp = exp.drop(columns=[c for c in drop if c in exp.columns])
        atol = opts.get("float_atol")
        res = compare_frames(got, exp) if atol is None else compare_frames_tolerant(got, exp, atol)
        res["nonempty"] = len(got) > 0 and len(exp) > 0
        res["ok"] = bool(res["ok"] and res["nonempty"])
        return res


# --- the run ------------------------------------------------------------------


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.samples = []       # one per timed operation
        self.passes = []        # one per pass
        self.warmup_errors = []
        self.facts = {}

    # inputs and expectations (off the clock)
    def prepare(self) -> None:
        wl, args = self.wl, self.args
        scale = WARMUP_SCALE if args.smoke else wl.scale
        self.main_dir = os.path.join(self.run_dir, "data", "main")
        self.warm_dir = os.path.join(self.run_dir, "data", "warm")
        rows = datagen.generate(self.main_dir, seed=args.seed, scale=scale, tables=wl.tables)
        datagen.generate(self.warm_dir, seed=args.seed, scale=WARMUP_SCALE, tables=wl.tables)
        self.facts["inputs"] = {
            "scale": scale,
            "warmup_scale": WARMUP_SCALE,
            "replica_factor": 1,
            "rows": rows,
            "input_mb": round(_dir_mb(self.main_dir), 3),
        }
        if args.trace:
            # wrap before __spark_entry__ is imported (its module-level
            # `from hashquery_spark.ops import ...` then binds the wrappers)
            self.tracer = Tracer()
            self.tracer.install()
        import __spark_entry__ as entry

        if self.tracer:
            self.tracer.rebind(entry)
        self.entry = entry
        self.queries = entry.queries()
        self.expect = Expectations(
            self.main_dir, wl.ops, entry.oracle_sql(), os.path.join(self.run_dir, "tmp")
        )

    def setup(self) -> None:
        from hashquery_spark import Connection
        from hashquery_spark.connection import default_session

        t0 = time.perf_counter()
        self.spark = default_session("perfbench")
        t1 = time.perf_counter()
        self.entry._conn(self.spark, self.warm_dir)
        self.entry._conn(self.spark, self.main_dir)
        self.sink_conn = Connection(self.spark)
        t2 = time.perf_counter()
        for name in [n for _ in range(WARMUP_PASSES) for n in self._order()]:
            try:
                self._run(name, self.warm_dir, "warm")
            except Exception as exc:  # reported; the timed samples decide
                self.warmup_errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        mgmt = self.spark.sparkContext._jvm.java.lang.management
        self._runtime = mgmt.ManagementFactory.getRuntimeMXBean()
        if self.tracer:
            self.tracer.bind(self.spark)
        self.setup_times = {
            "session_s": t1 - t0,
            "connection.register_s": t2 - t1,
            "setup.warmup_s": t3 - t2,
            "setup_s": t3 - t0,
        }

    def _order(self):
        ops = list(self.wl.ops)
        self.rng.shuffle(ops)
        return ops

    def _run(self, name: str, data_dir: str, tag: str):
        """Build and consume one operation; returns the result handle."""
        from hashquery_spark import Model, RunResults

        df = self.queries[name](self.spark, data_dir)
        if self.wl.sink == "collect":
            return RunResults(df).df
        path = os.path.join(self.run_dir, "out", tag, name)
        table = f"perfbench_{name}"
        self.sink_conn.register_table(table, df)
        Model(self.sink_conn, table).write(path)
        return path

    def _run_traced(self, name: str, op_id: str):
        from hashquery_spark import Model, RunResults

        tr, sc = self.tracer, self.spark.sparkContext
        tr.op = op_id
        sc.setJobGroup(op_id, name)
        try:
            with tr.span("op") as root:
                with tr.span("query"):
                    df = self.queries[name](self.spark, self.main_dir)
                    if self.wl.sink == "write":
                        table = f"perfbench_{name}"
                        self.sink_conn.register_table(table, df)
                        model = Model(self.sink_conn, table)
                if self.wl.sink == "collect":
                    tr.force_plan(df)
                    with tr.span("exec.collect"):
                        result = RunResults(df).df
                else:
                    result = os.path.join(self.run_dir, "out", "main", name)
                    model.write(result)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return result, root["end"] - root["start"]

    def run_pass(self, traced: bool) -> None:
        idx = len(self.passes)
        up_start = self._runtime.getUptime()
        results, t_pass = [], time.perf_counter()
        for name in self._order():
            sample = {"op": name, "pass": idx, "traced": traced}
            op_id = f"p{idx}-{name}"
            try:
                if traced:
                    self.tracer.active = True
                    result, sample["latency_s"] = self._run_traced(name, op_id)
                else:
                    t0 = time.perf_counter()
                    result = self._run(name, self.main_dir, "main")
                    sample["latency_s"] = time.perf_counter() - t0
                sample["result"] = result
            except Exception as exc:  # a failed sample; the pass goes on
                sample["error"] = f"{type(exc).__name__}: {exc}"[:500]
                sample["traceback"] = traceback.format_exc()[-3000:]
            finally:
                if self.tracer:
                    self.tracer.active = False
            if traced and "error" not in sample:
                sample["layers"] = self._layers(op_id, sample)
            results.append(sample)
        wall = time.perf_counter() - t_pass
        up_end = self._runtime.getUptime()
        for sample in results:  # off the clock
            self._check(sample)
        self.samples.extend(results)
        self.passes.append({"index": idx, "traced": traced, "wall_s": wall,
                            "jvm_uptime_ms": [up_start, up_end]})

    def _layers(self, op_id: str, sample: dict) -> dict:
        tr = self.tracer
        layers = tr.layer_times(op_id)
        stats = tr.exec_stats(op_id)
        layers.update({f"exec.{k}": v for k, v in stats.items()})
        for phase, ms in tr.phases.items():
            layers[f"catalyst.{phase}_ms"] = ms
        tr.phases = {}
        covered = sum(layers[m] for m in LAYERS.values())
        layers["coverage"] = covered / sample["latency_s"] if sample["latency_s"] else 1.0
        return layers

    def _check(self, sample: dict) -> None:
        result = sample.pop("result", None)
        if "error" in sample:
            sample["ok"] = False
            return
        if self.wl.sink == "write":
            import pyarrow.parquet as pq

            result = pq.read_table(result).to_pandas()
        res = self.expect.check(sample["op"], result)
        sample["ok"] = res["ok"]
        sample["rows"] = len(result)
        if "layers" in sample:
            sample["layers"]["exec.output_rows"] = len(result)
        if not res["ok"]:
            sample["mismatch"] = {
                k: res.get(k) for k in ("spark_rows", "oracle_rows", "schema_match",
                                        "hash_match", "dtype_kinds", "nonempty")
            }
            sample["mismatch"]["first"] = repr(res.get("first_mismatches"))[:500]

    def measure(self) -> None:
        args = self.args
        start = time.perf_counter()
        while True:
            # traced runs order passes U T T U U T T U ..., so JIT warming
            # over the run biases neither mode
            traced = bool(args.trace) and len(self.passes) % 4 in (1, 2)
            self.run_pass(traced)
            n_traced = sum(p["traced"] for p in self.passes)
            balanced = n_traced == (len(self.passes) - n_traced if args.trace else 0)
            if balanced and (args.smoke or (
                len(self.passes) >= MIN_PASSES
                and time.perf_counter() - start >= args.seconds
            )):
                break

    def memory(self) -> dict:
        """Peak memory of the program: the JVM's peak heap in use after a
        collection pause (from the GC log; the median over untraced passes
        of each pass's peak), plus the JVM's peak non-heap use (metaspace,
        code cache), plus the driver's peak RSS."""
        mgmt = self.spark.sparkContext._jvm.java.lang.management
        nonheap = sum(
            pool.getPeakUsage().getUsed()
            for pool in mgmt.ManagementFactory.getMemoryPoolMXBeans()
            if pool.getType() == mgmt.MemoryType.NON_HEAP
        ) / 2**20
        pauses = self.facts["gc_pauses"] = _gc_pauses(os.path.join(self.run_dir, "gc.log"))
        for p in self.passes:
            p["jvm_heap_peak_mb"] = _heap_peak_mb(pauses, *p["jvm_uptime_ms"])
        out = {
            "driver_maxrss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "jvm_heap_after_gc_mb": _median(
                [p["jvm_heap_peak_mb"] for p in self.passes if not p["traced"]]
            ),
            "jvm_heap_after_gc_run_peak_mb": max((mb for _, mb in pauses), default=0.0),
            "jvm_gc_pauses": len(pauses),
            "jvm_nonheap_mb": nonheap,
            "jvm_vm_hwm_mb": _vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid),
            "jvm_max_heap_mb": mgmt.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getMax() / 2**20,
        }
        out["peak_mem_mb"] = (
            out["jvm_heap_after_gc_mb"] + out["jvm_nonheap_mb"] + out["driver_maxrss_mb"]
        )
        return out


# --- metrics ------------------------------------------------------------------


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(bench: Bench) -> dict:
    timed = [s for s in bench.samples if not s["traced"] and "latency_s" in s]
    per_op = {}
    for s in timed:
        per_op.setdefault(s["op"], []).append(s["latency_s"])
    lat = sorted(s["latency_s"] for s in timed)
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0]
    return {
        "setup_s": bench.setup_times["setup_s"],
        "pass_s": _median([p["wall_s"] for p in bench.passes if not p["traced"]]),
        "query_geomean_s": math.exp(
            statistics.fmean(math.log(_median(v)) for v in per_op.values())
        ),
        "query_p90_s": p90,
        "peak_mem_mb": bench.facts["memory"]["peak_mem_mb"],
        "_p90_samples": len(lat),
        "_p90_samples_above": sum(1 for x in lat if x > p90),
    }


def per_layer(bench: Bench) -> dict:
    nproc = bench.facts["host"]["nproc"]
    per_pass = []
    for p in bench.passes:
        if not p["traced"]:
            continue
        rows = [s["layers"] for s in bench.samples if s["pass"] == p["index"] and "layers" in s]
        tot = {k: sum(r.get(k, 0) for r in rows) for k in _OP_SUMS}
        tot["exec.sink_s"] = tot["exec.collect_s"] + tot["exec.write_s"]
        tot["exec.reuse_ratio"] = (
            tot["exec.stages_skipped"] / tot["exec.stages"] if tot["exec.stages"] else 0.0
        )
        tot["exec.core_util"] = tot["exec.task_run_s"] / (p["wall_s"] * nproc)
        tot["wall_s"] = p["wall_s"]
        per_pass.append(tot)
    out = {k: _median([t[k] for t in per_pass]) for k in per_pass[0]}
    out["connection.register_s"] = bench.setup_times["connection.register_s"]
    out["setup.warmup_s"] = bench.setup_times["setup.warmup_s"]
    out["trace.overhead_s"] = out["wall_s"] - _median(
        [p["wall_s"] for p in bench.passes if not p["traced"]]
    )
    return out


def _layer_problems(sample: dict) -> list:
    """The traced run's self-test for one operation: the layers cover its
    wall time, and no Spark job runs where no execution layer is traced
    (the query's own code, or ``Model.to_df``, which must not execute)."""
    lay, op = sample["layers"], sample["op"]
    out = []
    if lay["coverage"] < MIN_COVERAGE:
        out.append(f"{op}: layer coverage {lay['coverage']:.3f} < {MIN_COVERAGE}")
    if lay["model.build_jobs"]:
        out.append(f"{op}: {lay['model.build_jobs']} Spark jobs ran in the query's "
                   "own code, outside every traced layer")
    if lay["sources.compile_jobs"]:
        out.append(f"{op}: {lay['sources.compile_jobs']} Spark jobs ran inside Model.to_df")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir(os.path.join(ROOT, "hashquery_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: hashquery_spark/ and __spark_entry__.py not found; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    _configure_env(run_dir)
    bench = Bench(args, run_dir)
    bench.facts["host"] = {
        "nproc": _nproc(),
        "loadavg_start": _loadavg(),
        "cpu_ticks_start": _cpu_ticks(),
        "cpu_probe_s_start": _cpu_probe_s(),
        "git_head": _git_head(),
        "source_sha256_16": _source_digest(),
        "python": sys.version.split()[0],
    }
    bench.facts["run"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "ops": list(bench.wl.ops),
        "sink": bench.wl.sink, "clients": 1,
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    phases = bench.facts["phase_s"] = {}
    try:
        t0 = time.perf_counter()
        bench.prepare()
        t1 = time.perf_counter()
        bench.setup()
        t2 = time.perf_counter()
        bench.measure()
        t3 = time.perf_counter()
        bench.facts["memory"] = bench.memory()
        import duckdb
        import pyspark

        bench.facts["host"].update(
            pyspark=pyspark.__version__,
            duckdb=duckdb.__version__,
            java=bench.spark.sparkContext._jvm.System.getProperty("java.version"),
        )
        _shutdown()
        phases.update(prepare=t1 - t0, setup=t2 - t1, measure=t3 - t2,
                      shutdown=time.perf_counter() - t3)
    finally:
        _shutdown()  # no-op after a clean shutdown
        shutil.rmtree(run_dir, ignore_errors=True)
    host = bench.facts["host"]
    host["loadavg_end"] = _loadavg()
    host["cpu_probe_s_end"] = _cpu_probe_s()
    (total0, steal0), (total1, steal1) = host.pop("cpu_ticks_start"), _cpu_ticks()
    host["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

    timed = [s for s in bench.samples if "latency_s" in s or "error" in s]
    failed = [s for s in timed if not s.get("ok")]
    if not any("latency_s" in s for s in timed if not s["traced"]):
        print("perfbench: no operation completed; first error:\n"
              + timed[0].get("traceback", ""), file=sys.stderr)
        return 1
    e2e = end_to_end(bench)
    summary = {
        **{k: e2e[k] for k in END_TO_END},
        "error_rate": len(failed) / len(timed),
    }
    layers = per_layer(bench) if args.trace else None
    artifact = {
        "facts": bench.facts,
        "setup": bench.setup_times,
        "passes": bench.passes,
        "samples": bench.samples,
        "end_to_end": summary,
        "p90_samples": e2e["_p90_samples"],
        "p90_samples_above": e2e["_p90_samples_above"],
        "failed_ops": sorted({s["op"] for s in failed}),
        "warmup_errors": bench.warmup_errors,
        "per_layer": layers,
        "spans": bench.tracer.spans if bench.tracer else None,
    }
    os.makedirs(os.path.join(work, "artifacts"), exist_ok=True)
    art_path = os.path.join(
        work, "artifacts", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    units = {**END_TO_END, "error_rate": "ratio"}
    print(f"# {args.workload} seed={args.seed} nproc={bench.facts['host']['nproc']} "
          f"inputs={bench.facts['inputs']['input_mb']} MB "
          f"replicas=1 passes={len(bench.passes)} "
          f"samples={e2e['_p90_samples']} artifact={os.path.relpath(art_path, ROOT)}")
    for k, v in summary.items():
        print(f"{k} {v:.6g} {units[k]}")
    for name in sorted({s['op'] for s in failed}):
        print(f"FAILED {name}")
    if layers:
        problems = [p for s in bench.samples if "layers" in s for p in _layer_problems(s)]
        for p in problems:
            print(p, file=sys.stderr)
        if problems:
            return 1
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(timed),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
