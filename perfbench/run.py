"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload seq_verdicts --seed 1 --seconds 1 \\
        --trace 0

Run it from the root of a checkout: the library is imported from there,
and everything the run writes (cached inputs, Spark scratch space, sinks,
traces) goes under ``.perfbench/`` in that directory.

Shape: one client, closed loop.  The run sets up once (JVM and Spark
session, input open, warm-up passes), then runs passes back to back until
``--seconds`` have passed, at least one, and reports medians.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes (at least one of each) and reports the
per-layer metrics, the tracing overhead among them.  The
last line of standard output is the result object; ``correct`` is false
and ``failed`` counts every pass that raised or returned a wrong answer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-layer metrics that only some workloads produce; the others report 0
LAYER_ONLY = {
    "sequences.explode_rows": "count",
    "sequences.bad_tokens": "count",
    "sequences.explode_useful_ratio": "ratio",
    "uniqueness.partial_agg_ratio": "ratio",
    "manifest.parts_scan_s": "s",
    "manifest.manifest_read_s": "s",
    "manifest.validate_write_s": "s",
    "manifest.metrics_s": "s",
    "manifest.manifest_commit_s": "s",
    "manifest.spark_jobs": "count",
    "manifest.sink_files": "count",
    "manifest.sink_bytes": "bytes",
}


def _process_age_s() -> float:
    """Seconds since this process started (set-up is timed from there)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every table size (tests use a tiny one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_begin = time.perf_counter() - _process_age_s()
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "validr_spark", "__init__.py")):
        print(f"perfbench: no validr_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(base, "cache"), exist_ok=True)
    # Arrow-UDF workers import validr_spark from any cwd; temp files of the
    # driver and its workers stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    bench = Bench(args, WORKLOADS[args.workload], base, work, t_begin)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


class Bench:
    def __init__(self, args, workload_cls, base, work, t_begin):
        from perfbench import box
        from perfbench.inputs import InputCache

        self.args = args
        self.base = base
        self.work = work
        self.t_begin = t_begin
        self.cores = box.cores()
        self.memory_mb = box.driver_memory_mb()
        self.cache = InputCache(os.path.join(base, "cache"))
        self.wl = workload_cls(args.seed, args.scale, work)
        self.event_dir = (os.path.join(work, "events") if args.trace
                          else None)
        self.spark = None
        self.errors: list[str] = []
        self.attempted = self.failed = 0

    # -- set-up -------------------------------------------------------------

    def _session(self):
        from perfbench import box

        return box.build_session(self.work, self.cores, self.memory_mb,
                                 self.event_dir)

    def setup(self, tracer) -> float:
        """Process start to the end of warm-up: interpreter and JVM start,
        Spark session, input open, and the workload's warm-up passes.  The
        one-off generation of missing inputs is subtracted."""
        self.wl.prepare(self.cache)
        self.spark = self._session()
        t1 = time.perf_counter()
        self.wl.open(self.spark)
        t2 = time.perf_counter()
        for _ in range(self.wl.warm_passes):
            self._pass(tracer)
        t3 = time.perf_counter()
        self.setup_parts = {
            "setup.session_s": t1 - self.t_begin - self.cache.gen_s,
            "setup.open_s": t2 - t1,
            "setup.warm_s": t3 - t2}
        return t3 - self.t_begin - self.cache.gen_s

    # -- passes -------------------------------------------------------------

    def _pass(self, tracer, traced=False, first=False):
        """One pass and its check: (wall s, CPU s, output), or None if it
        raised or its output was wrong."""
        from perfbench import box

        me = os.getpid()
        self.attempted += 1
        tracer.active = traced
        tracer.pass_id = self.attempted
        try:
            cpu0 = box.tree_cpu_s(me)
            t0 = time.perf_counter()
            with tracer.span("pass"):
                out = self.wl.run_pass(self.spark, tracer)
            wall = time.perf_counter() - t0
            cpu = box.tree_cpu_s(me) - cpu0
            errs = self.wl.check(self.spark, out, first)
        except Exception:
            errs = [traceback.format_exc()]
        finally:
            tracer.active = False
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            return None
        return wall, cpu, out

    def run(self) -> dict:
        from perfbench.trace import Tracer

        tracer = Tracer()
        setup_s = self.setup(tracer)
        undo = self._wrap_layers(tracer) if self.args.trace else []
        rec = {False: [], True: []}
        t_end = time.perf_counter() + self.args.seconds
        try:
            i = 0
            min_passes = 2 if self.args.trace else 1
            while time.perf_counter() < t_end or i < min_passes:
                traced = bool(self.args.trace) and i % 2 == 1
                r = self._pass(tracer, traced, first=i == 0)
                if r is not None:
                    rec[traced].append(r)
                i += 1
        finally:
            for u in undo:
                u()
        for e in self.errors[:5]:
            print("perfbench: check failed: " + e.strip(), file=sys.stderr)
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed}
        if self.args.trace:
            result["metrics"] = self._layer_metrics(tracer, rec)
            return result
        walls = [r[0] for r in rec[False]]
        cpus = [r[1] for r in rec[False]]
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": (self.wl.rows / statistics.median(walls)
                                     if walls else 0.0), "unit": "rows/s"},
            "cpu_s": {"value": statistics.median(cpus) if cpus else 0.0,
                      "unit": "s"},
        }
        print(f"perfbench: {self.wl.name} seed={self.args.seed} "
              f"rows={self.wl.rows} cores={self.cores} "
              f"setup_s={setup_s:.2f} "
              f"walls={[round(w, 3) for w in walls]} "
              f"cpus={[round(c, 2) for c in cpus]} "
              f"gen_s={self.cache.gen_s:.1f}", file=sys.stderr)
        return result

    # -- tracing ------------------------------------------------------------

    @staticmethod
    def _wrap_layers(tracer):
        from validr_spark.compiler import SparkCompiler, ValidationPlan

        return [tracer.wrap(SparkCompiler, "compile", "compiler.compile"),
                tracer.wrap(ValidationPlan, "apply", "compiler.apply")]

    def _layer_metrics(self, tracer, rec) -> dict:
        from perfbench import box
        from perfbench.trace import EventLog

        n = len(rec[True])
        outs = [r[2] for r in rec[True]]
        jvm = box.jvm_pid(os.getpid())
        rss = box.peak_rss_mb(jvm) if jvm else 0.0
        self.spark.stop()
        self.spark = None
        log = EventLog(self.event_dir)
        plans = [p for ps in log.traced_plans().values() for p in ps]
        per = max(1, n)

        def sql(metric, node):
            return log.metric(plans, metric, node) / per

        m = {
            "trace.overhead_s": (
                statistics.median(r[0] for r in rec[True])
                - statistics.median(r[0] for r in rec[False])
                if rec[True] and rec[False] else 0.0, "s"),
            "trace.pass_self_s": (tracer.per_pass_self("pass", n), "s"),
            "compiler.compile_s": (
                tracer.per_pass_self("compiler.compile", n), "s"),
            "compiler.apply_s": (tracer.per_pass_self("compiler.apply", n),
                                 "s"),
            "spark.plan_s": (tracer.per_pass_self("spark.plan", n), "s"),
            "python.total_ms": (sql("time to run Python workers",
                                    "ArrowEvalPython"), "ms"),
            "python.boot_ms": (sql("time to start Python workers",
                                   "ArrowEvalPython"), "ms"),
            "python.rows": (sql("number of output rows", "ArrowEvalPython"),
                            "count"),
            "spark.scan_ms": (sql("scan time", "Scan "), "ms"),
            "spark.scan_bytes": (sql("size of files read", "Scan "), "bytes"),
            "spark.pipeline_ms": (sql("duration", "WholeStageCodegen"), "ms"),
            "spark.shuffle_write_bytes": (sql("shuffle bytes written",
                                              "Exchange"), "bytes"),
            "spark.spill_bytes": (
                log.task_sum("Memory Bytes Spilled") / per, "bytes"),
            "spark.peak_exec_mem_mb": (
                log.task_max("Peak Execution Memory") / 2 ** 20, "MiB"),
            "spark.executor_cpu_s": (
                log.task_sum("Executor CPU Time") / 1e9 / per, "s"),
            "spark.executor_run_s": (
                log.task_sum("Executor Run Time") / 1e3 / per, "s"),
            "spark.gc_s": (log.task_sum("JVM GC Time") / 1e3 / per, "s"),
            "jvm.peak_rss_mb": (rss, "MiB"),
            **{k: (v, "s") for k, v in self.setup_parts.items()},
        }
        for span in ("sequences.agg1", "sequences.agg2", "uniqueness.dup",
                     "manifest.resume_noop", "drift.ks", "drift.chi2",
                     "dedup.minhash"):
            m[span + "_s"] = (tracer.per_pass_self(span, n), "s")
        for name in LAYER_ONLY:
            m.setdefault(name, (0.0, LAYER_ONLY[name]))
        if outs:
            m.update(self.wl.layer_metrics(tracer, log, per, outs))
        path = os.path.join(self.base, "traces",
                            f"{self.wl.name}-seed{self.args.seed}.json")
        tracer.dump(path, {"workload": self.wl.name, "seed": self.args.seed,
                           "traced_passes": n,
                           "untraced_walls": [r[0] for r in rec[False]],
                           "traced_walls": [r[0] for r in rec[True]]})
        print(f"perfbench: spans written to {path}", file=sys.stderr)
        return {k: {"value": float(v), "unit": u}
                for k, (v, u) in sorted(m.items())}

    def close(self) -> None:
        """Stop Spark, then the JVM, then wait for every process this run
        started (the JVM's Python workers included) to end."""
        from perfbench import box

        kids = [p for p in box.tree_pids(os.getpid()) if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while kids and time.monotonic() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")
                    and not _zombie(p)]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        return raw[raw.rindex(")") + 2] == "Z"
    except FileNotFoundError:
        return False


if __name__ == "__main__":
    sys.exit(main())
