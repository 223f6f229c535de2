#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run copies its input tables into a
per-run directory, starts one Spark session on ``local[<cores>]`` with a
fixed 2 GB JVM heap, sets up twice (session start plus one untimed
warm-up pass; the median is reported), then runs whole passes of the
workload's operation mix in a closed loop with one client until
``--seconds`` have passed and at least three passes have run, and finally
checks every answer against an oracle outside the timed window. Every
file it writes is under ``perfbench/.work``; the per-run directory is
removed at exit.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics instead;
its spans are written to ``perfbench/.work/traces``.
``--describe`` prints every metric with its unit and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUP_UNITS = 2
#: the JIT is still compiling in the third pass of a JVM, the first timed
#: one, which came out up to a third slower than the next; a median over
#: three passes leaves it out at the cost of one more pass, as a third
#: set-up unit would, but also leaves out one pass slowed by the host
MIN_PASSES = 3
JVM_HEAP = "2g"
#: input tables per workload, under ``perfbench/data``: copies of the
#: engine's test tables at TPC-H scale factors 0.01 and 0.001
DATA = {"olap_mix": "sf0.01", "llm_pipelines": "sf0.001"}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def describe() -> str:
    s = spec()
    lines = [f"{m['name']}\t{m['unit']}\t{kind}"
             for kind in ("end_to_end", "per_layer") for m in s[kind]]
    return "\n".join(lines)


def pin_environment(run_dir: str) -> None:
    """Make the engine's temporary tables, Spark scratch space and worker
    imports stay inside this run's directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # a fixed heap size keeps the JVM's resident memory from depending on
    # when the collector chose to grow the heap
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_MASTER", None)
    os.chdir(run_dir)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def end_to_end_metrics(setup_units: list[float], latencies: dict[str, list[float]],
                       rss_mb: float) -> dict[str, tuple[float, str]]:
    """Name → (value, unit) for every end-to-end metric of an untraced run;
    ``latencies`` maps each query to its latencies in the timed passes."""
    return {
        "setup_s": (statistics.median(setup_units), "s"),
        # a pass made of each query's median operation
        "pass_s": (sum(statistics.median(v) for v in latencies.values()), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


class Runner:
    def __init__(self, workload_name: str, seed: int, seconds: float, trace: bool, run_dir: str):
        # the package and the workloads import only once the environment is pinned
        import workloads
        from exceldatatransform_py_spark.session import get_spark

        self.get_spark = get_spark
        self.workloads = workloads
        self.name = workload_name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        # a copy, so that no query can change the checkout's tables
        self.data_dir = shutil.copytree(os.path.join(HERE, "data", DATA[workload_name]),
                                        os.path.join(run_dir, "data"))
        self.workload = workloads.WORKLOADS[workload_name]()
        self.spark = None
        self.tracer = None
        self.op_names: list[str] = []
        self.op_ok: list[bool] = []
        self.pass_times = {False: [], True: []}
        #: query → latencies of its untraced timed operations
        self.latencies: dict[str, list[float]] = {}
        self.layer_passes: list[dict] = []

    # -- session ----------------------------------------------------------
    def start_session(self) -> float:
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.get_spark(
            app_name="perfbench",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse")},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def context(self):
        return self.workloads.Context(self.spark, self.data_dir, self.tracer, self.seed)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.terminate()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)

    # -- passes -------------------------------------------------------------
    def run_pass(self, timed: bool, traced: bool = False) -> None:
        """Run one pass; a timed pass records its operations and the sum of
        their latencies, a traced one also its per-layer totals."""
        ctx = self.context()
        ops = self.workload.pass_ops(ctx)
        self.tracer.enabled = traced
        first_span = len(self.tracer.spans)
        total = 0.0
        layer = _LayerPass() if traced else None
        for op in ops:
            ungrouped = self.tracer.ungrouped_jobs() if traced else set()
            op_id = len(self.op_names)
            t0 = time.perf_counter()
            ok = True
            try:
                with self.tracer.operation(op_id, op.name):
                    op.run()
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                ok = False
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            total += dt
            if timed:
                self.op_names.append(op.name)
                self.op_ok.append(ok)
                if not traced:
                    self.latencies.setdefault(op.name, []).append(dt)
            if traced:
                self.tracer.enabled = False
                spans = self.tracer.spans[first_span:]
                first_span = len(self.tracer.spans)
                self.tracer.resolve_jobs(spans)
                layer.add_op(self.tracer, spans, self.tracer.ungrouped_jobs() - ungrouped,
                             self.tracer.take_written())
                self.tracer.enabled = True
        self.tracer.enabled = False
        if timed:
            self.pass_times[traced].append(total)
            if traced:
                self.layer_passes.append(layer.totals)

    # -- the run ----------------------------------------------------------
    def run(self) -> dict:
        units = []
        session_start = None
        for i in range(SETUP_UNITS):
            t0 = time.perf_counter()
            started = self.start_session()
            session_start = started if session_start is None else session_start
            if self.tracer is None:
                self.tracer = tracing.Tracer(self.spark.sparkContext, self.name)
                if self.trace:
                    tracing.instrument(self.tracer)
            self.tracer.sc = self.spark.sparkContext
            self.workload.prepare(self.context())
            self.run_pass(timed=False)
            units.append(time.perf_counter() - t0)
            print(f"setup unit {i}: {units[-1]:.3f}s", file=sys.stderr)

        t_start = time.perf_counter()
        n = 0
        while True:
            traced = self.trace and n % 2 == 1
            self.run_pass(timed=True, traced=traced)
            n += 1
            elapsed = time.perf_counter() - t_start
            if elapsed >= self.seconds and n >= MIN_PASSES:
                break
        print(f"timed: {n} passes, {len(self.op_names)} ops, {elapsed:.3f}s, passes "
              f"{[round(t, 3) for t in self.pass_times[False] + self.pass_times[True]]}",
              file=sys.stderr)
        # before the check, whose collected answers would otherwise set the peak
        rss_mb = tracing.peak_rss_mb()

        t0 = time.perf_counter()
        errors = self.workload.check(self.context())
        print(f"check: {time.perf_counter() - t0:.3f}s", file=sys.stderr)
        for what, err in errors.items():
            print(f"check failed: {what}: {err}", file=sys.stderr)
        # a wrong answer fails every timed operation of its query
        failed = sum(1 for name, ok in zip(self.op_names, self.op_ok) if not ok or name in errors)

        if self.trace:
            metrics = self.layer_metrics(session_start)
            self.tracer.write(os.path.join(WORK, "traces", f"{self.name}-seed{self.seed}.jsonl"))
        else:
            metrics = end_to_end_metrics(units, self.latencies, rss_mb)
        return {
            "correct": not errors and failed == 0,
            "attempted": len(self.op_names),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, session_start: float) -> dict:
        names = {m["name"]: m["unit"] for m in spec()["per_layer"]}
        out = {k: 0.0 for k in names}
        for p in self.layer_passes:
            for k, v in p.items():
                out[k] = out.get(k, 0.0) + v / len(self.layer_passes)
        calls = out.pop("similarity.serve_calls", 0.0)
        if calls:
            out["similarity.serve_s"] /= calls
            out["similarity.serve_jobs"] /= calls
        out["session.start_s"] = session_start
        # the first timed pass, untraced, still carries JIT warm-up (see MIN_PASSES)
        untraced = self.pass_times[False][1:] or self.pass_times[False]
        out["tracing.overhead_s"] = (statistics.median(self.pass_times[True])
                                     - statistics.median(untraced))
        unknown = set(out) - set(names)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        return {k: (out[k], names[k]) for k in names}


class _LayerPass:
    """Per-layer totals of one traced pass."""

    def __init__(self):
        self.totals: dict[str, float] = {}

    def _add(self, key: str, v: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + v

    def add_op(self, tracer, spans, unattributed, written: tuple[int, int]) -> None:
        selfs = tracing.self_times(spans)
        total_jobs = sum(len(s["jobs"]) for s in spans) + len(unattributed)
        build_jobs = 0
        exec_jobs: list[int] = []
        for s in spans:
            layer, own = s["layer"], selfs[s["id"]]
            if layer == "plans":
                build_jobs += sum(len(t["jobs"]) for t in tracing.subtree(spans, {s["id"]}))
                self._add("plans.build_s", s["end"] - s["start"])
                self._add("plans.self_s", own)
            elif layer == "exec":
                self._add("exec.time_s", own)
                exec_jobs += s["jobs"]
            elif layer == "readers" or layer.startswith("snapshots."):
                self._add(f"{layer}.calls", 1)
                self._add(f"{layer}.time_s", own)
                self._add(f"{layer}.jobs", len(s["jobs"]))
            elif layer == "similarity.build":
                self._add("similarity.build_s", own)
            elif layer == "similarity.serve":
                self._add("similarity.serve_s", own)
                self._add("similarity.serve_jobs", len(s["jobs"]))
                self._add("similarity.serve_calls", 1)
        self._add("snapshots.bytes_written", written[0])
        self._add("snapshots.files_written", written[1])
        self._add("op.jobs", total_jobs)
        self._add("plans.build_jobs", build_jobs)
        self._add("exec.jobs", len(exec_jobs))
        # jobs launched outside both the build and the execution span
        self._add("tracing.unattributed_jobs", total_jobs - build_jobs - len(exec_jobs))
        for k, v in tracer.stage_totals(exec_jobs).items():
            self._add(f"exec.{k}", v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true")
    args = ap.parse_args(argv)
    if args.describe:
        print(describe())
        return 0
    if args.workload not in DATA:
        print(f"unknown workload {args.workload!r}; choose from {sorted(DATA)}", file=sys.stderr)
        return 2
    for need in ("exceldatatransform_py_spark/__init__.py", "tests/oracle_utils.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    runner = None
    try:
        pin_environment(run_dir)
        runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
        result = runner.run()
    finally:
        try:
            if runner is not None:
                runner.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
