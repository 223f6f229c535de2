"""Spans, Spark job attribution and process memory for the benchmark.

A ``Tracer`` records one span per call into a layer: name, layer, start,
end, parent span, workload and operation id. While tracing is on, every
span runs under its own Spark job group, so each Spark job is charged to
the innermost layer that launched it. Jobs are resolved to stages, and
stages to task metrics, through the status store once an operation has
finished, outside its timed region. Spans stay in memory until
``write`` saves them at the end of the run.

``instrument`` wraps the public functions of the package modules that
the benchmark exercises. Query modules import ``read_table`` (and some
operators) by name, so the wrapper replaces every bound copy of a
function in every loaded package module, not only the defining one.
It also installs a snapshot commit protocol that counts the data files
and bytes each commit publishes. With tracing off no span is recorded,
no job group is set and no commit is counted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "exceldatatransform_py_spark"

#: modules whose public functions are wrapped; query functions import
#: some of them lazily, so ``instrument`` imports them all first
TRACED_MODULES = ("sources.readers", "sources.snapshots", "operators.similarity")

SNAPSHOT_OPS = {
    "snapshot_write": "write",
    "snapshot_merge_update_pruned": "merge_pruned",
    "snapshot_delete_dv": "delete_dv",
    "snapshot_read": "read",
    "replicate_snapshot_changes": "replicate",
}

STAGE_METRICS = (
    "stages", "tasks", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "gc_s",
)


def _layer_of(module: str, fn_name: str) -> str | None:
    """Layer a public package function belongs to, or None if untraced."""
    short = module[len(PACKAGE) + 1:]
    if short == "sources.readers":
        return "readers" if fn_name == "read_table" else None
    if short == "sources.snapshots":
        op = SNAPSHOT_OPS.get(fn_name)
        return f"snapshots.{op}" if op else None
    if short == "operators.similarity":
        if fn_name.startswith(("build_", "pq_train")):
            return "similarity.build"
        if fn_name.endswith("_from_index"):
            return "similarity.serve"
    return None


class Tracer:
    """In-memory span recorder with one Spark job group per span."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._next = 0
        #: bytes and data files of the snapshot commits published while tracing
        self._written = [0, 0]

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"perfbench-{parent}", "")
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "start": start,
                "end": end, "parent": parent, "workload": self.workload,
                "op": self._op_id, "jobs": [],
            })

    @contextmanager
    def operation(self, op_id: int, name: str):
        """Root span of one timed operation."""
        self._op_id = op_id
        try:
            with self.span(name, "op"):
                yield
        finally:
            self._op_id = None

    def count_written(self, nbytes: int, nfiles: int) -> None:
        self._written[0] += nbytes
        self._written[1] += nfiles

    def take_written(self) -> tuple[int, int]:
        """Bytes and files written since the last call."""
        out, self._written = tuple(self._written), [0, 0]
        return out

    def resolve_jobs(self, spans: list[dict]) -> None:
        """Fill in the Spark job ids launched under each span's group."""
        tracker = self.sc.statusTracker()
        for s in spans:
            s["jobs"] = sorted(tracker.getJobIdsForGroup(f"perfbench-{s['id']}"))

    def ungrouped_jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum the task metrics of every stage the given jobs ran."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage skipped or evicted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the time covered by its child spans."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def subtree(spans: list[dict], root_ids: set[int]) -> list[dict]:
    """The spans under (and including) ``root_ids``; children end before
    their parents, so one pass from the end of the list finds them all."""
    ids = set(root_ids)
    for s in reversed(spans):
        if s["parent"] in ids:
            ids.add(s["id"])
    return [s for s in spans if s["id"] in ids]


def instrument(tracer: Tracer) -> None:
    """Wrap every traced public function of the package in a span."""
    originals: dict[int, tuple] = {}
    for short in TRACED_MODULES:
        mod_name = f"{PACKAGE}.{short}"
        mod = importlib.import_module(mod_name)
        for attr, fn in vars(mod).items():
            public = not attr.startswith("_")
            if public and inspect.isfunction(fn) and fn.__module__ == mod_name:
                layer = _layer_of(mod_name, attr)
                if layer is not None:
                    originals[id(fn)] = (fn, layer)
    wrapped = {key: _wrap(tracer, fn, layer) for key, (fn, layer) in originals.items()}
    snapshots = importlib.import_module(f"{PACKAGE}.sources.snapshots")
    snapshots.set_commit_protocol(_counting_protocol(snapshots, tracer))
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            w = wrapped.get(id(val))
            if w is not None and val is originals[id(val)][0]:
                setattr(mod, attr, w)


def _counting_protocol(snapshots, tracer: Tracer):
    """The active commit protocol, extended to report to ``tracer`` the
    parquet files (data and deletion vectors) that appeared under a table
    since its previous traced commit. A commit of version 0 starts a new
    table, so everything under it counts."""
    inner = snapshots.get_commit_protocol()
    seen: dict[str, set[str]] = {}

    class Counting(snapshots.CommitProtocol):
        name = inner.name

        def stage_data_dir(self, table, df, version):
            return inner.stage_data_dir(table, df, version)

        def publish(self, table, manifest):
            inner.publish(table, manifest)
            if not tracer.enabled:
                return
            files = {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
                     for d, _, names in os.walk(table) for f in names if f.endswith(".parquet")}
            old = set() if manifest["version"] == 0 else seen.get(table, set())
            new = files.keys() - old
            seen[table] = set(files)
            tracer.count_written(sum(files[f] for f in new), len(new))

    return Counting()


def _wrap(tracer: Tracer, fn, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(fn.__name__, layer):
            return fn(*args, **kwargs)

    return traced


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as f:
                kids.extend(int(p) for p in f.read().split())
    except OSError:
        pass
    return kids


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its child processes
    (the JVM), from ``VmHWM`` in ``/proc``."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *_children(me)]) / 1024.0
