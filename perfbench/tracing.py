"""Tracing for the benchmark's traced run (``--trace 1``).

Spans ``(name, start, end, parent, op_id)`` are recorded around calls into
the library's public functions and kept in memory until the run ends. Each
span runs its Spark work under its own job group, so the status tracker
gives the span's job ids and the event log (written only in traced runs)
gives the tasks' executor time, GC, shuffle, spill and input bytes. Janino
compile counts and times come from the JVM's ``CodegenMetrics`` over py4j,
read before and after each registry op. Nothing here is inside the library:
functions the benchmark does not call directly (the stages of
``load_hybrid_stores`` and ``hybrid_batch_topk``) are wrapped at their
module attribute for the traced run only.

An untraced run uses :data:`OFF`, whose spans record nothing.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import time
from collections import defaultdict

#: Library functions called from inside other library functions; the traced
#: run wraps each at its module attribute so its calls become spans.
NESTED = (
    "retrieval.check_hybrid_store_sync",
    "retrieval.rrf_fuse",
    "text.load_bm25_index_incremental",
    "text.bm25_batch_topk_indexed",
    "pq.load_ivf_pq_table",
    "pq.ivf_pq_batch_topk",
    "similarity.load_sq_table",
    "similarity.ivf_sq_batch_topk",
)


class _Off:
    """The untraced run's tracer: spans cost one generator frame."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, op_id=None, codegen=False):
        yield None

    def mark_window(self, on: bool) -> None:
        pass


OFF = _Off()


class Tracer:
    """Records spans with their Spark jobs; see the module docstring."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.phase = "setup"
        self.bookkeeping_s = 0.0

    # -- spans ---------------------------------------------------------
    def mark_window(self, on: bool) -> None:
        """Open or close the measured window. Each span records the phase
        it ran in: ``setup`` before the window, ``window`` inside it,
        ``check`` after it."""
        if on:
            self._window_cg0 = self._codegen()
        else:
            self.window_codegen = self.codegen_since_window()
        self.phase = "window" if on else "check"

    def codegen_since_window(self) -> tuple[int, float]:
        """``(compiles, compile ms)`` since the window opened."""
        n1, ms1 = self._codegen()
        return n1 - self._window_cg0[0], ms1 - self._window_cg0[1]

    def _codegen(self) -> tuple[int, float]:
        jvm = self.spark.sparkContext._jvm
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        # The histogram's reservoir keeps every sample up to 1028 compiles
        # per JVM, so the sum of its values is exact up to there; beyond, it
        # holds a sample, and count × sample mean is the estimate.
        count, snap = int(hist.getCount()), hist.getSnapshot()
        if count <= snap.size():
            return count, float(jvm.java.util.Arrays.stream(
                snap.getValues()).sum())
        return count, count * float(snap.getMean())

    @contextlib.contextmanager
    def span(self, name: str, op_id=None, codegen: bool = False):
        t_book = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "op_id": op_id if op_id is not None else (
                parent["op_id"] if parent else None),
            "phase": self.phase, "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if codegen:
            rec["cg0"] = self._codegen()
        sc.setJobGroup(rec["group"], name)
        self.bookkeeping_s += time.perf_counter() - t_book
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_book = time.perf_counter()
            rec["job_ids"] = list(
                sc.statusTracker().getJobIdsForGroup(rec["group"]))
            if codegen:
                n1, ms1 = self._codegen()
                n0, ms0 = rec.pop("cg0")
                rec["compiles"], rec["codegen_ms"] = n1 - n0, ms1 - ms0
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t_book

    # -- wrapping nested library calls ---------------------------------
    def _wrapped(self, name: str, fn):
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return call

    def patch_nested(self) -> None:
        for name in NESTED:
            mod_name, fn_name = name.split(".")
            mod = importlib.import_module(f"ons_utils_spark.operators.{mod_name}")
            orig = getattr(mod, fn_name)
            setattr(mod, fn_name, self._wrapped(name, orig))

    # -- aggregation ---------------------------------------------------
    def jobs(self, rec: dict) -> list[int]:
        """Job ids of ``rec`` and every span nested in it."""
        out = list(rec.get("job_ids", []))
        for child in self.spans:
            if child["parent"] == rec["id"]:
                out += self.jobs(child)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def event_log_task_metrics(log_dir: str) -> dict[int, dict]:
    """Per-job task-metric sums from the Spark event log under ``log_dir``
    (readable once the session has stopped)."""
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in filter(os.path.isfile, paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    acc = per_job[job]
                    acc["tasks"] += 1
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["input_bytes"] += (m.get("Input Metrics") or {}) \
                        .get("Bytes Read", 0)
    return per_job


def walk_bytes(root: str) -> dict[str, int]:
    """``{file path: size}`` for every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def _java_children(pid: int) -> list[int]:
    """Descendants of ``pid`` whose command is ``java`` (the driver JVM)."""
    children = defaultdict(list)
    comm = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    head, rest = fh.read().rsplit(")", 1)
            except OSError:
                continue
            children[int(rest.split()[1])].append(int(entry))
            comm[int(entry)] = head.split("(", 1)[1]
    out, todo = [], list(children[pid])
    while todo:
        p = todo.pop()
        if comm.get(p) == "java":
            out.append(p)
        todo += children.get(p, [])
    return out


def peak_rss_mb() -> float:
    """Peak RSS (``VmHWM``) of this Python process plus the driver JVM.
    Spark's Python workers are left out: they are forked from one daemon
    and share most of its pages, and how many are alive at the end depends
    on scheduling, so adding theirs would count shared pages several times
    and vary from run to run."""
    total_kb = 0
    for pid in [os.getpid(), *_java_children(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
