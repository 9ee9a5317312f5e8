"""Spans, counters and Spark-side metrics for the traced benchmark run.

Nothing here edits the engine. Layer boundaries are observed from the
outside:

- ``Tracer.span`` wraps calls the benchmark makes into a layer;
- ``instrument`` wraps selected engine methods/functions for the run's
  lifetime (module attributes are swapped back by ``uninstrument``), so
  calls the engine makes to its own inner layers (commit, footer stats,
  scan planning, MERGE file pruning) get spans too;
- ``CountingStorage`` is handed to ``meta.create_table(storage=...)``
  and counts every storage primitive;
- ``Tracer.op`` tags every Spark job of one operation with a job group
  and, after the call, reads that group's job and stage data from the
  driver's status store over py4j (works with ``spark.ui.enabled=false``).

With tracing off every entry point is a no-op, so the untraced run pays
nothing but a branch per call.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from fupi_spark.storage import LocalStorage

#: Spark-side metrics recorded per timed operation
SPARK_FIELDS = (
    "executor_cpu_s",
    "shuffle_write_mb",
    "output_mb",
    "spill_mb",
    "tasks",
    "task_failures",
    "driver_only_s",
)

STORAGE_PRIMS = ("put", "put_if_absent", "promote", "list", "read", "delete")


class Tracer:
    """In-memory span log plus named counters. Spans are
    ``[name, start, end, parent_index]``; they are written out once, by
    ``dump``, when the run ends."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._group_seq = 0

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        # one span stack, owned by the client (main) thread; engine helper
        # threads (e.g. Storage.promote_many's pool) record counts only
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def _ancestor_named(self, idx: int, name: str) -> bool:
        p = self.spans[idx][3]
        while p >= 0:
            if self.spans[p][0] == name:
                return True
            p = self.spans[p][3]
        return False

    def total_s(self, name: str) -> float:
        """Wall time inside spans called ``name``; a span nested in a
        span of the same name is not counted twice."""
        return sum(
            s[2] - s[1]
            for i, s in enumerate(self.spans)
            if s[0] == name and s[2] is not None and not self._ancestor_named(i, name)
        )

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover
        (children of one span never overlap: spans come from one thread)."""
        child_cover = defaultdict(float)
        for s in self.spans:
            if s[3] >= 0 and s[2] is not None:
                child_cover[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[2] is not None:
                out[s[0]] += (s[2] - s[1]) - child_cover[i]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": n, "start_s": a - t0, "end_s": b - t0, "parent": p}
                        for n, a, b, p in self.spans
                    ],
                    "self_s": self.self_times(),
                    "counts": dict(self.counts),
                },
                f,
            )

    # -- Spark operations ------------------------------------------------------
    @contextmanager
    def op(self, name: str):
        """Span ``name`` plus its Spark job metrics under ``name.<field>``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        sc.setJobGroup(group, name, False)
        t0 = time.time()
        try:
            with self.span(name):
                yield
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._spark_metrics(name, group, t0, t1)

    def _spark_metrics(self, name: str, group: str, t0: float, t1: float) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus: drain
        # it so every job and stage of the call has been recorded
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        intervals = []
        stage_ids = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = comp.get().getTime() / 1000 if comp.isDefined() else t1
                intervals.append((max(t0, sub.get().getTime() / 1000), min(t1, end)))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        agg = dict.fromkeys(SPARK_FIELDS, 0.0)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage already evicted from the store
                self.add("trace.stages_missing")
                continue
            agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
            agg["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            agg["output_mb"] += st.outputBytes() / 1e6
            agg["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            agg["tasks"] += st.numCompleteTasks()
            agg["task_failures"] += st.numFailedTasks()
        agg["driver_only_s"] = (t1 - t0) - _union_len(intervals)
        for k, v in agg.items():
            self.add(f"{name}.{k}", v)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class CountingStorage(LocalStorage):
    """``LocalStorage`` that counts each primitive, sums the time spent
    in them (``storage.busy_s``), counts lost ``put_if_absent`` claims
    (a lost claim is a commit retry) and the bytes of every manifest
    promoted into ``metadata/manifests``."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def _timed(self, prim: str, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.tracer.add(f"storage.{prim}_n")
            self.tracer.add("storage.busy_s", time.perf_counter() - t)

    def put(self, rel, data):
        if rel.startswith("_lineage/") and rel.rsplit("/", 1)[-1].startswith("unit-"):
            self.tracer.add("lineage.units_n")
        return self._timed("put", super().put, rel, data)

    def put_if_absent(self, rel, data):
        won = self._timed("put_if_absent", super().put_if_absent, rel, data)
        if not won:
            self.tracer.add("meta.commit_retries")
        return won

    def promote(self, local_file, rel):
        if rel.startswith("metadata/manifests/"):
            self.tracer.add("meta.manifest_bytes_written", os.path.getsize(local_file))
        return self._timed("promote", super().promote, local_file, rel)

    def list(self, prefix):
        return self._timed("list", super().list, prefix)

    def read(self, rel):
        return self._timed("read", super().read, rel)

    def delete(self, rel):
        return self._timed("delete", super().delete, rel)


# engine entry points wrapped in traced runs: (module, owner, attribute,
# span name). Engine modules resolve these through the module or class
# at call time, so inner calls (compact -> Table.commit, merge_into ->
# plan_touched_files) are seen too.
_PATCHES = (
    ("fupi_spark.meta", "Table", "commit", "meta.commit"),
    ("fupi_spark.meta", "Table", "footer_file_stats", "meta.footer_stats"),
    ("fupi_spark.meta", "Table", "scan", "meta.scan_plan"),
    ("fupi_spark.meta", "Table", "_read_files", "meta.scan_plan"),
    ("fupi_spark.merge", None, "plan_touched_files", "merge.plan_touched_files"),
)


def instrument(tracer: Tracer) -> list:
    """Wrap the ``_PATCHES`` targets with spans; returns the undo list."""
    import importlib

    undo = []
    for mod_name, owner_name, attr, span_name in _PATCHES:
        mod = importlib.import_module(mod_name)
        owner = getattr(mod, owner_name) if owner_name else mod
        orig = owner.__dict__[attr]

        def wrapped(*a, __orig=orig, __name=span_name, **kw):
            with tracer.span(__name):
                return __orig(*a, **kw)

        setattr(owner, attr, wrapped)
        undo.append((owner, attr, orig))
    return undo


def uninstrument(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


def peak_rss_sampler():
    """Return ``sample()`` recording each process's peak RSS (VmHWM) for
    this process and all its descendants (driver JVM, Python workers);
    ``sample()`` returns the summed peaks in MB over every process seen
    so far, so short-lived workers still count once sampled."""
    peaks: dict[int, int] = {}
    me = os.getpid()

    starts: dict[int, int] = {}

    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            kids[int(fields[1])].append(int(d))
            starts[int(d)] = int(fields[19])
        return kids

    def sample() -> float:
        kids = _children()
        todo = [me]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(
                        int(line.split()[1]) for line in f if line.startswith("VmHWM:")
                    )
            except (OSError, StopIteration):
                continue
            # a recycled pid is a new process: key by (pid, start time)
            key = (pid, starts.get(pid))
            peaks[key] = max(peaks.get(key, 0), kb)
        return sum(peaks.values()) / 1024.0

    return sample
