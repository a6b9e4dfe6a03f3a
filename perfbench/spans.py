"""Spans, Spark stage metrics and resident-memory sampling for the benchmark.

A :class:`Tracer` keeps spans in memory — name, start, end, parent and
run id — and writes them out once, when the run ends. A span opened with
``spark_layer=True`` runs its Spark jobs under a job group of its own; on
exit the tracer reads that group's stages from Spark's status store
(task time, CPU time, shuffle and spill bytes), which works with the UI
disabled. Spans are recorded from the benchmark's side, around each call
into a library layer; the library itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_KEYS = ("task_s", "cpu_s", "jobs", "stages", "shuffle_bytes", "spill_bytes")
LAYER_UNITS = {"self_s": "s", "task_s": "s", "cpu_s": "s", "jobs": "count",
               "stages": "count", "shuffle_bytes": "B", "spill_bytes": "B"}


def layer_units(layers) -> dict:
    """``<layer>.<key>`` -> unit for the span-derived metrics of ``layers``."""
    return {f"{layer}.{k}": u for layer in layers for k, u in LAYER_UNITS.items()}


def _drain_listener_bus(sc) -> None:
    # job/stage completion events reach the status store asynchronously;
    # wait until every posted event is processed before reading it
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics(sc, group: str) -> dict:
    """Sum the completed stages of every job run under ``group``."""
    _drain_listener_bus(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_KEYS, 0)
    out["max_stage_tasks"] = 0
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["task_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled()
            out["max_stage_tasks"] = max(out["max_stage_tasks"], st.numTasks())
    return out


def self_time(span: dict, children: list[dict]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


class Tracer:
    """In-memory span recorder; see the module docstring."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, spark_layer: bool = False):
        sp = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}/{sp['id']}/{name}" if spark_layer else None
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                sp["stage"] = stage_metrics(self.sc, group)

    def layer_totals(self, names: list[str]) -> dict:
        """Per-layer sums over closed spans: ``<layer>.self_s`` plus the
        stage keys, where a span's layer is its name up to the first dot."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        tot = {f"{n}.{k}": 0.0 for n in names for k in ("self_s",) + STAGE_KEYS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer not in names or s["end"] is None:
                continue
            tot[f"{layer}.self_s"] += self_time(s, kids.get(s["id"], []))
            for k in STAGE_KEYS:
                tot[f"{layer}.{k}"] += s.get("stage", {}).get(k, 0)
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class RssSampler:
    """Summed resident memory of this process and all its descendants
    (the driver JVM, the PySpark daemon and its workers), sampled from
    ``/proc`` every ``interval`` seconds inside :meth:`sampling`;
    ``peaks_kb`` holds one peak per ``sampling`` block."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peaks_kb: list[int] = []
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        kb = sum(_rss_kb(p) for p in _descendants(os.getpid()))
        with self._lock:
            self.peaks_kb[-1] = max(self.peaks_kb[-1], kb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self._sample()
            self._stop.wait(self.interval)

    @contextmanager
    def sampling(self):
        with self._lock:
            self.peaks_kb.append(0)
        self._sample()
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
