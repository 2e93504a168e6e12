"""Spans around layer calls, Spark event-log attribution, host probes.

A :class:`Tracer` built without a SparkContext is a no-op, so the timed run
and the traced run execute the same workload code.  An enabled tracer keeps
every span in memory (name, start, end, parent, run id, pass), tags the
Spark jobs a span starts with ``setJobGroup``, and after the run
:func:`engine_counters` attributes the event log's task metrics to the
layer whose span was innermost when each stage was submitted.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: the program's modules the benchmark measures, as span-name prefixes
LAYERS = (
    "sources",
    "operators.splits",
    "operators.similarity",
    "operators.scoring",
    "evaluation",
    "plans.stats_suite",
    "tuning",
)
COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_bytes", "spill_bytes", "gc_s")


def layer_of(span_name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if span_name.startswith(layer + "."):
            return layer
    return span_name.rsplit(".", 1)[0]


class Tracer:
    def __init__(self, sc=None, run_id: str = ""):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.pass_no = 0
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        rec = {
            "run": self.run_id,
            "pass": self.pass_no,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(rec["id"]), rec["name"])

    def group(self, span_id) -> str:
        return f"{self.run_id}/{span_id}"

    def span_of_group(self, group: str | None) -> dict | None:
        if not group or not group.startswith(self.run_id + "/"):
            return None
        tail = group[len(self.run_id) + 1:]
        return self.spans[int(tail)] if tail.isdigit() else None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def pass_totals(spans: list[dict], n: int) -> dict[str, list[float]]:
    """Span name -> summed duration in each of passes 0..n-1."""
    out: dict[str, list[float]] = defaultdict(lambda: [0.0] * n)
    for s in spans:
        out[s["name"]][s["pass"]] += s["end"] - s["start"]
    return out


def read_event_log(log_dir: str) -> list[dict]:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def engine_counters(events: list[dict], tracer: Tracer, cores: int) -> dict[str, dict]:
    """Per layer: jobs, tasks, failed tasks, shuffle bytes written, bytes
    spilled to disk, task GC seconds, and core_busy = task run time /
    (layer self time x cores), over the tracer's spans."""
    stage_layer: dict[int, str] = {}
    out = {layer: dict.fromkeys(COUNTERS + ("task_s",), 0.0) for layer in LAYERS}

    def layer_for(props: dict | None) -> str | None:
        span = tracer.span_of_group((props or {}).get("spark.jobGroup.id"))
        return layer_of(span["name"]) if span else None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_for(ev.get("Properties"))
            if layer in out:
                out[layer]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            layer = layer_for(ev.get("Properties"))
            if layer in out:
                stage_layer[ev["Stage Info"]["Stage ID"]] = layer
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev["Stage ID"])
            if layer is None:
                continue
            acc = out[layer]
            acc["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                acc["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )

    self_s: dict[str, float] = defaultdict(float)
    for sid, t in self_times(tracer.spans).items():
        self_s[layer_of(tracer.spans[sid]["name"])] += t
    for layer, acc in out.items():
        busy = self_s.get(layer, 0.0) * cores
        acc["core_busy"] = acc.pop("task_s") / busy if busy > 0 else 0.0
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and any Python workers), read from /proc on a background thread.

    A descendant counts only once it has been seen in two consecutive
    samples: a child caught between vfork and exec (the JVM spawning a
    shell command) still shares its parent's memory and would count the
    parent's RSS twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._seen: set[int] = set()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def _sample(self) -> None:
        children, rss = defaultdict(list), {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:  # the process ended between listdir and open
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            pid = int(name)
            children[int(fields[1])].append(pid)
            rss[pid] = int(fields[21]) * self._page
        root = os.getpid()
        tree, todo = set(), [root]
        while todo:
            pid = todo.pop()
            tree.add(pid)
            todo.extend(children.get(pid, ()))
        total = sum(rss[p] for p in tree if p == root or p in self._seen)
        self._seen = tree
        self.peak_bytes = max(self.peak_bytes, total)


def cpu_probe_ms() -> float:
    """Median of three timings of a fixed single-threaded Python loop: a
    host-speed canary for slowdowns that CPU steal does not show."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[1]


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat ticks: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_share(t0: list[int], t1: list[int]) -> dict:
    """Host CPU shares between two :func:`cpu_ticks` readings, as bench.py
    stamps its runs; a high ``steal_pct`` marks a contended run."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {
        "steal_pct": round(100.0 * d[7] / total, 1),
        "sys_pct": round(100.0 * d[2] / total, 1),
        "busy_pct": round(100.0 * (total - d[3] - d[4]) / total, 1),
    }
