"""Measurement seams used from outside the engine.

* ``Tracer`` — in-memory spans around the benchmark's calls into each
  layer, with per-name totals;
* ``EventLog`` — parses Spark's uncompressed JSON event log with the
  standard library and attributes jobs, stages, tasks, task metrics and
  SQL (plan-node) metrics to Spark job groups;
* ``rss_mb`` — resident set of this process plus all its descendants
  (driver JVM and Python workers), read from ``/proc``;
* ``tail`` — median and the highest percentile with at least ten samples
  beyond it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """Nested spans kept in memory; written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.tags: dict = {}  # merged into every new span
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **self.tags, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
                for s in self.spans]


def tail(values: list[float]) -> dict:
    """Median plus the highest whole percentile with >= 10 samples above it.

    Returns ``pct`` = None (and ``value`` = the maximum) when fewer than
    20 samples leave no percentile above the median with ten beyond it.
    """
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "p50": statistics.median(vals) if vals else None, "pct": None,
           "value": vals[-1] if vals else None}
    for pct in range(99, 50, -1):
        if n - int(n * pct / 100) >= 10 and n >= 20:
            out["pct"] = pct
            out["value"] = statistics.quantiles(vals, n=100)[pct - 1]
            break
    return out


def rss_mb(pid: int | None = None) -> float:
    """RSS of ``pid`` (default: this process) and all its descendants."""
    root = pid or os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        p = int(stat.split("/")[2])
        children[int(fields[1])].append(p)
        rss[p] = int(fields[21])  # pages
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak of ``rss_mb``, sampled by ``watch`` on a background thread."""

    def __init__(self) -> None:
        self.peak = 0.0

    def watch(self, stop, interval_s: float) -> None:
        while not stop.wait(interval_s):
            self.peak = max(self.peak, rss_mb())


# --- Spark event log ------------------------------------------------------

PYTHON_IN = "data sent to Python workers"
PYTHON_OUT = "data returned from Python workers"


def _plan_metrics(node: dict, acc: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        acc[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _plan_metrics(child, acc)


class EventLog:
    """Per-job-group totals from one application's event log."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "scan_bytes", "python_bytes_in", "python_bytes_out")

    def __init__(self, path: str) -> None:
        self.groups: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(self.FIELDS, 0))
        stage_group: dict[int, str] = {}
        acc_name: dict[int, str] = {}
        pending_acc: list[tuple[str, int, float]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "ungrouped"
                    self.groups[g]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"], "ungrouped")
                    self.groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    self._task_end(ev, stage_group, pending_acc)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev["sparkPlanInfo"], acc_name)
        for g, aid, value in pending_acc:
            name = acc_name.get(aid)
            if name == PYTHON_IN:
                self.groups[g]["python_bytes_in"] += value
            elif name == PYTHON_OUT:
                self.groups[g]["python_bytes_out"] += value

    def _task_end(self, ev, stage_group, pending_acc) -> None:
        g = stage_group.get(ev["Stage ID"], "ungrouped")
        rec = self.groups[g]
        rec["tasks"] += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            rec["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        rec["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        rec["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
            if isinstance(a.get("Update"), (int, float)) or str(a.get("Update", "")).isdigit():
                pending_acc.append((g, a["ID"], float(a["Update"])))

    def total(self, keep=lambda group: True) -> dict[str, float]:
        """Sum of every field over the job groups ``keep`` accepts."""
        out = dict.fromkeys(self.FIELDS, 0)
        for g, rec in self.groups.items():
            if keep(g):
                for k, v in rec.items():
                    out[k] += v
        return out

    @staticmethod
    def find(log_dir: str) -> str:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        return files[0]
