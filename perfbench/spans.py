"""Spans, the Spark event-log fold, and process-tree memory sampling.

Spans are recorded by the benchmark around its calls into the program.
Spark jobs carry no span id (the crawl's commit writes run on a thread
pool without a job description), so each job is assigned to the innermost
span whose [start, end) covers the job's submission time.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None = None


class Tracer:
    """Keeps spans in memory; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.time()
                tracer._stack.append(name)
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                if tracer.enabled:
                    parent = tracer._stack[-1] if tracer._stack else None
                    tracer.spans.append(Span(name, self.t0, time.time(), parent))
                return False

        return _Ctx()


METRIC_FIELDS = (
    "jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb",
)


def _empty_row() -> dict[str, float]:
    return {k: 0 for k in METRIC_FIELDS}


def read_events(path: str):
    """Yield the JSON events of an uncompressed, non-rolling event log."""
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def assign_span(t: float, spans: list[Span]) -> str | None:
    """Innermost (shortest) span covering time ``t``, by name."""
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or
                                     s.end - s.start < best.end - best.start):
            best = s
    return best.name if best else None


def fold_event_log(events, spans: list[Span]) -> dict[str, dict[str, float]]:
    """One row per span: jobs submitted in it and the summed task metrics
    of their stages. Jobs outside every span go to ``(none)``."""
    stage_span: dict[int, str] = {}
    rows: dict[str, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = assign_span(ev["Submission Time"] / 1000.0, spans) or "(none)"
            row = rows.setdefault(name, _empty_row())
            row["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = name
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get(ev.get("Stage ID"), "(none)")
            row = rows.setdefault(name, _empty_row())
            m = ev.get("Task Metrics") or {}
            row["tasks"] += 1
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            row["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            row["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            om = m.get("Output Metrics") or {}
            row["output_mb"] += om.get("Bytes Written", 0) / 1e6
    return rows


def event_log_file(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log, found {names}")
    return os.path.join(log_dir, names[0])


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_rss_kb(root_pid: int) -> int:
    """Resident KiB of ``root_pid`` and all its descendants, from the
    parent pid and resident pages in each ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while the table was read
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * _PAGE_KB
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo += children.get(pid, [])
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s on a
    daemon thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def fold_spark_rows(run, rows: dict[str, dict[str, float]], op_spans: list[str],
                    n_ops: int) -> None:
    """``spark.*`` per-layer metrics: the Spark work of the spans that make
    up the workload's operations, their totals and per-operation shares.
    The whole per-span table is written next to the run's other output."""
    total = _empty_row()
    for name in op_spans:
        for k, v in rows.get(name, {}).items():
            total[k] += v
    for k, v in total.items():
        run.layer[f"spark.{k}"] = v
    run.layer["spark.jobs_per_op"] = total["jobs"] / max(n_ops, 1)
    run.layer["spark.tasks_per_op"] = total["tasks"] / max(n_ops, 1)
    wall: dict[str, float] = {}
    parent: dict[str, str | None] = {}
    for s in run.tracer.spans:
        wall[s.name] = wall.get(s.name, 0.0) + (s.end - s.start)
        parent[s.name] = s.parent
    table = [dict(span=name, parent=parent.get(name), wall_s=wall.get(name, 0.0),
                  **row) for name, row in rows.items()]
    out = os.path.join(run.root, ".perfbench", "trace")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{run.args.workload}-{run.args.seed}.json")
    with open(path, "w") as f:
        json.dump(table, f, indent=1)
    width = max(len(r["span"]) for r in table) if table else 4
    cols = ("wall_s",) + METRIC_FIELDS
    print(f"{'span':<{width}} " + " ".join(f"{k:>16}" for k in cols),
          file=sys.stderr)
    for r in table:
        print(f"{r['span']:<{width}} " + " ".join(
            f"{r[k]:>16.3f}" for k in cols), file=sys.stderr)
