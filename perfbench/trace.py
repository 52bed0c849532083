"""Tracing and counters, kept entirely in the benchmark.

* ``Tracer`` records spans around the benchmark's calls into the package's
  public functions. Each span gets its own Spark job group, so the jobs,
  stages and tasks it launched can be read from ``statusTracker()`` and,
  after the session stops, shuffle bytes, task CPU and spill from the event
  log. Spans stay in memory and are written out at the end. A disabled
  tracer records nothing and sets no job group.
* ``parse_event_log`` reads an uncompressed, non-rolling JSON-lines event log.
* ``RssSampler`` samples the resident memory of this process and all of its
  descendants (the driver JVM and the Python workers) from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "task_cpu_s", "spill_bytes")


class Tracer:
    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.counts: dict[str, float] = {}
        self.spark = None

    def disabled_copy(self) -> "Tracer":
        """A tracer that records nothing, for untimed or untraced passes."""
        return Tracer(self.workload, False)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one call; the job group labels every Spark job it starts."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        idx = len(self.spans)
        group = f"{self.workload}:{idx}:{name}"
        rec = {
            "name": name,
            "workload": self.workload,
            "parent": self._stack[-1] if self._stack else None,
            "group": group,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    p = self.spans[parent]
                    sc.setJobGroup(p["group"], p["name"])
                st = sc.statusTracker()
                jobs = st.getJobIdsForGroup(group)
                stages = set()
                for j in jobs:
                    info = st.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
                tasks = 0
                for s in stages:
                    sinfo = st.getStageInfo(s)
                    if sinfo is not None:
                        tasks += sinfo.numTasks
                rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), len(stages), tasks

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {i: (s["end"] - s["start"]) - child[i] for i, s in enumerate(self.spans)}

    def totals(self, key: str = "self") -> dict[str, float]:
        """Summed self time (or another per-span field) per span name."""
        st = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += st[i] if key == "self" else s.get(key, 0)
        return dict(out)

    def subtree_self_sum(self, root_name: str) -> float:
        """Summed self time of the descendants of the last span called
        ``root_name`` (the root's own unattributed time excluded)."""
        roots = [i for i, s in enumerate(self.spans) if s["name"] == root_name]
        if not roots:
            return 0.0
        root = roots[-1]
        st = self.self_times()
        total = 0.0
        for i, s in enumerate(self.spans):
            p = s["parent"]
            while p is not None and p != root:
                p = self.spans[p]["parent"]
            if p == root:
                total += st[i]
        return total

    def attach_event_log(self, per_group: dict[str, dict]) -> None:
        for s in self.spans:
            for k, v in per_group.get(s["group"], {}).items():
                s[k] = v

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Job group -> summed task metrics from an event log directory."""
    out: dict[str, dict] = defaultdict(
        lambda: {"shuffle_bytes": 0, "task_cpu_s": 0.0, "spill_bytes": 0}
    )
    if not os.path.isdir(log_dir):
        return {}
    for name in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}  # stage ids restart per application
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    acc = out[group]
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(out)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional resident set size: pages shared between processes (the
    Python worker daemon and the workers it forks) are split among them,
    so a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process tree, sampled every
    ``interval`` s."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_resident_bytes(p) for p in _descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
