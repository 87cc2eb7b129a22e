"""In-memory spans around calls into geeflow_spark layers, plus Spark
task-metric attribution from the event log.

A span is (name, start, end, parent, run id). While a span is open its id
is the Spark job group, so every job the wrapped call triggers can be
matched to the span from the event log after the session stops. Spans
stay in memory and are written out once, when the traced run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# Task-metric fields summed per span: (output key, getter on TaskEnd
# "Task Metrics", scale to the reported unit).
_TASK_FIELDS = (
    ("executor_run_s", lambda m: m.get("Executor Run Time", 0), 1e-3),
    ("executor_cpu_s", lambda m: m.get("Executor CPU Time", 0), 1e-9),
    ("gc_s", lambda m: m.get("JVM GC Time", 0), 1e-3),
    ("input_bytes", lambda m: m.get("Input Metrics", {})
     .get("Bytes Read", 0), 1),
    ("shuffle_read_bytes", lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)), 1),
    ("fetch_wait_s", lambda m: m.get("Shuffle Read Metrics", {})
     .get("Fetch Wait Time", 0), 1e-3),
    ("shuffle_write_bytes", lambda m: m.get("Shuffle Write Metrics", {})
     .get("Shuffle Bytes Written", 0), 1),
    ("spill_bytes", lambda m: (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0)), 1),
)
TASK_KEYS = tuple(k for k, _, _ in _TASK_FIELDS) + (
    "failed_tasks", "jobs", "input_stages")


class Tracer:
    """Span recorder. `span(name)` is a context manager; nesting sets the
    parent. `sc` (a SparkContext) is optional: without it no job group is
    set and no task metrics can be attributed."""

    def __init__(self, run_id: str = "run0"):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "group": f"span-{self.run_id}-{sid}", **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == rec["id"] and c["run"] == rec["run"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, rec["start"]), min(e, rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(rec) - covered

    def find(self, name: str, run: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (run is None or s["run"] == run)]

    def attribute(self, task_metrics: dict[str, dict]) -> None:
        """Attach per-group task metrics (see `read_event_log`) to spans:
        `own` for jobs run while the span was innermost, `total` for the
        span and all its descendants."""
        for s in self.spans:
            s["own"] = dict(task_metrics.get(s["group"], {}))
        for s in reversed(self.spans):  # children have larger ids
            tot = {k: s["own"].get(k, 0) for k in TASK_KEYS}
            for c in self.spans:
                if c["parent"] == s["id"] and c["run"] == s["run"]:
                    for k in TASK_KEYS:
                        tot[k] += c["total"][k]
            s["total"] = tot

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


def read_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """{job group: summed task metrics} from a finished, uncompressed
    Spark event log. Stages are attributed to the first job that lists
    them (later jobs reusing a stage skip it)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*"))
             if not p.endswith(".inprogress")]
    if not paths:
        raise RuntimeError(f"no finished event log for {app_id} in {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g):
        return out.setdefault(g, {k: 0 for k in TASK_KEYS})

    input_stages: set[int] = set()
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                bucket(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                b = bucket(g)
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    b["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                for key, get, scale in _TASK_FIELDS:
                    b[key] += get(m) * scale
                sid = ev.get("Stage ID")
                if (m.get("Input Metrics", {}).get("Bytes Read", 0) > 0
                        and sid not in input_stages):
                    input_stages.add(sid)
                    b["input_stages"] += 1
    return out
