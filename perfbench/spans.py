"""Per-layer tracing from outside the program.

Spans are recorded around the benchmark's own calls into each module.
Every span sets a Spark job group ``<phase>:<layer>`` so the jobs it
launches can be found again in Spark's event log, and counts the py4j
round-trips the driver makes inside it. Spans stay in memory; the event
log is parsed once, after the session has stopped and flushed it.

Stats per layer (the names in BENCHMARK.json):

- ``exec_s``: summed wall time of the layer's Spark jobs (job submit to
  job end, from the event log);
- ``build_s``: the layer's span self time (child spans excluded) minus
  ``exec_s`` -- driver-side plan construction, analysis, py4j and job
  launch;
- ``py4j_calls``: py4j commands sent inside the layer's spans (self);
- ``jobs``, ``tasks``, ``failed_tasks``;
- ``task_busy_s``: summed executor run time of the layer's tasks;
- ``task_wait_s``: summed scheduler delay plus shuffle fetch wait;
- ``shuffle_bytes``: shuffle bytes written; ``spill_bytes``: bytes
  spilled to disk;
- ``rows_out``: rows in the layer's output, counted outside the spans.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"

STATS = (
    "build_s", "exec_s", "py4j_calls", "jobs", "tasks", "task_busy_s",
    "task_wait_s", "shuffle_bytes", "spill_bytes", "failed_tasks", "rows_out",
)


class Tracer:
    """Spans and counters for one traced run of one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.rows: dict[str, int] = defaultdict(int)
        self._stack: list[dict] = []
        self._py4j = 0
        client = self.sc._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counting_send(*args, **kwargs):
            self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    @contextmanager
    def span(self, phase: str, layer: str):
        """Time a call into ``layer``; jobs it launches join its group."""
        parent = self._stack[-1] if self._stack else None
        outer0 = self._py4j  # the group bookkeeping is the parent's cost
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setJobGroup(f"{phase}:{layer}", layer)
        rec = {"phase": phase, "layer": layer, "child_s": 0.0, "child_py4j": 0}
        self._stack.append(rec)
        calls0, t0 = self._py4j, time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["py4j"] = self._py4j - calls0
            self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty(GROUP_KEY, None)
            else:
                self.sc.setJobGroup(prev, prev.split(":", 1)[-1])
            if parent is not None:
                parent["child_s"] += rec["wall_s"]
                parent["child_py4j"] += self._py4j - outer0
            self.spans.append(rec)

    def wrap(self, module, name: str, phase: str, layer: str) -> None:
        """Route calls to ``module.name`` through a span. Used where the
        program calls a layer internally (the optimizer's children)."""
        fn = getattr(module, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(phase, layer):
                return fn(*args, **kwargs)

        setattr(module, name, traced)

    def layer_stats(self, event_log_dir: str, app_id: str, iterations: int) -> dict:
        """``{layer: {stat: value}}`` per traced iteration, from the spans
        of each layer's own phase plus the event log of ``app_id``."""
        jobs = parse_event_log(event_log_dir, app_id)
        out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STATS, 0))
        for rec in self.spans:
            s = out[(rec["phase"], rec["layer"])]
            s["self_s"] = s.get("self_s", 0.0) + rec["wall_s"] - rec["child_s"]
            s["py4j_calls"] += rec["py4j"] - rec["child_py4j"]
        for (phase, layer), s in list(out.items()):
            j = jobs.get(f"{phase}:{layer}", {})
            for k in ("jobs", "tasks", "task_busy_s", "task_wait_s",
                      "shuffle_bytes", "spill_bytes", "failed_tasks", "exec_s"):
                s[k] = j.get(k, 0)
            s["build_s"] = max(s.pop("self_s") - s["exec_s"], 0.0)
            s["rows_out"] = self.rows.get(layer, 0)
        n = max(iterations, 1)
        return {
            key: {k: v / n for k, v in s.items()} for key, s in out.items()
        }


def parse_event_log(event_log_dir: str, app_id: str) -> dict:
    """Job-group totals from one application's Spark event log."""
    paths = [p for p in glob.glob(os.path.join(event_log_dir, "*")) if app_id in p]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {event_log_dir}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    totals: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                if group:
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if group:
                    t = totals[group]
                    t["jobs"] += 1
                    t["exec_s"] += (
                        ev["Completion Time"] - job_start[ev["Job ID"]]
                    ) / 1000
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group:
                    _add_task(totals[group], ev)
    return {g: dict(t) for g, t in totals.items()}


def _add_task(t: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    t["tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") not in (
        None, "Success"
    ):
        t["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    got = info.get("Getting Result Time", 0)
    fetch_ms = (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
    delay_ms = max(
        duration - run_ms - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - (info.get("Finish Time", 0) - got if got else 0),
        0,
    )
    t["task_busy_s"] += run_ms / 1000
    t["task_wait_s"] += (delay_ms + fetch_ms) / 1000
    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
