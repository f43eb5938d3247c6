"""Tracing harness for the traced benchmark run.

Everything here sits OUTSIDE the library: spans are recorded around the
benchmark's own calls into public layer functions, table commits are
seen through a storage wrapper, and Spark's stage/task counters come
from the event log the traced session writes.

- :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory and tags every Spark job started inside a span with a job group
  naming that span, so stage metrics can be attached to it afterwards.
- :class:`RecordingStorage` wraps a storage object (the one passed to
  ``run_pipeline(storage=...)`` / ``run_document_pipeline(storage=...)``)
  and turns every table commit into a span plus a bytes-written count.
- :func:`parse_event_log` reads the event log into per-job-group
  counters, and :func:`spark_counters` rolls them into the ``spark.*``
  per-layer metrics.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if it is missing)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    sets no job group, so untraced code paths pay one branch per call."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": span_id, "name": name, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(span_id)
        self.sc.setJobGroup(self.group_id(span_id), name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group_id(self._stack[-1]), self.spans[self._stack[-1]]["name"])
            else:
                self.sc._jsc.clearJobGroup()  # noqa: SLF001 — no Python wrapper

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def busy_s(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def n_spans(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def descendants(self, names: set[str]) -> dict[int, str]:
        """span id -> name of its nearest ancestor (or itself) in ``names``."""
        owner: dict[int, str] = {}
        for s in self.spans:  # parents are recorded before their children
            if s["name"] in names:
                owner[s["id"]] = s["name"]
            elif s["parent"] is not None and s["parent"] in owner:
                owner[s["id"]] = owner[s["parent"]]
        return owner

    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class RecordingStorage:
    """Storage wrapper: each ``append``/``replace`` commit becomes a
    ``sources.catalog.append.<table>`` span and adds the committed
    snapshot's on-disk bytes to ``sources.catalog.bytes_written``.
    Every other attribute passes through to the wrapped storage."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _commit(self, method: str, df, table: str, **kw) -> str:
        with self._tracer.span(f"sources.catalog.append.{table}"):
            snap = getattr(self._inner, method)(df, table, **kw)
        path = self._inner.snapshots(table)[-1]["path"]
        self._tracer.count("sources.catalog.bytes_written", dir_bytes(path))
        return snap

    def append(self, df, table: str, **kw) -> str:
        return self._commit("append", df, table, **kw)

    def replace(self, df, table: str, **kw) -> str:
        return self._commit("replace", df, table, **kw)


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in sorted(files) if f.startswith("events_") or f.startswith("local-")]
    return out


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (node name, metric name) over a plan tree."""
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"].strip(), m["name"])
    for c in node.get("children", []):
        _plan_metrics(c, out)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: stage count, min tasks per stage, summed task
    metrics, and SQL node metrics (scan files/rows, Python worker time
    and Arrow bytes). Jobs without a group are filed under ``""``."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_name: dict[int, tuple[str, str]] = {}
    accum_value: dict[int, float] = {}
    accum_exec: dict[int, int] = {}
    min_tasks: dict[str, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = e.get("Properties", {}).get("spark.jobGroup.id") or ""
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    eid = e.get("Properties", {}).get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    names: dict[int, tuple[str, str]] = {}
                    _plan_metrics(e["sparkPlanInfo"], names)
                    accum_name.update(names)
                    if ev.endswith("SQLExecutionStart") and e.get("jobGroupId"):
                        exec_group[e["executionId"]] = e["jobGroupId"]
                    for aid in names:
                        accum_exec.setdefault(aid, e["executionId"])
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, v in e["accumUpdates"]:
                        accum_value[aid] = accum_value.get(aid, 0.0) + v
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"], "")
                    m = e.get("Task Metrics") or {}
                    if not m:
                        continue
                    d = groups[g]
                    d["executor_run_ms"] += m["Executor Run Time"]
                    d["gc_ms"] += m["JVM GC Time"]
                    d["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    d["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    d["shuffle_fetch_wait_ms"] += m["Shuffle Read Metrics"]["Fetch Wait Time"]
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    groups[g]["stages"] += 1
                    n = info["Number of Tasks"]
                    min_tasks[g] = min(min_tasks.get(g, n), n)
                    for a in info.get("Accumulables", []):
                        aid = a["ID"]
                        try:
                            v = float(a["Value"])
                        except (TypeError, ValueError):
                            continue
                        # SQL accumulators are cumulative: keep the final value
                        accum_value[aid] = max(accum_value.get(aid, 0.0), v)
    # SQL node metrics: attribute each accumulator to its execution's group
    for aid, v in accum_value.items():
        if aid not in accum_name:
            continue
        node, metric = accum_name[aid]
        d = groups[exec_group.get(accum_exec[aid], "")]
        if node.startswith("Scan") and metric == "number of files read":
            d["scan_files"] += v
        elif node.startswith("Scan") and metric == "number of output rows":
            d["scan_rows"] += v
        elif node.startswith("Scan") and metric == "scan time":
            d["scan_ms"] += v
        elif metric == "data sent to Python workers":
            d["arrow_bytes_in"] += v
        elif metric == "data returned from Python workers":
            d["arrow_bytes_out"] += v
        elif metric == "time to run Python workers":
            d["python_exec_ms"] += v
    for g, n in min_tasks.items():
        groups[g]["min_tasks"] = n
    return {g: dict(d) for g, d in groups.items()}


def per_span(tracer: Tracer, groups: dict[str, dict], names: set[str]) -> dict[str, dict]:
    """Sum event-log counters over every span (and its descendants) whose
    nearest listed ancestor is in ``names``; keyed by that name."""
    owner = tracer.descendants(names)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sid, name in owner.items():
        d = groups.get(tracer.group_id(sid))
        if not d:
            continue
        for k, v in d.items():
            if k == "min_tasks":
                cur = out[name].get(k)
                out[name][k] = v if cur is None else min(cur, v)
            else:
                out[name][k] += v
    return out


def spark_counters(tracer: Tracer, groups: dict[str, dict], roots: list[dict], nproc: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics over the jobs of ``roots`` and
    their descendant spans; byte and time counts are per root span."""
    tot: dict[str, float] = defaultdict(float)
    tasks = []
    for d in per_span(tracer, groups, {s["name"] for s in roots}).values():
        for k, v in d.items():
            if k == "min_tasks":
                tasks.append(v)
            else:
                tot[k] += v
    n = max(len(roots), 1)
    wall = sum(s["end"] - s["start"] for s in roots)
    return {
        "spark.tasks_per_stage_min": float(min(tasks)) if tasks else 0.0,
        "spark.executor_cpu_util": tot["executor_run_ms"] / 1e3 / (wall * nproc) if wall else 0.0,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.shuffle_fetch_wait_ms": tot["shuffle_fetch_wait_ms"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.gc_ms": tot["gc_ms"] / n,
        "spark.arrow_bytes_in": tot["arrow_bytes_in"] / n,
        "spark.arrow_bytes_out": tot["arrow_bytes_out"] / n,
        "spark.python_exec_ms": tot["python_exec_ms"] / n,
    }
