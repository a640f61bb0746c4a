"""Spans around calls into the engine's layers, and the Spark event-log fold
that turns a traced run into per-layer metrics.

Each span has an id, name, parent, request id, start and end (epoch
seconds). While a span is open its id is the Spark job group, so every job
the engine launches inside it carries the span id. Jobs whose group is not a
span id (a streaming query sets its own run id as the group) fall back to
the innermost span open when the job was submitted. A job whose
``callSite.short`` names a file of the engine package is refined to that
module. Jobs without a Python frame keep the span's layer, except
``DataFrameWriter`` saves (the catalog's level commits), which count as
``sources.catalog``; the span's totals still include every job.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager

PKG = "pyramidscheme_jl_spark"
PY_WORKER_TIME = "time to run Python workers"
#: plan node of a ``DataFrameWriter`` save: the catalog's level commits
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


class Tracer:
    """In-memory span recorder; a no-op when tracing is off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, set once the session exists
        self._stack: list[dict] = []
        self._requests = 0

    @contextmanager
    def span(self, name: str, timed: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._requests += 1
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else f"req-{self._requests}",
            "timed": timed or bool(parent and parent["timed"]),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the application logs under ``log_dir``. Handles plain
    and zstd files, single-file and rolling (``eventlog_v2_*``) layouts."""
    import pyarrow as pa

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]

    def order(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    events = []
    for p in sorted(files, key=order):
        with open(p, "rb") as f:
            buf = f.read()
        if p.endswith(".zstd"):
            buf = pa.input_stream(pa.py_buffer(buf), compression="zstd").read()
        elif p.endswith((".lz4", ".snappy", ".lzf")):
            raise ValueError(f"unsupported event-log codec: {p}")
        events.extend(json.loads(line) for line in buf.decode().splitlines() if line.strip())
    return events


def _plan_walk(node: dict, metric_names: dict, node_names: set) -> None:
    node_names.add(node["nodeName"])
    for m in node.get("metrics", []):
        metric_names[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _plan_walk(c, metric_names, node_names)


def _module_of(callsite: str | None) -> str | None:
    """``collect at /x/pyramidscheme_jl_spark/sources/catalog.py:263`` ->
    ``sources.catalog``; None for frames outside the engine package."""
    if not callsite:
        return None
    m = re.search(PKG + r"/([\w/]+)\.py:\d+", callsite)
    return m.group(1).replace("/", ".") if m else None


def jobs_from_events(events: list[dict]) -> list[dict]:
    """One record per Spark job with its task metrics summed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc_names: dict[int, tuple[str, str]] = {}
    plan_nodes: dict[str, set] = {}  # SQL execution id -> node names
    for e in events:
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_walk(e["sparkPlanInfo"], acc_names, plan_nodes.setdefault(str(e["executionId"]), set()))
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "id": jid,
                "group": props.get("spark.jobGroup.id"),
                "callsite": props.get("callSite.short"),
                "sql_id": props.get("spark.sql.execution.id"),
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
                "output_b": 0, "input_records": 0, "py_worker_s": 0.0,
                "rows_by_node": {},
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            tm = e.get("Task Metrics")
            if j is None or not tm:
                continue
            j["tasks"] += 1
            j["run_s"] += tm["Executor Run Time"] / 1e3
            j["cpu_s"] += tm["Executor CPU Time"] / 1e9
            j["gc_s"] += tm["JVM GC Time"] / 1e3
            j["shuffle_write_b"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            sr = tm["Shuffle Read Metrics"]
            j["shuffle_read_b"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            j["spill_b"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            j["output_b"] += tm["Output Metrics"]["Bytes Written"]
            j["input_records"] += tm["Input Metrics"]["Records Read"]
            for a in e["Task Info"].get("Accumulables", []):
                upd = a.get("Update")
                if upd is None:
                    continue
                if a.get("Name") == PY_WORKER_TIME:
                    j["py_worker_s"] += float(upd) / 1e3
                node = acc_names.get(a["ID"])
                if node and node[1] == "number of output rows":
                    j["rows_by_node"][node[0]] = j["rows_by_node"].get(node[0], 0) + int(upd)
    for j in jobs.values():
        j["writes_files"] = WRITE_NODE in plan_nodes.get(j.pop("sql_id"), ())
    return sorted(jobs.values(), key=lambda j: j["id"])


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs: list[dict], spans: list[dict], slack: float = 0.005) -> list[dict]:
    """Set ``job["span"]`` (span id or None) and ``job["layer"]``: the engine
    module of the job's call site, else ``sources.catalog`` for a job that
    writes files through a ``DataFrameWriter`` save, else the span's name."""
    by_id = {s["id"]: s for s in spans}
    for j in jobs:
        s = by_id.get(j["group"])
        if s is None:
            open_spans = [s for s in spans
                          if s["start"] - slack <= j["submit"] <= (s["end"] or float("inf")) + slack]
            s = max(open_spans, key=lambda s: s["start"]) if open_spans else None
        j["span"] = s["id"] if s else None
        j["layer"] = _module_of(j["callsite"]) or ("sources.catalog" if j["writes_files"] else None) \
            or (s["name"] if s else None)
    return jobs


def fold_spans(jobs: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Per span: wall, jobs, job-interval union (clipped to the span),
    driver time (wall minus that union) and summed task metrics. A span's
    jobs include those of its descendants."""
    children: dict[str, list[str]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s["id"])
    direct: dict[str, list[dict]] = {}
    for j in jobs:
        if j["span"]:
            direct.setdefault(j["span"], []).append(j)

    def subtree_jobs(sid):
        out = list(direct.get(sid, []))
        for c in children.get(sid, []):
            out.extend(subtree_jobs(c))
        return out

    folded = {}
    for s in spans:
        js = subtree_jobs(s["id"])
        wall = s["end"] - s["start"]
        ivs = [(max(j["submit"], s["start"]), min(j["end"] or s["end"], s["end"])) for j in js]
        ivs = [(a, b) for a, b in ivs if b > a]
        union = _union(ivs)
        rec = {"name": s["name"], "timed": s["timed"], "wall_s": wall, "jobs": len(js),
               "job_union_s": union, "driver_s": wall - union,
               "unclipped_union_s": _union([(j["submit"], j["end"] or j["submit"]) for j in js])}
        for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_b", "shuffle_read_b",
                  "spill_b", "output_b", "input_records", "py_worker_s"):
            rec[k] = sum(j[k] for j in js)
        rows: dict[str, int] = {}
        for j in js:
            for n, v in j["rows_by_node"].items():
                rows[n] = rows.get(n, 0) + v
        rec["rows_by_node"] = rows
        folded[s["id"]] = rec
    return folded
