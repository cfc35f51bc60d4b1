"""Span recorder and Spark event-log attribution for the traced run.

Spans are kept in memory (epoch-second start/end, parent link) and written
out at exit.  After ``spark.stop()`` the event log is parsed and every job,
stage and task is attributed to the innermost span:

* a job whose ``spark.job.description`` names a span that holds its
  submission goes to that span's subtree (the innermost descendant whose
  window holds the submission);
* a job without a description (jobs started from the catalog's writer
  threads, which do not inherit the driver thread's local properties) goes
  to the innermost catalog span whose window holds its submission, else to
  the innermost non-stage span that holds it (so write-behind jobs never
  land in the next round's stage spans).

SQL plan-node metrics give the Python-worker time of each operator and the
build time of broadcasts; they are summed per accumulator id over task-end
and driver accumulator updates, across every plan version AQE posts.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "AggregateInPandas", "WindowInPandas",
)


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, kind: str, parent: int | None = None) -> int:
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": sid, "name": name, "kind": kind, "parent": parent,
             "t0": time.time(), "t1": None}
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid]["t1"] = time.time()
        if self._stack and self._stack[-1] == sid:
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        sid = self.open(name, kind)
        try:
            yield self.spans[sid]
        finally:
            self.close(sid)

    def add(self, name: str, kind: str, t0: float, t1: float, parent: int) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "kind": kind, "parent": parent,
             "t0": t0, "t1": t1}
        )
        return sid

    def reparent_by_time(self, sid: int, kinds: tuple) -> None:
        """Move spans of ``kinds`` under ``sid``'s parent into the child of
        ``sid``'s parent that holds them in time (stage spans are made after
        the fact from a round's returned ``times``)."""
        s = self.spans[sid]
        for c in self.spans:
            if (c["parent"] == s["parent"] and c["kind"] in kinds
                    and s["t0"] <= c["t0"] <= s["t1"] and c["id"] != sid):
                c["parent"] = sid


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _walk(node: dict, ancestors: tuple = ()):
    yield node, ancestors
    for c in node.get("children", []):
        yield from _walk(c, ancestors + (node,))


def parse(events: list[dict]) -> dict:
    """Jobs, stages and SQL plan nodes out of one application's event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    accum: dict[int, float] = defaultdict(float)
    plans: dict[int, list[dict]] = defaultdict(list)
    exec_t0: dict[int, float] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "id": jid,
                "t0": e["Submission Time"] / 1000.0,
                "t1": None,
                "desc": props.get("spark.job.description"),
                "stages": list(e.get("Stage IDs", [])),
            }
            for st in e.get("Stage IDs", []):
                stage_job.setdefault(st, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault(sid, _new_stage())
            st["t0"] = (info.get("Submission Time") or 0) / 1000.0
            st["t1"] = (info.get("Completion Time") or 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = stages.setdefault(sid, _new_stage())
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if "Update" in a:
                    try:
                        accum[int(a["ID"])] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e.get("accumUpdates", []):
                accum[int(aid)] += float(val)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plans[e["executionId"]].append(e["sparkPlanInfo"])
            if "time" in e:
                exec_t0[e["executionId"]] = e["time"] / 1000.0
    return {"jobs": jobs, "stages": stages, "stage_job": stage_job,
            "accum": accum, "plans": plans, "exec_t0": exec_t0}


def _new_stage() -> dict:
    return {"t0": 0.0, "t1": 0.0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "spill_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0}


def node_metrics(parsed: dict, windows: list[tuple[float, float]]) -> list[dict]:
    """One record per distinct plan node of the SQL executions started inside
    ``windows`` (deduped by accumulator ids): name, simpleString, {metric
    name: summed value}, and the simpleStrings of the scans in its sibling
    subtrees (for broadcast attribution)."""
    seen: set = set()
    out = []
    for eid, versions in parsed["plans"].items():
        t = parsed["exec_t0"].get(eid)
        if t is None or not any(a <= t <= b for a, b in windows):
            continue
        for root in versions:
            for node, ancestors in _walk(root):
                ids = tuple(m["accumulatorId"] for m in node.get("metrics", []))
                if not ids or ids in seen:
                    continue
                seen.add(ids)
                vals = {m["name"]: parsed["accum"].get(m["accumulatorId"], 0.0)
                        for m in node.get("metrics", [])}
                # siblings at the nearest branching ancestor (codegen wraps
                # a join's inputs in InputAdapter/QueryStage nodes)
                sib_scans, below = [], node
                for anc in reversed(ancestors):
                    kids = anc.get("children", [])
                    if len(kids) > 1:
                        sib_scans = [n.get("simpleString", "")
                                     for sib in kids if sib is not below
                                     for n, _ in _walk(sib)
                                     if n["nodeName"].startswith("Scan")]
                        break
                    below = anc
                out.append({"node": node["nodeName"],
                            "desc": node.get("simpleString", ""),
                            "metrics": vals, "sibling_scans": sib_scans})
    return out


def attribute(rec: Recorder, parsed: dict) -> dict[int, list[int]]:
    """span id -> ids of the jobs attributed to it (innermost span)."""
    spans = [s for s in rec.spans if s["t1"] is not None]
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, rec.spans[p]["parent"]
        depth[s["id"]] = d
    def within(s, sid):  # is span s inside span sid's subtree?
        while s is not None:
            if s["id"] == sid:
                return True
            s = rec.spans[s["parent"]] if s["parent"] is not None else None
        return False

    out: dict[int, list[int]] = defaultdict(list)
    for jid, j in parsed["jobs"].items():
        ts = j["t0"]
        holders = [s for s in spans if s["t0"] <= ts <= s["t1"]]
        named = [s for s in holders if j["desc"] and s["name"] == j["desc"]]
        if named:
            anchor = max(named, key=lambda s: depth[s["id"]])
            holders = [s for s in holders if within(s, anchor["id"])]
        else:
            cat = [s for s in holders if s["kind"] == "catalog"]
            holders = cat or [s for s in holders if s["kind"] != "stage"]
        if not holders:
            continue
        best = max(holders, key=lambda s: (depth[s["id"]], s["t0"]))
        out[best["id"]].append(jid)
    return out


def span_report(rec: Recorder, parsed: dict, jobs_of: dict[int, list[int]]) -> list[dict]:
    """Per span: wall, self time, and Spark totals over its subtree."""
    kids = defaultdict(list)
    for s in rec.spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])

    def subtree(sid):
        yield sid
        for c in kids[sid]:
            yield from subtree(c)

    rows = []
    for s in rec.spans:
        if s["t1"] is None:
            continue
        wall = s["t1"] - s["t0"]
        jids = [j for sid in subtree(s["id"]) for j in jobs_of.get(sid, [])]
        tot = spark_totals(parsed, jids, (s["t0"], s["t1"]))
        child_wall = sum(rec.spans[c]["t1"] - rec.spans[c]["t0"] for c in kids[s["id"]]
                         if rec.spans[c]["t1"] is not None)
        rows.append({"id": s["id"], "parent": s["parent"], "name": s["name"],
                     "kind": s["kind"], "wall_s": round(wall, 4),
                     "self_s": round(max(0.0, wall - child_wall), 4), **tot})
    return rows


def spark_totals(parsed: dict, jids: list[int], window: tuple[float, float]) -> dict:
    stage_ids = {st for j in jids for st in parsed["jobs"][j]["stages"]
                 if st in parsed["stages"] and parsed["stage_job"].get(st) == j}
    sts = [parsed["stages"][i] for i in stage_ids if parsed["stages"][i]["tasks"]]
    a, b = window
    busy = _union_len([(max(a, st["t0"]), min(b, st["t1"])) for st in sts
                       if st["t1"] > a and st["t0"] < b])
    return {
        "jobs": len(jids),
        "stages": len(sts),
        "tasks": sum(st["tasks"] for st in sts),
        "shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in sts),
        "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
        "spill_bytes": sum(st["spill_bytes"] for st in sts),
        "executor_run_s": round(sum(st["run_s"] for st in sts), 4),
        "executor_cpu_s": round(sum(st["cpu_s"] for st in sts), 4),
        "gc_s": round(sum(st["gc_s"] for st in sts), 4),
        "driver_gap_s": round(max(0.0, (b - a) - busy), 4),
    }
