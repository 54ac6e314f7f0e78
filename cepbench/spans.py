"""Traced-run support: spans recorded around the calls into each layer, the
Spark event log parsed per op job group, and per-layer metrics derived from
both.

Spans stay in memory and are written when the run ends. Each span has an
id, a parent, the op it belongs to, a name, and start/end in epoch seconds
(the event log's clock), so job and stage spans from the log nest under
the action span that waited for them.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager

# Spark 4.1's Python SQL metrics (PythonSQLMetrics) that are per-task work.
# Its "time to start Python workers" and "time to initialize Python
# workers" are left out: a reused worker stamps its boot time when it
# finishes the previous task and then blocks waiting for the next one, so
# the first is negative (and dropped) and the second includes that idle
# wait, often across ops.
PYTHON_ACCUMS = {
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_PY_NODE = re.compile(r"(Python|InPandas|InArrow)")


class Tracer:
    """In-memory span recorder. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "parent": parent, "op": op, "name": name,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.time()

    def add(self, name: str, op: str, parent: int, start: float, end: float) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "op": op, "name": name,
                           "start": start, "end": end})
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def plan_stats(plan_text: str) -> dict:
    """Exchange and Python-worker node counts of a physical plan string."""
    nodes = [ln.strip(" +-:*") for ln in plan_text.splitlines()]
    return {
        "catalyst.exchanges": sum("Exchange" in n.split(" ")[0] for n in nodes if n),
        "catalyst.python_nodes": sum(
            bool(_PY_NODE.search(n.split(" ")[0])) for n in nodes if n
        ),
    }


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their group and stages) and per-stage task sums from the
    single uncompressed event log file in `log_dir`."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "start": e["Submission Time"] / 1000, "end": None,
                             "stages": []}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                st = stages.setdefault(sid, _new_stage())
                st["start"] = info.get("Submission Time", 0) / 1000
                st["end"] = info.get("Completion Time", 0) / 1000
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(e["Stage ID"], _new_stage()), e)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and st["start"] is not None:
            jobs[jid]["stages"].append(sid)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    d = {k: 0.0 for k in (
        "sched.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "sched.delay_ms",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
        "exec.peak_mem_bytes", *PYTHON_ACCUMS.values())}
    d["start"] = d["end"] = None
    return d


def _add_task(st: dict, e: dict) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    ser = m.get("Result Serialization Time", 0)
    fetch = (info["Finish Time"] - info["Getting Result Time"]
             if info.get("Getting Result Time") else 0)
    duration = info["Finish Time"] - info["Launch Time"]
    st["sched.tasks"] += 1
    st["exec.run_ms"] += run
    st["exec.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    st["exec.gc_ms"] += m.get("JVM GC Time", 0)
    # the Spark UI's scheduler delay, plus the deserialize and
    # result-serialize time it leaves out
    st["sched.delay_ms"] += max(0, duration - run - deser - ser - fetch) + deser + ser
    sr = m.get("Shuffle Read Metrics") or {}
    st["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    st["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["exec.peak_mem_bytes"] = max(st["exec.peak_mem_bytes"], m.get("Peak Execution Memory", 0))
    # Python worker SQL metrics, as this task's accumulator updates
    for a in info.get("Accumulables", []):
        key = PYTHON_ACCUMS.get(a.get("Name"))
        if key:
            st[key] += float(a.get("Update", 0))


def op_layers(log: dict, group: str, action: tuple[float, float], cores: int) -> dict:
    """Scheduling, JVM-execution and Python-worker metrics of one op's job
    group; `action` is the (start, end) of the op's forced action."""
    jobs = [j for j in log["jobs"].values() if j["group"] == group and j["end"]]
    out = {k: 0.0 for k in _new_stage() if k not in ("start", "end")}
    out["sched.jobs"] = len(jobs)
    out["sched.stages"] = 0
    for j in jobs:
        for sid in j["stages"]:
            st = log["stages"][sid]
            out["sched.stages"] += 1
            for k in out:
                if k in st and k != "exec.peak_mem_bytes":
                    out[k] += st[k]
            out["exec.peak_mem_bytes"] = max(out["exec.peak_mem_bytes"], st["exec.peak_mem_bytes"])
    a0, a1 = action
    covered = _covered([(max(j["start"], a0), min(j["end"], a1))
                         for j in jobs if j["end"] > a0 and j["start"] < a1])
    wall = max(a1 - a0, 1e-9)
    out["driver.gap_ms"] = max(0.0, wall - covered) * 1000
    out["exec.core_util"] = out["exec.run_ms"] / 1000 / (cores * wall)
    return out


def attach_job_spans(tracer: Tracer, log: dict, group: str, op: str,
                     parents: list[dict]) -> None:
    """Add the group's job and stage spans, each job under the span in
    `parents` (build, plan, action) during which it was submitted."""
    for jid, j in sorted(log["jobs"].items()):
        if j["group"] != group or not j["end"]:
            continue
        parent = next((p for p in parents if p["start"] <= j["start"] <= p["end"]),
                      parents[-1])
        js = tracer.add(f"job {jid}", op, parent["id"], j["start"], j["end"])
        for sid in j["stages"]:
            st = log["stages"][sid]
            tracer.add(f"stage {sid}", op, js, st["start"], st["end"])


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name kind, in ms: a span's duration minus the part
    of it its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _covered([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                             for c in kids.get(s["id"], []) if c["end"] > s["start"]])
        kind = s["name"].split(" ")[0]
        out[kind] = out.get(kind, 0.0) + max(0.0, s["end"] - s["start"] - covered) * 1000
    return out
