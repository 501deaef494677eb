"""Spans recorded around the benchmark's calls into each layer, and the
fold of a Spark event log into those spans.

A span is ``(id, name, layer, start, end, parent, op)``; times are epoch
milliseconds so they line up with the event log's timestamps. Spans are
kept in memory and written out once, at the end of the run.

Folding attributes every completed stage to one span:

1. by job group: a traced span sets the Spark job group to its id, so
   jobs submitted from the span's own thread carry it;
2. otherwise by time window: jobs submitted from a library thread pool
   (``materialize_warehouse``, the DAG runner, cache-fill waves) do not
   inherit the job group, so the job goes to the innermost span whose
   interval holds the job's submission time.

``callSite.short`` and ``In-memory table <name>`` RDD names ride along
as labels, so a span shows which cache fills ran inside it.
"""

from __future__ import annotations

import contextlib
import gzip
import json
import time
from collections import defaultdict

# Span metrics per layer, as reported by the traced run.
SPAN_METRICS = (
    "exec_run_s",
    "exec_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
    "tasks",
    "failed_tasks",
    "busy_ratio",
    "self_s",
)

_FILL_PREFIX = "In-memory table "
_MB = 1024 * 1024


class Tracer:
    """Records spans; with ``spark`` given, also tags Spark jobs with the
    current span's id as their job group."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time() * 1000.0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._set_group(parent["id"], parent["name"])
            else:
                self._clear_group()

    def _set_group(self, sid: int, name: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(str(sid), name, False)

    def _clear_group(self) -> None:
        if self.spark is not None:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


class NullTracer(Tracer):
    """Tracing off: spans cost one context manager and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        yield None


def _acc(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        name, val = a.get("Name"), a.get("Value")
        if name and name.startswith("internal.metrics."):
            try:
                out[name[len("internal.metrics."):]] = float(val)
            except (TypeError, ValueError):
                pass
    return out


_KEEP_ACC = {
    f"internal.metrics.{m}"
    for m in (
        "executorRunTime", "executorCpuTime", "shuffle.write.bytesWritten",
        "memoryBytesSpilled", "diskBytesSpilled", "input.bytesRead",
    )
}


def trim_event(ev: dict) -> dict | None:
    """The part of one event-log record that ``parse_events`` reads, or
    None for records it ignores; keeps saved logs small."""
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {
            "Event": kind,
            "Job ID": ev["Job ID"],
            "Submission Time": ev.get("Submission Time"),
            "Stage IDs": ev.get("Stage IDs", []),
            "Stage Infos": [
                {"RDD Info": [
                    {"Name": r.get("Name", "")} for r in s.get("RDD Info", [])
                    if r.get("Name", "").startswith(_FILL_PREFIX)
                ]}
                for s in ev.get("Stage Infos", [])
            ],
            "Properties": {
                k: props[k] for k in ("spark.jobGroup.id", "callSite.short") if k in props
            },
        }
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        return {"Event": kind, "Stage Info": {
            "Stage ID": info["Stage ID"],
            "Submission Time": info.get("Submission Time"),
            "Completion Time": info.get("Completion Time"),
            "Number of Tasks": info.get("Number of Tasks", 0),
            "Accumulables": [
                {"Name": a["Name"], "Value": a.get("Value")}
                for a in info.get("Accumulables", []) if a.get("Name") in _KEEP_ACC
            ],
            "RDD Info": [
                {"Name": r.get("Name", "")} for r in info.get("RDD Info", [])
                if r.get("Name", "").startswith(_FILL_PREFIX)
            ],
        }}
    if kind == "SparkListenerTaskEnd":
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if reason != "Success":
            return {"Event": kind, "Stage ID": ev.get("Stage ID"),
                    "Task End Reason": {"Reason": reason}}
    return None


def write_events(events: list[dict], path: str) -> None:
    """Save the trimmed records as gzip JSON lines."""
    with gzip.open(path, "wt") as f:
        for ev in events:
            t = trim_event(ev)
            if t is not None:
                f.write(json.dumps(t) + "\n")


def read_events(path: str) -> list[dict]:
    """One Spark event log (plain or gzip JSON lines)."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        return [json.loads(line) for line in f if line.strip()]


def parse_events(events: list[dict]) -> tuple[dict, dict]:
    """``(jobs, stages)`` from event-log records. A stage belongs to the
    first job that lists it; only completed stages carry metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    failed: dict[int, int] = defaultdict(int)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            rdds = [
                r.get("Name", "")
                for s in ev.get("Stage Infos", [])
                for r in s.get("RDD Info", [])
            ]
            jobs[ev["Job ID"]] = {
                "submit": float(ev.get("Submission Time", 0)),
                "group": props.get("spark.jobGroup.id"),
                "callsite": props.get("callSite.short", ""),
                "stages": list(ev.get("Stage IDs", [])),
                "fill_tables": sorted(
                    {n[len(_FILL_PREFIX):] for n in rdds if n.startswith(_FILL_PREFIX)}
                ),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = _acc(info)
            names = [r.get("Name", "") for r in info.get("RDD Info", [])]
            stages[info["Stage ID"]] = {
                "submit": float(info.get("Submission Time") or 0),
                "complete": float(info.get("Completion Time") or 0),
                "tasks": int(info.get("Number of Tasks", 0)),
                "run_ms": acc.get("executorRunTime", 0.0),
                "cpu_ns": acc.get("executorCpuTime", 0.0),
                "shuffle_write": acc.get("shuffle.write.bytesWritten", 0.0),
                "spill": acc.get("memoryBytesSpilled", 0.0) + acc.get("diskBytesSpilled", 0.0),
                "input_bytes": acc.get("input.bytesRead", 0.0),
                "fill": any(n.startswith(_FILL_PREFIX) for n in names),
            }
        elif kind == "SparkListenerTaskEnd":
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success":
                failed[ev.get("Stage ID", -1)] += 1
    for sid, st in stages.items():
        st["failed_tasks"] = failed.get(sid, 0)
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for sid, st in stages.items():
        st["job"] = owner.get(sid)
    return jobs, stages


def _span_for_job(job: dict, spans: list[dict], by_id: dict[str, dict]) -> dict | None:
    grp = job.get("group")
    if grp is not None and grp in by_id:
        return by_id[grp]
    best = None
    for s in spans:
        if s["start"] <= job["submit"] <= (s["end"] or float("inf")):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def fold(spans: list[dict], jobs: dict, stages: dict, cores: int) -> list[dict]:
    """Attach stage metrics to spans; returns the spans with ``exec_run_s``,
    ``exec_cpu_s``, ``shuffle_write_mb``, ``spill_mb``, ``input_mb``,
    ``tasks``, ``failed_tasks``, ``fill_stages``, ``fill_tables``,
    ``callsites``, ``busy_ratio``, ``wall_s``, ``self_s`` and ``fill_s``
    (wall time covered by cache-fill stages) added."""
    by_id = {str(s["id"]): s for s in spans}
    for s in spans:
        s.update(
            exec_run_s=0.0, exec_cpu_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
            input_mb=0.0, tasks=0, failed_tasks=0, fill_stages=0,
            fill_tables=[], callsites=[], fill_s=0.0,
        )
    fill_windows: dict[int, list[tuple[float, float]]] = defaultdict(list)
    job_span = {jid: _span_for_job(j, spans, by_id) for jid, j in jobs.items()}
    for jid, sp in job_span.items():
        if sp is None:
            continue
        j = jobs[jid]
        sp["fill_tables"] = sorted(set(sp["fill_tables"]) | set(j["fill_tables"]))
        if j["callsite"] and j["callsite"] not in sp["callsites"]:
            sp["callsites"].append(j["callsite"])
    for st in stages.values():
        sp = job_span.get(st["job"])
        if sp is None:
            continue
        sp["exec_run_s"] += st["run_ms"] / 1000.0
        sp["exec_cpu_s"] += st["cpu_ns"] / 1e9
        sp["shuffle_write_mb"] += st["shuffle_write"] / _MB
        sp["spill_mb"] += st["spill"] / _MB
        sp["input_mb"] += st["input_bytes"] / _MB
        sp["tasks"] += st["tasks"]
        sp["failed_tasks"] += st["failed_tasks"]
        if st["fill"]:
            sp["fill_stages"] += 1
            fill_windows[sp["id"]].append((st["submit"], st["complete"]))
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    for s in spans:
        s["wall_s"] = (s["end"] - s["start"]) / 1000.0
        s["self_s"] = s["wall_s"] - covered(
            [(c["start"], c["end"]) for c in children[s["id"]]], s["start"], s["end"]
        ) / 1000.0
        s["fill_s"] = covered(fill_windows[s["id"]], s["start"], s["end"]) / 1000.0
        s["busy_ratio"] = s["exec_run_s"] / (s["wall_s"] * cores) if s["wall_s"] > 0 else 0.0
    return spans


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_table(spans: list[dict], layers: tuple[str, ...], cores: int) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in ``layers``: sums over the
    layer's spans, with ``busy_ratio`` taken over their summed wall."""
    out: dict[str, float] = {}
    for layer in layers:
        mine = [s for s in spans if s["layer"] == layer]
        wall = sum(s["wall_s"] for s in mine)
        for m in SPAN_METRICS:
            if m == "busy_ratio":
                run = sum(s["exec_run_s"] for s in mine)
                out[f"{layer}.{m}"] = run / (wall * cores) if wall > 0 else 0.0
            else:
                out[f"{layer}.{m}"] = float(sum(s[m] for s in mine))
    return out
