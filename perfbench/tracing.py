"""Traced-run instrumentation.

Three sources feed the per-layer metrics:

- spans recorded in memory by wrapping public engine functions
  (op -> engine call -> action), written out at the end of a run;
- the Spark event log (plain JSON lines), attributed to ops through
  the job group each op sets;
- a ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder. Wrapped calls nest through a
    thread-local stack; a span's self time is its duration minus the
    part covered by its children. Nothing is recorded while
    ``enabled`` is off (set-up, warm-up, the untraced run)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple] = []
        self.enabled = False

    def _stack(self):
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._stack()
                parent = stack[-1] if stack else None
                self.rec = {
                    "id": len(tracer.spans), "name": name, "layer": layer,
                    "parent": parent["id"] if parent else None,
                    "op": op or (parent["op"] if parent else None),
                    "t0": time.time(), "t1": None, "children_s": 0.0,
                }
                tracer.spans.append(self.rec)
                stack.append(self.rec)
                return self.rec

            def __exit__(self, *exc):
                stack = tracer._stack()
                stack.pop()
                self.rec["t1"] = time.time()
                if stack:
                    stack[-1]["children_s"] += self.rec["t1"] - self.rec["t0"]
                return False

        return _Span()

    def wrap(self, owner, attr: str, layer: str, name: str | None = None):
        """Replace ``owner.attr`` with a span-recording wrapper while
        tracing is on; always installed so traced and untraced runs call
        through the same indirection."""
        real = getattr(owner, attr)
        label = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(real)
        def wrapper(*args, **kwargs):
            with tracer.span(label, layer):
                return real(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, real))

    def restore(self):
        for owner, attr, real in reversed(self._patched):
            setattr(owner, attr, real)
        self._patched.clear()

    def total(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == name and s["t1"])

    def self_time_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["t1"]:
                out[s["layer"]] += max(0.0, s["t1"] - s["t0"] - s["children_s"])
        return dict(out)


# ------------------------------------------------------------ event log

_PY_METRICS = {
    "time to start Python workers": "py.boot_s",
    "time to initialize Python workers": "py.init_s",
    "time to run Python workers": "py.run_s",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_received",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _walk_plan(info: dict, out: dict):
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"], m.get("metricType", "sum"))
    for child in info.get("children", []):
        _walk_plan(child, out)


def read_event_log(log_dir: str) -> dict:
    """Parse the (single, uncompressed) event log under ``log_dir`` into
    per-job and per-execution records."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    path = max(files, key=os.path.getmtime)
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    acc_meta: dict[int, tuple] = {}
    exec_acc: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    exec_of_stage: dict[int, int] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                ex = props.get("spark.sql.execution.id")
                jobs[jid] = {
                    "start": e["Submission Time"] / 1000.0, "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "exec": int(ex) if ex is not None else None,
                    "stages": list(e.get("Stage IDs", [])),
                }
                if ex is not None:
                    for sid in e.get("Stage IDs", []):
                        exec_of_stage[sid] = int(ex)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = si
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
                sid = e["Stage ID"]
                ex = exec_of_stage.get(sid)
                if ex is not None:
                    for a in e["Task Info"].get("Accumulables", []):
                        if a.get("ID") in acc_meta and "Update" in a:
                            try:
                                exec_acc[ex][a["ID"]] += float(a["Update"])
                            except (TypeError, ValueError):
                                pass
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(e.get("sparkPlanInfo", {}), acc_meta)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                ex = e.get("executionId")
                for acc_id, value in e.get("accumUpdates", []):
                    exec_acc[ex][acc_id] += float(value)
    return {
        "jobs": jobs, "stages": stages, "tasks": tasks,
        "acc_meta": acc_meta, "exec_acc": exec_acc,
    }


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def exec_metrics(log: dict, ops: list[dict], passes: int) -> dict:
    """Event-log metrics for the timed ops (``ops`` carry ``group``,
    ``t0``, ``t1``, ``kind``). Totals are reported per pass."""
    groups = {op["group"]: op for op in ops}
    jobs_by_group: dict[str, list] = defaultdict(list)
    timed_jobs = set()
    t_lo = min(op["t0"] for op in ops)
    t_hi = max(op["t1"] for op in ops)
    untagged = 0
    for jid, j in log["jobs"].items():
        if j["group"] in groups:
            jobs_by_group[j["group"]].append(jid)
            timed_jobs.add(jid)
        elif t_lo <= j["start"] <= t_hi:
            timed_jobs.add(jid)
            untagged += 1
    out = defaultdict(float)
    stage_ids = {s for jid in timed_jobs for s in log["jobs"][jid]["stages"]}
    out["exec.jobs"] = len(timed_jobs)
    out["exec.stages"] = sum(1 for (sid, _a) in log["stages"] if sid in stage_ids)
    for t in log["tasks"]:
        if t["Stage ID"] not in stage_ids:
            continue
        m = t.get("Task Metrics") or {}
        out["exec.tasks"] += 1
        out["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    gap = 0.0
    for op in ops:
        ivs = [
            (max(log["jobs"][j]["start"], op["t0"]), min(log["jobs"][j]["end"] or op["t1"], op["t1"]))
            for j in jobs_by_group.get(op["group"], [])
        ]
        gap += (op["t1"] - op["t0"]) - _union_length([iv for iv in ivs if iv[1] > iv[0]])
    out["exec.driver_gap_s"] = gap
    out["exec.untagged_jobs"] = untagged
    # SQL metrics of executions whose jobs belong to timed ops
    execs_by_group: dict[str, set] = defaultdict(set)
    for g, jids in jobs_by_group.items():
        for j in jids:
            if log["jobs"][j]["exec"] is not None:
                execs_by_group[g].add(log["jobs"][j]["exec"])
    files_read, reads = 0.0, 0
    for op in ops:
        ex_ids = execs_by_group.get(op["group"], set())
        op_files = 0.0
        for ex in ex_ids:
            for acc_id, value in log["exec_acc"].get(ex, {}).items():
                node, name, mtype = log["acc_meta"].get(acc_id, ("", "", "sum"))
                if name in _PY_METRICS:
                    out[_PY_METRICS[name]] += value * _UNIT_SCALE.get(mtype, 1.0)
                elif name == "number of output rows" and (
                    "Python" in node or "Pandas" in node or "Arrow" in node
                ):
                    out["py.rows_received"] += value
                elif name == "number of files read":
                    op_files += value
        if op["kind"] == "read" and op.get("storage_read"):
            files_read += op_files
            reads += 1
    out["storage.files_read_per_read"] = files_read / reads if reads else 0.0
    jobs_per_op = len([j for js in jobs_by_group.values() for j in js]) / len(ops)
    per_pass = {k: v / passes for k, v in out.items()
                if k not in ("storage.files_read_per_read",)}
    per_pass["storage.files_read_per_read"] = out["storage.files_read_per_read"]
    per_pass["plan.jobs_per_op"] = jobs_per_op
    for k in _PY_METRICS.values():
        per_pass.setdefault(k, 0.0)
    per_pass.setdefault("py.rows_received", 0.0)
    return per_pass


# ------------------------------------------------------------ streaming


def add_stream_listener(spark, sink: list):
    """Collect every micro-batch progress event into ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "rows": p.numInputRows,
                "duration": dict(p.durationMs or {}),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def stream_metrics(progress: list[dict], passes: int) -> dict:
    batches = [p for p in progress if p["rows"] > 0]
    if not batches:
        return {"stream.batches": 0.0, "stream.batch_p50_s": 0.0,
                "stream.trigger_overhead_s": 0.0, "stream.rows_per_batch": 0.0}
    trig = sorted(p["duration"].get("triggerExecution", 0) / 1e3 for p in batches)
    over = [
        (p["duration"].get("triggerExecution", 0) - p["duration"].get("addBatch", 0)) / 1e3
        for p in batches
    ]
    return {
        "stream.batches": len(batches) / passes,
        "stream.batch_p50_s": trig[len(trig) // 2],
        "stream.trigger_overhead_s": sum(over) / len(over),
        "stream.rows_per_batch": sum(p["rows"] for p in batches) / len(batches),
    }


def write_spans(tracer: Tracer, ops: list[dict], path: str) -> None:
    with open(path, "w") as f:
        json.dump({"ops": ops, "spans": tracer.spans,
                   "self_s_by_layer": tracer.self_time_by_layer()}, f)
