"""Tracing for the benchmark's traced runs.

Spans are recorded by the benchmark's own code around its calls into
the engine's public functions; they stay in memory and are written
once, at the end of the run. Spark's own work comes from the
uncompressed event log of the measured session: jobs, stages, tasks,
shuffle, spill, GC and the SQL metrics of the Python-worker nodes.
Jobs belong to the operation whose job group launched them; jobs
without one of the benchmark's groups (streaming micro-batches run
under the stream's own group) belong to the operation whose span
contains their submission time. One client runs one operation at a
time, so those windows never overlap.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

from stats import covered, self_times

TIMED = ("query", "rotation")  # operation kinds that are timed: not warm-up, not the snapshot


class Tracer:
    """In-memory span recorder. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = self.record(name, time.time(), None, parent, op)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def record(self, name, start, end, parent, op) -> dict:
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": parent, "start": start, "end": end}
        self.spans.append(rec)
        return rec


# --- engine-side counters read at span boundaries ---------------------------

def codegen_counters(spark) -> tuple[int, int]:
    """(classes compiled, compile nanoseconds) since JVM start."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return int(compiles), int(nanos)


def catalyst_phases(df) -> dict[str, float]:
    """Force physical planning, then read the planner's phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        found = phases.get(name)
        out[name] = float(found.get().durationMs()) if found.isDefined() else 0.0
    return out


# --- event log ----------------------------------------------------------------

_PY_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows_received",
}
_PY_NODE_MARKS = ("Python", "Pandas", "InArrow")
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKS):
        for metric in plan.get("metrics", []):
            kind = _PY_METRICS.get(metric.get("name"))
            if kind:
                out[int(metric["accumulatorId"])] = kind
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def parse_event_log(path: str) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    py_acc: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000,
                    "end": None,
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "submit": info.get("Submission Time", 0) / 1000,
                    "end": info.get("Completion Time", 0) / 1000,
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                om = m.get("Output Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "out_bytes": om.get("Bytes Written", 0),
                    "out_rows": om.get("Records Written", 0),
                    "acc": {
                        int(a["ID"]): a.get("Update")
                        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                        if "Update" in a
                    },
                })
            elif kind in _SQL_PLAN_EVENTS:
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "py_acc": py_acc}


# --- attribution ----------------------------------------------------------------

def _jobs_by_op(ops: list[dict], jobs: dict[int, dict]) -> dict[str, list[dict]]:
    ids = {op["id"] for op in ops}
    out: dict[str, list[dict]] = {op["id"]: [] for op in ops}
    for job in jobs.values():
        if job["group"] in ids:
            out[job["group"]].append(job)
            continue
        for op in ops:
            if op["start"] <= job["submit"] <= op["end"]:
                out[op["id"]].append(job)
                break
    return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def op_layers(op: dict, spans: list[dict], jobs: list[dict], log: dict,
              cores: int) -> dict:
    """Per-layer figures of one operation."""
    mine = [s for s in spans if s["op"] == op["id"]]
    by_name: dict[str, list[dict]] = {}
    for s in mine:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    builds = [(s["start"], s["end"]) for s in by_name.get("operators.build", [])]
    job_iv = [(j["submit"], j["end"] or j["submit"]) for j in jobs]
    listed = {sid for j in jobs for sid in j["stages"]}
    ran = [sid for sid in listed if sid in log["stages"]]
    task_rows = [t for sid in ran for t in log["tasks"].get(sid, [])]
    exec_wall = covered((op["start"], op["end"]), job_iv)
    task_run = sum(t["run_s"] for t in task_rows)

    skew = 1.0
    if ran:
        slowest = max(ran, key=lambda s: log["stages"][s]["end"] - log["stages"][s]["submit"])
        runs = [t["run_s"] for t in log["tasks"].get(slowest, [])]
        if runs:
            skew = max(runs) / max(statistics.median(runs), 1e-3)

    py = {"bytes_sent": 0.0, "bytes_received": 0.0, "rows_received": 0.0}
    for t in task_rows:
        for acc_id, upd in t["acc"].items():
            kind = log["py_acc"].get(acc_id)
            if kind:
                py[kind] += _num(upd)

    out = {
        "wall_s": op["end"] - op["start"],
        "operators.build_s": dur("operators.build"),
        "operators.build_jobs": sum(
            1 for j in jobs if any(a <= j["submit"] <= b for a, b in builds)
        ),
        "exec.wall_s": exec_wall,
        "exec.jobs": len(jobs),
        "exec.stages": len(ran),
        "exec.stages_skipped": len(listed) - len(ran),
        "exec.tasks": len(task_rows),
        "exec.task_run_s": task_run,
        "exec.gc_s": sum(t["gc_s"] for t in task_rows),
        "exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in task_rows),
        "exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in task_rows),
        "exec.spill_bytes": sum(t["spill"] for t in task_rows),
        "exec.max_task_skew": skew,
        "exec.core_slots_s": exec_wall * cores,
        "exec.between_jobs_s": sum(
            _fetch_split(s, job_iv)[1] for s in by_name.get("fetch", [])
        ),
        "fetch.arrow_s": sum(_fetch_split(s, job_iv)[2] for s in by_name.get("fetch", [])),
        "out_rows": sum(t["out_rows"] for t in task_rows),
        "out_bytes": sum(t["out_bytes"] for t in task_rows),
        "cdc.apply_s": dur("cdc.apply"),
        "cdc.drain_s": dur("cdc.drain"),
        "cdc.final_read_s": dur("cdc.final_read"),
        **{f"pyworker.{k}": v for k, v in py.items()},
    }
    out.update(_accounting(op, mine, job_iv))
    return out


_SPAN_LAYER = {"operators.build": "build", "catalyst": "catalyst", "cdc.apply": "cdc.apply"}


def _fetch_split(span: dict, job_iv) -> tuple[float, float, float]:
    """Split a fetch span into (time some job ran, driver time before
    and between jobs, time after the last job ended)."""
    ends = [e for (_b, e) in job_iv if span["start"] <= e <= span["end"]]
    tail = span["end"] - (max(ends) if ends else span["start"])
    in_jobs = covered((span["start"], span["end"]), job_iv)
    return in_jobs, span["end"] - span["start"] - in_jobs - tail, tail


def _accounting(op: dict, spans: list[dict], job_iv) -> dict:
    """Split the operation's wall time into layer self times.

    Build and forced planning are spans. Inside each fetch span, the
    part covered by Spark jobs is execution, the driver's time before
    and between jobs (AQE re-planning, broadcasts, job submission) is
    ``between_jobs`` and what follows the last job is the Arrow fetch.
    Whatever no layer covers is ``other``."""
    selfs = self_times(spans)
    acct = dict.fromkeys(
        ("build", "catalyst", "exec", "between_jobs", "fetch", "cdc.apply"), 0.0
    )
    for s in spans:
        if s["name"] in _SPAN_LAYER:
            acct[_SPAN_LAYER[s["name"]]] += selfs[s["id"]]
        elif s["name"] == "fetch":
            in_jobs, between, tail = _fetch_split(s, job_iv)
            acct["exec"] += in_jobs
            acct["between_jobs"] += between
            acct["fetch"] += tail
    wall = op["end"] - op["start"]
    acct = {f"self.{k}_s": v for k, v in acct.items()}
    acct["self.other_s"] = wall - sum(acct.values())
    return acct


def _mean(rows: list[dict], key: str) -> float:
    vals = [r.get(key, 0.0) for r in rows]
    return sum(vals) / len(vals) if vals else 0.0


def per_layer(ops: list[dict], spans: list[dict], log: dict, cores: int,
              setups: list[dict], replica: dict | None,
              rss_mb: float) -> tuple[dict, list[dict]]:
    """Per-layer metrics of a traced run, and the per-operation rows
    they come from. Per-operation figures are means over the timed
    operations (not the warm-up, and for replicate not the snapshot,
    which feeds the snapshot rate only), except codegen: see below."""
    jobs = _jobs_by_op(ops, log["jobs"])
    rows = []
    for op in ops:
        row = op_layers(op, spans, jobs[op["id"]], log, cores)
        row.update({k: op[k] for k in ("id", "kind", "name", "ok")})
        for phase, ms in (op.get("catalyst") or {}).items():
            row[f"catalyst.{phase}_ms"] = ms
        for k in ("codegen.compiles", "codegen.compile_ms", "result_rows", "changes"):
            row[k] = op.get(k, 0)
        rows.append(row)
    timed = [r for r in rows if r["kind"] in TIMED]
    out = {
        "mem.peak_rss_mb": rss_mb,
        "session.build_s": statistics.median(s["session.build_s"] for s in setups),
        "registry.load_s": statistics.median(s["registry.load_s"] for s in setups),
    }
    for key in (
        "operators.build_s", "operators.build_jobs",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "exec.wall_s", "exec.between_jobs_s", "exec.jobs", "exec.stages",
        "exec.stages_skipped",
        "exec.tasks", "exec.task_run_s", "exec.gc_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
        "fetch.arrow_s",
        "pyworker.bytes_sent", "pyworker.bytes_received", "pyworker.rows_received",
    ):
        out[key] = _mean(timed, key)
    slots = sum(r["exec.core_slots_s"] for r in timed)
    out["exec.core_busy_ratio"] = (
        sum(r["exec.task_run_s"] for r in timed) / slots if slots else 0.0
    )
    out["exec.max_task_skew"] = (
        statistics.median(r["exec.max_task_skew"] for r in timed) if timed else 0.0
    )
    out["fetch.result_rows"] = _mean(timed, "result_rows")
    # after the warm-up every plan's generated code is cached, so codegen
    # is counted over all operations, warm-up included
    for key in ("codegen.compiles", "codegen.compile_ms"):
        out[key] = _mean(rows, key)
    out["trace.layer_coverage"] = (
        statistics.median(1 - r["self.other_s"] / r["wall_s"] for r in timed)
        if timed else 0.0
    )
    out.update(_cdc_layers(timed, replica))
    return out, rows


CDC_KEYS = (
    "binlog.decode_rows_per_s", "cdc.apply_frac", "cdc.stream_overhead_frac",
    "cdc.final_read_frac", "cdc.rows_written_per_change_row",
    "cdc.bytes_written_per_change_row", "cdc.versions_retained",
    "cdc.state_bytes", "cdc.snapshot_rows_per_s", "cdc.change_rows_per_s",
    "cdc.replica_bytes_per_live_byte",
)


def _cdc_layers(timed: list[dict], replica: dict | None) -> dict:
    """Binlog and apply layers; all zero on the query workloads, which
    never touch them. ``replica`` carries the untraced figures."""
    if replica is None:
        return dict.fromkeys(CDC_KEYS, 0.0)
    wall = sum(r["wall_s"] for r in timed)
    apply = sum(r["cdc.apply_s"] for r in timed)
    changes = sum(r["changes"] for r in timed)
    return {
        **{k: v for k, v in replica.items() if k in CDC_KEYS},
        "cdc.apply_frac": apply / wall,
        "cdc.stream_overhead_frac": (sum(r["cdc.drain_s"] for r in timed) - apply) / wall,
        "cdc.final_read_frac": sum(r["cdc.final_read_s"] for r in timed) / wall,
        "cdc.rows_written_per_change_row": sum(r["out_rows"] for r in timed) / changes,
        "cdc.bytes_written_per_change_row": sum(r["out_bytes"] for r in timed) / changes,
    }
