"""Per-op totals from a Spark event log.

The benchmark tags every job it starts with the local property
``perfbench.op`` (one id per op).  Spark copies local properties into
each ``SparkListenerJobStart``, so stages, tasks and SQL executions can
be attributed to ops from the log alone:

* jobs, stages, tasks and the wall intervals of the jobs;
* task metrics: executor run and CPU time, scheduler delay, input
  bytes/records, shuffle read/write bytes, fetch wait and spill;
* SQL metrics of the physical plan, grouped as ``python`` (every metric
  of the Python evaluation nodes — ArrowEvalPython, MapInPandas,
  MapInArrow, FlatMapGroupsInPandas, ... whose names mention Python,
  Pandas or Arrow — and any metric about Python workers, such as those
  of a Python data source scan) or ``scan`` (the other metrics of scan
  nodes).

The log must be uncompressed and not rolled (``spark.eventLog.compress``
and ``spark.eventLog.rolling.enabled`` false).
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

OP_PROPERTY = "perfbench.op"

_PY_MARKERS = ("Python", "Pandas", "Arrow")


def _metric_kind(node_name: str, metric_name: str) -> str | None:
    if "Python worker" in metric_name or any(m in node_name for m in _PY_MARKERS):
        return "python"
    if node_name.startswith("Scan") or node_name.startswith("BatchScan"):
        return "scan"
    return None


def _walk(plan: dict, out: dict) -> None:
    node = plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        kind = _metric_kind(node, m["name"])
        if kind is not None:
            out[m["accumulatorId"]] = (kind, m["name"], m.get("metricType", "sum"))
    for c in plan.get("children", []):
        _walk(c, out)


def _scale(metric_type: str, v: float) -> float:
    """SQL metric value in base units: seconds for timings, else as is."""
    if metric_type == "timing":
        return v / 1e3
    if metric_type == "nsTiming":
        return v / 1e9
    return v


def new_totals() -> dict:
    """The totals of an op with no jobs."""
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "job_intervals": [],
        "run_s": 0.0,
        "cpu_s": 0.0,
        "sched_delay_s": 0.0,
        "input_bytes": 0,
        "input_rows": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "fetch_wait_s": 0.0,
        "spill_bytes": 0,
        "sql": Counter(),
    }


def parse(path: str) -> dict[str, dict]:
    """{op id: totals} for every op id found in the log's job properties.

    Totals: ``jobs``, ``stages``, ``tasks``, ``job_intervals`` (list of
    (start_ms, end_ms)), ``run_s``, ``cpu_s``, ``sched_delay_s``,
    ``input_bytes``, ``input_rows``, ``shuffle_write_bytes``,
    ``shuffle_read_bytes``, ``fetch_wait_s``, ``spill_bytes`` and
    ``sql`` — a Counter keyed by ``"<kind>:<metric name>"``."""
    stage_op: dict[int, str] = {}
    job_op: dict[int, str] = {}
    job_start: dict[int, int] = {}
    exec_op: dict[int, str] = {}
    acc_meta: dict[int, tuple[str, str, str]] = {}
    driver_updates: list[tuple[int, int, float]] = []
    ops: dict[str, dict] = defaultdict(new_totals)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                op = props.get(OP_PROPERTY)
                if op is None:
                    continue
                jid = e["Job ID"]
                job_op[jid] = op
                job_start[jid] = e.get("Submission Time", 0)
                for sid in e.get("Stage IDs", []):
                    stage_op[sid] = op
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_op[int(ex)] = op
                ops[op]["jobs"] += 1
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_op:
                    ops[job_op[jid]]["job_intervals"].append(
                        (job_start[jid], e.get("Completion Time", job_start[jid]))
                    )
            elif ev == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                if sid in stage_op:
                    ops[stage_op[sid]]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                op = stage_op.get(e.get("Stage ID"))
                if op is None:
                    continue
                _task(ops[op], e, acc_meta)
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                plan = e.get("sparkPlanInfo")
                if plan:
                    _walk(plan, acc_meta)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, v in e.get("accumUpdates", []):
                    driver_updates.append((e["executionId"], acc_id, v))
    for ex, acc_id, v in driver_updates:
        op = exec_op.get(ex)
        meta = acc_meta.get(acc_id)
        if op is not None and meta is not None:
            kind, name, mtype = meta
            ops[op]["sql"][f"{kind}:{name}"] += _scale(mtype, v)
    return dict(ops)


def _task(t: dict, e: dict, acc_meta: dict) -> None:
    info = e.get("Task Info", {})
    m = e.get("Task Metrics") or {}
    t["tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    t["run_s"] += run_ms / 1e3
    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_result_ms = finish - getting if getting else 0
    delay = (finish - launch) - run_ms - m.get("Executor Deserialize Time", 0) \
        - m.get("Result Serialization Time", 0) - fetch_result_ms
    t["sched_delay_s"] += max(0, delay) / 1e3
    inp = m.get("Input Metrics") or {}
    t["input_bytes"] += inp.get("Bytes Read", 0)
    t["input_rows"] += inp.get("Records Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        meta = acc_meta.get(acc.get("ID"))
        if meta is None or "Update" not in acc:
            continue
        try:
            v = float(acc["Update"])
        except (TypeError, ValueError):
            continue
        kind, name, mtype = meta
        t["sql"][f"{kind}:{name}"] += _scale(mtype, v)


def union_seconds(intervals, lo_ms: float | None = None, hi_ms: float | None = None) -> float:
    """Length of the union of (start_ms, end_ms) intervals, clipped to
    [lo_ms, hi_ms] when given, in seconds."""
    iv = []
    for a, b in intervals:
        if lo_ms is not None:
            a = max(a, lo_ms)
        if hi_ms is not None:
            b = min(b, hi_ms)
        if b > a:
            iv.append((a, b))
    iv.sort()
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot / 1e3
