"""Metric assembly: end-to-end metrics from the op records, per-layer
metrics from spans, op records and Spark's event log.

Per-layer values are means per measured op of the run unless the name
says otherwise (``_ratio``, ``_per_*``, ``live``); a layer that a
workload never reaches reports 0."""

from __future__ import annotations

import json
import os
import resource

from . import eventlog, stats

#: (name, unit, better) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_rel", "ratio", "lower"),
    ("op_p50_geomean_rel", "ratio", "lower"),
]

#: (name, unit, better) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("queries.build_s", "s", "lower"),
    ("io.load_table_s", "s", "lower"),
    ("io.fan_out_s", "s", "lower"),
    ("io.fan_out_calls", "count", "lower"),
    ("io.fan_out_repartition_ratio", "ratio", "lower"),
    ("driver.only_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.busy_ratio", "ratio", "higher"),
    ("sched.delay_s", "s", "lower"),
    ("scan.input_bytes", "bytes", "lower"),
    ("scan.input_rows", "count", "lower"),
    ("exchange.shuffle_write_bytes", "bytes", "lower"),
    ("exchange.shuffle_read_bytes", "bytes", "lower"),
    ("exchange.fetch_wait_s", "s", "lower"),
    ("exchange.spill_bytes", "bytes", "lower"),
    ("python.worker_s", "s", "lower"),
    ("python.bytes_sent", "bytes", "lower"),
    ("python.bytes_returned", "bytes", "lower"),
    ("python.rows", "count", "lower"),
    ("similarity.candidate_pairs", "count", "lower"),
    ("similarity.kept_ratio", "ratio", "higher"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.kept_ratio", "ratio", "higher"),
    ("op.append_p50_s", "s", "lower"),
    ("op.append_tail_s", "s", "lower"),
    ("op.ds_append_p50_s", "s", "lower"),
    ("op.delete_p50_s", "s", "lower"),
    ("op.compact_p50_s", "s", "lower"),
    ("op.point_read_p50_s", "s", "lower"),
    ("op.point_read_tail_s", "s", "lower"),
    ("op.ds_point_read_p50_s", "s", "lower"),
    ("op.scan_p50_s", "s", "lower"),
    ("op.ds_scan_p50_s", "s", "lower"),
    ("op.health_refresh_p50_s", "s", "lower"),
    ("op.tail_s", "s", "lower"),
    ("op.tail_pct", "%", "higher"),
    ("op.tail_beyond", "count", "higher"),
    ("commit.jobs_per_append", "count", "lower"),
    ("commit.job_s_per_append", "s", "lower"),
    ("commit.driver_s_per_append", "s", "lower"),
    ("commit.avro_write_s_per_append", "s", "lower"),
    ("commit.metadata_swap_s_per_append", "s", "lower"),
    ("sources.write_jobs_per_append", "count", "lower"),
    ("sources.write_driver_s", "s", "lower"),
    ("commit.metadata_bytes_per_commit", "bytes", "lower"),
    ("commit.data_files_per_commit", "count", "lower"),
    ("commit.manifests_live", "count", "lower"),
    ("storage.metadata_share", "ratio", "lower"),
    ("storage.bytes_per_user_byte", "ratio", "lower"),
    ("manifests.build_s", "s", "lower"),
    ("manifests.exec_s", "s", "lower"),
    ("sources.build_s", "s", "lower"),
    ("sources.exec_s", "s", "lower"),
    ("scan.files_live", "count", "lower"),
    ("scan.files_read", "count", "lower"),
    ("scan.files_pruned_ratio", "ratio", "higher"),
    ("scan.rows_read_per_row_returned", "ratio", "lower"),
    ("scan.delete_files_applied", "count", "lower"),
    ("compact.bytes_rewritten", "bytes", "lower"),
    ("compact.files_in", "count", "lower"),
    ("compact.files_out", "count", "lower"),
    ("health.parse_s", "s", "lower"),
    ("health.compute_s", "s", "lower"),
    ("wall.pass_s", "s", "lower"),
    ("wall.op_p50_geomean_s", "s", "lower"),
    ("reference.median_s", "s", "lower"),
    ("mem.jvm_peak_rss_mb", "MB", "lower"),
    ("mem.python_peak_rss_mb", "MB", "lower"),
    ("session.start_s", "s", "lower"),
    ("warmup.first_call_s", "s", "lower"),
    ("tracing.overhead_ratio", "ratio", "lower"),
]

_PLAIN_STATE = "last_plain_{}.json"


def _p50_by_kind(ctx) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ctx.measured():
        by.setdefault(o["kind"], []).append(o["wall_s"])
    return {k: stats.median(v) for k, v in by.items()}


def pass_seconds(ctx) -> float:
    """One pass over the workload's op set with every op at its median:
    sum over op kinds of weight x median wall time."""
    p50 = _p50_by_kind(ctx)
    return sum(w * p50[k] for k, w in ctx.weights.items() if k in p50)


def end_to_end(ctx) -> dict:
    """Set-up time in seconds; pass time and the geometric mean of the
    per-kind medians in units of the reference job's median time in the
    same run (``Ctx.reference``), which cancels how fast the shared host
    happens to run."""
    ref = stats.median(ctx.ref_samples)
    return {
        "setup_s": {"value": ctx.setup_s, "unit": "s"},
        "pass_rel": {"value": pass_seconds(ctx) / ref, "unit": "ratio"},
        "op_p50_geomean_rel": {"value": stats.geomean(_p50_by_kind(ctx).values()) / ref,
                               "unit": "ratio"},
    }


def remember_plain(ctx) -> None:
    """Keep this plain run's pass time for the next traced run's
    ``tracing.overhead_ratio``."""
    path = os.path.join(ctx.work, _PLAIN_STATE.format(ctx.workload))
    with open(path, "w") as f:
        json.dump({"pass_s": pass_seconds(ctx)}, f)


def _plain_pass_s(ctx) -> float | None:
    path = os.path.join(ctx.work, _PLAIN_STATE.format(ctx.workload))
    try:
        with open(path) as f:
            return float(json.load(f)["pass_s"])
    except (OSError, ValueError, KeyError):
        return None


def memory(ctx) -> dict:
    """Peak resident memory of this process and of the Spark JVM (read
    before the JVM stops; Linux /proc)."""
    from pyspark import SparkContext

    out = {"mem.python_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out["mem.jvm_peak_rss_mb"] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(ctx) -> dict:
    ops = ctx.measured()
    ids = {o["id"] for o in ops}
    n = max(1, len(ops))
    t = ctx.tracer
    v: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
    v.update(ctx.layer)
    v["wall.pass_s"] = pass_seconds(ctx)
    v["wall.op_p50_geomean_s"] = stats.geomean(_p50_by_kind(ctx).values())
    v["reference.median_s"] = stats.median(ctx.ref_samples)

    # spans at the benchmark's calls into the program
    v["queries.build_s"] = t.total("queries.build", ids)[0] / n
    v["io.load_table_s"] = t.total("io.load_table", ids)[0] / n
    fo_s, fo_n = t.total("io.fan_out", ids)
    v["io.fan_out_s"] = fo_s / n
    v["io.fan_out_calls"] = fo_n / n
    rep = sum(1 for s in t.spans if s["name"] == "io.fan_out" and s["op"] in ids and s.get("repartitioned"))
    v["io.fan_out_repartition_ratio"] = _ratio(rep, fo_n)
    for plane in ("manifests", "sources"):
        kinds = ("point_read", "scan") if plane == "manifests" else ("ds_point_read", "ds_scan")
        pid = {o["id"] for o in ops if o["kind"] in kinds}
        v[f"{plane}.build_s"] = _ratio(t.total(f"{plane}.build", pid)[0], len(pid))
        v[f"{plane}.exec_s"] = _ratio(t.total(f"{plane}.exec", pid)[0], len(pid))
    hid = {o["id"] for o in ops if o["kind"] == "health_refresh"}
    v["health.parse_s"] = _ratio(t.total("health.parse", hid)[0], len(hid))
    v["health.compute_s"] = _ratio(t.total("health.compute", hid)[0], len(hid))

    # op latencies
    p50 = _p50_by_kind(ctx)
    for k in ("append", "ds_append", "delete", "compact", "point_read", "ds_point_read",
              "scan", "ds_scan", "health_refresh"):
        v[f"op.{k}_p50_s"] = p50.get(k, 0.0)
    for k in ("append", "point_read"):
        tl = stats.tail([o["wall_s"] for o in ops if o["kind"] == k])
        v[f"op.{k}_tail_s"] = tl[1] if tl else 0.0
    tl = stats.tail([o["wall_s"] for o in ops])
    if tl:
        v["op.tail_pct"], v["op.tail_s"], v["op.tail_beyond"] = tl[0], tl[1], float(tl[2])

    # table state recorded by the table-ops workload
    commits = [o for o in ops if "metadata_bytes" in o]
    v["commit.metadata_bytes_per_commit"] = _mean(o["metadata_bytes"] for o in commits)
    v["commit.data_files_per_commit"] = _mean(o["data_files"] for o in commits if o["kind"] != "delete")
    reads = [o for o in ops if "files_live" in o]
    v["scan.files_live"] = _mean(o["files_live"] for o in reads)
    v["scan.delete_files_applied"] = _mean(o["delete_files_live"] for o in reads)
    comp = [o for o in ops if o["kind"] == "compact"]
    for k in ("bytes_rewritten", "files_in", "files_out"):
        v[f"compact.{k}"] = _mean(o.get(k, 0) for o in comp)
    appends = [o for o in ops if o["kind"] == "append"]
    aid = {o["id"] for o in appends}
    v["commit.avro_write_s_per_append"] = _ratio(t.total("commit.avro_write", aid)[0], len(aid))
    v["commit.metadata_swap_s_per_append"] = _ratio(t.total("commit.metadata_swap", aid)[0], len(aid))

    # Spark's own view, from the event log
    log = _eventlog(ctx)
    if log is not None:
        _from_eventlog(ctx, v, ops, log)
    v["warmup.first_call_s"] = next((o["wall_s"] for o in ctx.ops if not o["measured"]), 0.0)
    plain = _plain_pass_s(ctx)
    v["tracing.overhead_ratio"] = _ratio(pass_seconds(ctx), plain) if plain else 0.0
    return {k: {"value": float(v[k]), "unit": unit} for k, unit, _ in PER_LAYER}


def eventlog_path(ctx) -> str | None:
    d = getattr(ctx, "eventlog_dir", None)
    if not d or not os.path.isdir(d):
        return None
    files = sorted(os.listdir(d))
    return os.path.join(d, files[-1]) if files else None


def _eventlog(ctx):
    path = eventlog_path(ctx)
    return eventlog.parse(path) if path else None


def _from_eventlog(ctx, v: dict, ops: list[dict], log: dict) -> None:
    per = {o["id"]: log.get(str(o["id"])) or eventlog.new_totals() for o in ops}
    n = max(1, len(ops))

    def job_s(o):
        return eventlog.union_seconds(per[o["id"]]["job_intervals"], o["t0_ms"], o["t1_ms"])

    def tot(key):
        return sum(per[o["id"]][key] for o in ops)

    def sql(o, key):
        return per[o["id"]]["sql"].get(key, 0.0)

    v["driver.only_s"] = sum(max(0.0, o["wall_s"] - job_s(o)) for o in ops) / n
    v["spark.jobs"] = tot("jobs") / n
    v["spark.stages"] = tot("stages") / n
    v["spark.tasks"] = tot("tasks") / n
    v["exec.run_s"] = tot("run_s") / n
    v["exec.cpu_s"] = tot("cpu_s") / n
    v["exec.busy_ratio"] = _ratio(tot("run_s"), sum(o["wall_s"] for o in ops) * ctx.cores)
    v["sched.delay_s"] = tot("sched_delay_s") / n
    v["scan.input_bytes"] = tot("input_bytes") / n
    v["scan.input_rows"] = tot("input_rows") / n
    v["exchange.shuffle_write_bytes"] = tot("shuffle_write_bytes") / n
    v["exchange.shuffle_read_bytes"] = tot("shuffle_read_bytes") / n
    v["exchange.fetch_wait_s"] = tot("fetch_wait_s") / n
    v["exchange.spill_bytes"] = tot("spill_bytes") / n
    v["python.worker_s"] = sum(sql(o, "python:time to run Python workers") for o in ops) / n
    v["python.bytes_sent"] = sum(sql(o, "python:data sent to Python workers") for o in ops) / n
    v["python.bytes_returned"] = sum(sql(o, "python:data returned from Python workers") for o in ops) / n
    v["python.rows"] = sum(sql(o, "python:number of output rows") for o in ops) / n

    for kind, prefix in (("append", "commit"), ("ds_append", "sources")):
        sel = [o for o in ops if o["kind"] == kind]
        if not sel:
            continue
        jobs = _mean(per[o["id"]]["jobs"] for o in sel)
        drv = _mean(max(0.0, o["wall_s"] - job_s(o)) for o in sel)
        if prefix == "commit":
            v["commit.jobs_per_append"] = jobs
            v["commit.job_s_per_append"] = _mean(job_s(o) for o in sel)
            v["commit.driver_s_per_append"] = drv
        else:
            v["sources.write_jobs_per_append"] = jobs
            v["sources.write_driver_s"] = drv

    points = [o for o in ops if o["kind"] == "point_read"]
    if points:
        read = sum(sql(o, "scan:number of files read") for o in points)
        live = sum(o.get("files_live", 0) for o in points)
        v["scan.files_read"] = read / len(points)
        v["scan.files_pruned_ratio"] = 1.0 - _ratio(read, live) if live else 0.0
        rows_read = sum(sql(o, "scan:number of output rows") for o in points)
        v["scan.rows_read_per_row_returned"] = _ratio(
            rows_read, sum(o.get("rows_returned", 0) for o in points))
