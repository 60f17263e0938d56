"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository.  The input tables are
the project's own fixture files, checked in under ``perfbench/fixture/``
and only read.  Everything the run writes goes under ``.perfbench_work/``
there: Spark's local and temp dirs, the table the table-ops workload
builds, and the event log and spans of the last traced run of each
workload.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
with ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

WORKLOADS = ("olap_queries", "llm_curation", "iceberg_table_ops")
#: the reference job runs after every REF_EVERY-th measured op
REF_EVERY = 3
#: reference runs before timing starts (its own first calls)
REF_WARMUP = 1
WORK_DIR = ".perfbench_work"
#: the input tables (see perfbench/README.md for where each comes from)
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
#: SQL confs pinned while the reference job runs, so that it measures the
#: host and not the confs the program sets on its session
REF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "10MB",
    "spark.sql.files.maxPartitionBytes": "128MB",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.sql.codegen.wholeStage": "true",
}


class Ctx:
    """State of one run: the session, the op records and the tracer."""

    def __init__(self, args, root: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = os.path.join(root, WORK_DIR)
        self.tmp_dir = os.path.join(self.work, "tmp", f"run-{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[dict] = []
        self.layer: dict[str, float] = {}
        self.weights: dict[str, float] = {}
        self.setup_s = None
        self.data_dir = FIXTURE_DIR
        self.spark = None
        self.tracer = None
        self._ids = itertools.count(1)
        self._n_measured = 0
        self.ref_samples: list[float] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    @contextmanager
    def op(self, kind: str, measured: bool):
        """Time one op; the body is the timed work, checks come after it.
        An exception inside the body fails the op and is swallowed."""
        oid = next(self._ids)
        rec = {"kind": kind, "id": oid, "measured": measured, "ok": None}
        sc = self.spark.sparkContext
        if self.traced:
            sc.setLocalProperty("perfbench.op", str(oid))
            self.tracer.op_id = oid
        rec["t0_ms"] = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield rec
        except Exception as e:  # the op failed: count it, keep going
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            self.verdict(rec, False, f"{kind}: {rec['error']}")
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["t1_ms"] = time.time() * 1e3
            if self.traced:
                sc.setLocalProperty("perfbench.op", None)
                self.tracer.op_id = None
            self.ops.append(rec)
            print(f"perfbench: {'measure' if measured else 'warm-up'} {kind} "
                  f"{rec['wall_s']:.3f}s", file=sys.stderr)
        if measured:
            self._n_measured += 1
            if self._n_measured % REF_EVERY == 0:
                self.ref_samples.append(self.reference())
                print(f"perfbench: measure reference {self.ref_samples[-1]:.3f}s", file=sys.stderr)

    def verdict(self, rec: dict, ok: bool, detail: str = "") -> None:
        rec["ok"] = bool(ok)
        if not ok:
            print(f"CHECK FAILED: {detail}", file=sys.stderr)

    def reference(self) -> float:
        """Run the fixed reference job once and return its wall time.

        The job uses plain PySpark only, no program code: a parquet scan
        with a shuffle, and a Python-worker round trip.  Timed beside the
        ops in the same session, it tracks how fast the host is running
        right now, so end-to-end figures are reported relative to it.  The
        SQL confs it depends on are pinned to fixed values while it runs
        (``REF_CONFS``, shuffle partitions = cores) and restored after, so
        a change to the confs the program sets moves the ops, not the
        reference.  Static confs (driver memory) and JVM state stay shared:
        judge changes to the ``session`` layer on the raw ``wall.*``
        per-layer figures."""
        import pyspark.sql.functions as F

        spark = self.spark
        pinned = dict(REF_CONFS, **{"spark.sql.shuffle.partitions": str(self.cores)})
        saved = {k: spark.conf.get(k, None) for k in pinned}
        for k, v in pinned.items():
            spark.conf.set(k, v)
        try:
            t0 = time.perf_counter()
            (spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
             .groupBy("o_orderstatus").agg(F.sum("o_totalprice")).collect())
            (spark.range(0, 20000, numPartitions=self.cores)
             .mapInPandas(lambda it: it, "id long").agg(F.count("*")).collect())
            return time.perf_counter() - t0
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def begin_measure(self) -> None:
        """Warm the reference job, then start the clock of the timed part."""
        for _ in range(REF_WARMUP):
            self.reference()
        self.setup_s = time.perf_counter() - T_PROCESS

    def measured(self) -> list[dict]:
        """The measured ops that completed (checked, whatever the verdict)."""
        return [o for o in self.ops if o["measured"] and o.get("ok") is not None]


def result(ctx: Ctx, metrics: dict) -> dict:
    """The result line: every checked op (warm-up included) is attempted;
    a failed check or an op that raised is failed."""
    checked = [o for o in ctx.ops if o.get("ok") is not None]
    failed = sum(1 for o in checked if not o["ok"])
    return {
        "correct": failed == 0 and bool(checked),
        "attempted": len(checked),
        "failed": failed,
        "metrics": metrics,
    }


def _isolate(ctx: Ctx) -> None:
    """Keep every file the run writes inside the checkout."""
    os.makedirs(ctx.tmp_dir, exist_ok=True)
    for k in ("TMPDIR", "TEMP", "TMP"):
        os.environ[k] = ctx.tmp_dir
    import tempfile

    tempfile.tempdir = ctx.tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.tmp_dir, "spark-local")
    # every JVM started (the launcher too): no /tmp/hsperfdata, temp files
    # here (JVM option strings split on whitespace, so only a plain path)
    java_opts = "-XX:-UsePerfData"
    if not any(c.isspace() for c in ctx.tmp_dir):
        java_opts += f" -Djava.io.tmpdir={ctx.tmp_dir}"
    os.environ["JAVA_TOOL_OPTIONS"] = java_opts
    os.environ.setdefault("HIELO_DRIVER_MEMORY", "2g")
    os.environ["TZ"] = "UTC"
    time.tzset()


def _session(ctx: Ctx):
    from hielo_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.tmp_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.tmp_dir, "warehouse"),
    }
    if ctx.traced:
        ctx.eventlog_dir = os.path.join(ctx.tmp_dir, "eventlog")
        os.makedirs(ctx.eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    with ctx.span("session.start"):
        spark = get_spark(app_name=f"perfbench_{ctx.workload}", master=f"local[{ctx.cores}]",
                          shuffle_partitions=ctx.cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    ctx.layer["session.start_s"] = time.perf_counter() - t0
    print(f"perfbench: session {ctx.layer['session.start_s']:.3f}s "
          f"(process {time.perf_counter() - T_PROCESS:.3f}s)", file=sys.stderr)
    return spark


def _stop(ctx: Ctx) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wrap_layers(ctx: Ctx) -> None:
    """Traced runs only: time the program's layer functions that run
    inside queries and table ops."""
    from hielo_spark import io
    from hielo_spark.metadata import avro_py, commit

    t = ctx.tracer

    def fan_out_result(rec, a, kw, out):
        rec["repartitioned"] = out is not (a[0] if a else kw.get("df"))

    t.wrap(io, "load_table", "io.load_table")
    t.wrap(io, "fan_out", "io.fan_out", on_result=fan_out_result)
    t.wrap(avro_py, "write_avro_file", "commit.avro_write")
    t.wrap(commit, "_commit_doc", "commit.metadata_swap")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if here not in sys.path:
        sys.path.insert(1, here)
    try:  # the program under test and its oracle harness must be present
        import hielo_spark.queries  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from a checkout root",
              file=sys.stderr)
        return 2
    from perfbench import layers

    ctx = Ctx(args, root)
    _isolate(ctx)
    if ctx.traced:
        from perfbench.tracer import Tracer

        ctx.tracer = Tracer()
    try:
        ctx.spark = _session(ctx)
        if ctx.traced:
            _wrap_layers(ctx)
        if ctx.workload == "iceberg_table_ops":
            from perfbench import wl_iceberg

            wl_iceberg.run(ctx)
        else:
            from perfbench import wl_queries

            names = wl_queries.OLAP if ctx.workload == "olap_queries" else wl_queries.LLM
            wl_queries.run(ctx, names)
        while len(ctx.ref_samples) < 3:  # a short run still gets a median
            ctx.ref_samples.append(ctx.reference())
        ctx.layer.update(layers.memory(ctx))
    finally:
        _stop(ctx)
    if ctx.traced:
        ctx.tracer.unwrap_all()
        metrics = layers.per_layer(ctx)
        out_dir = os.path.join(ctx.work, "trace")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, ctx.workload)  # the last traced run only
        ctx.tracer.dump(stem + ".spans.jsonl")
        log = layers.eventlog_path(ctx)
        if log:
            shutil.move(log, stem + ".eventlog.jsonl")
    else:
        metrics = layers.end_to_end(ctx)
        layers.remember_plain(ctx)
    shutil.rmtree(ctx.tmp_dir, ignore_errors=True)
    out = result(ctx, metrics)
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
