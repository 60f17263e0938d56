"""Measure the fixed cost of one Python-worker task (measurement only).

Runs a 10-row, one-task job twice over, in a bare local SparkSession:
once as a JVM-only projection and once through ``mapInPandas``, whose
function records when the first Arrow batch reaches it. A warm-up run
of each comes first, so the Python worker is started once and reused
(``spark.python.worker.reuse`` is on by default).

Prints one JSON line: the median, minimum and maximum wall of each job
in milliseconds, and the gap from the task's launch (its ``launchTime``
in Spark's status store) to the first batch reaching the function.
The gap is the floor under any small job that crosses into Python, for
example the ``mapInArrow`` write stage of a small delete. Each figure is
over 15 runs, in a ``local[*]`` session; the JSON names the core count.

A third one-task ``mapInPandas`` job, run after each timed pair so it
adds nothing to their walls, times one ``importlib.invalidate_caches()``
call in the reused worker and counts the ``zipimporter`` entries in
``sys.path_importer_cache``. PySpark's worker makes that call for every
task (``pyspark.worker_util.setup_spark_files``), and each zip importer
then re-reads its archive's central directory, so the two figures name
how much of the gap that call is and how many archives it re-reads.

    python tools/python_task_floor.py

Uses plain PySpark only and is never run by the tests.
"""

from __future__ import annotations

import json
import statistics
import time

from pyspark.sql import SparkSession

RUNS = 15


def _summary(ms: list[float]) -> dict:
    return {
        "median": round(statistics.median(ms), 1),
        "min": round(min(ms), 1),
        "max": round(max(ms), 1),
    }


def _first_batch_at(batches):
    first = None
    for b in batches:
        if first is None:
            first = time.time()
        yield b.assign(t=first)[["t"]]


def _invalidate_caches_cost(batches):
    import importlib
    import sys
    import zipimport

    for b in batches:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000.0
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield b.head(1).assign(ms=ms, zips=zips)[["ms", "zips"]]


def main() -> int:
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("python_task_floor")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    src = spark.range(0, 10, 1, 1)  # 10 rows, one partition: one task
    jvm_job = src.selectExpr("id * 2 AS v")
    py_job = src.mapInPandas(_first_batch_at, "t double")
    cache_job = src.mapInPandas(_invalidate_caches_cost, "ms double, zips long")

    def launch_s(job_id: int) -> float:
        stage = sc.statusTracker().getJobInfo(job_id).stageIds[0]
        task = store.taskList(stage, 0, 1).head()
        return task.launchTime().getTime() / 1000.0

    def timed(df) -> tuple[float, list]:
        t0 = time.perf_counter()
        rows = df.collect()
        return (time.perf_counter() - t0) * 1000.0, rows

    jvm_ms, py_ms, gap_ms, inval_ms, zips = [], [], [], [], []
    for i in range(RUNS + 1):  # run 0 warms up and starts the worker
        jms, _ = timed(jvm_job)
        pms, rows = timed(py_job)
        job_id = max(sc.statusTracker().getJobIdsForGroup(None))
        if i:
            jvm_ms.append(jms)
            py_ms.append(pms)
            gap_ms.append((rows[0]["t"] - launch_s(job_id)) * 1000.0)
            (cost,) = cache_job.collect()
            inval_ms.append(cost["ms"])
            zips.append(cost["zips"])
    print(json.dumps({
        "cores": sc.defaultParallelism,
        "runs": RUNS,
        "jvm_job_ms": _summary(jvm_ms),
        "map_in_pandas_job_ms": _summary(py_ms),
        "launch_to_first_batch_ms": _summary(gap_ms),
        "invalidate_caches_ms": _summary(inval_ms),
        "zipimporters": max(zips),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
