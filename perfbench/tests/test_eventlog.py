"""The event-log parser on a small captured log (Spark 4.1, local[2]):

* op 1: ``spark.read.parquet`` of a 100-row file, then a grouped sum;
* op 2: ``mapInPandas`` over ``spark.range(0, 50)`` then ``count()``;
* an untagged ``spark.range(10).count()`` that belongs to no op.

The log was trimmed of fields the parser does not read."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def ops():
    return eventlog.parse(LOG)


def test_only_tagged_ops(ops):
    assert set(ops) == {"1", "2"}


def test_job_stage_task_counts(ops):
    assert (ops["1"]["jobs"], ops["1"]["stages"], ops["1"]["tasks"]) == (3, 3, 3)
    assert (ops["2"]["jobs"], ops["2"]["stages"], ops["2"]["tasks"]) == (2, 2, 3)


def test_scan_and_exchange(ops):
    o = ops["1"]
    assert o["input_rows"] == 100
    assert o["sql"]["scan:number of output rows"] == 100
    assert o["sql"]["scan:number of files read"] == 1
    assert o["shuffle_write_bytes"] == o["shuffle_read_bytes"] > 0
    assert "python:time to run Python workers" not in o["sql"]


def test_python_worker_metrics(ops):
    sql = ops["2"]["sql"]
    assert sql["python:number of output rows"] == 50
    assert sql["python:data sent to Python workers"] > 0
    assert sql["python:data returned from Python workers"] > 0
    assert 0 < sql["python:time to run Python workers"] < 60  # seconds


def test_job_intervals_and_union(ops):
    iv = ops["2"]["job_intervals"]
    assert len(iv) == 2 and all(b >= a for a, b in iv)
    assert eventlog.union_seconds(iv) == pytest.approx(sum(b - a for a, b in iv) / 1e3)


def test_union_seconds_merges_and_clips():
    iv = [(0, 1000), (500, 1500), (3000, 4000)]
    assert eventlog.union_seconds(iv) == pytest.approx(2.5)
    assert eventlog.union_seconds(iv, lo_ms=1200, hi_ms=3500) == pytest.approx(0.8)
    assert eventlog.union_seconds([]) == 0.0
