"""BENCHMARK.json agrees with the code that produces the metrics."""

import json
import os
import re

from perfbench import layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_code():
    b = _bench()
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == [
        tuple(x) for x in layers.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        tuple(x) for x in layers.PER_LAYER
    ]
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)


def test_contract_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60 and 2 <= len(b["workloads"]) <= 8
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
