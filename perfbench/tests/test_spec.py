import json
import os

from perfbench.layers import LAYER_UNITS
from perfbench.workloads import ALL

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_layer_metrics_have_the_reported_units():
    for m in load()["per_layer"]:
        assert LAYER_UNITS[m["name"]] == m["unit"], m["name"]


def test_declared_workloads_exist_and_bounds_are_legal():
    spec = load()
    assert {w["name"] for w in spec["workloads"]} <= set(ALL)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
