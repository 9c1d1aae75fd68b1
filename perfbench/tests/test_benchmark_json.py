"""BENCHMARK.json and run.py name the same metrics with the same units."""

import json
import os

import run


def _spec():
    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def test_metric_names_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER


def test_workloads_match():
    import workloads

    assert [w["name"] for w in _spec()["workloads"]] == \
        list(workloads.WORKLOADS)
