"""BENCHMARK.json names exactly what the benchmark prints."""

from __future__ import annotations

import json
import os
import re

from perfbench import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _doc():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_is_the_layer_catalog():
    doc = _doc()
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == layers.catalog()


def test_end_to_end_names_match_the_runner():
    from perfbench import run
    from perfbench.workloads import Recorder

    printed = run.end_to_end(Recorder(None), 1.0)
    doc = _doc()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == \
        {k: v["unit"] for k, v in printed.items()}
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOAD_NAMES)


def test_names_units_and_bounds_are_well_formed():
    doc = _doc()
    metrics = doc["end_to_end"] + doc["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in metrics)
    assert all(m["better"] in ("lower", "higher") for m in metrics)
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])
