"""BENCHMARK.json lists exactly the metrics the runner reports."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import spec
from perfbench.workloads import WORKLOADS

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_end_to_end_names_and_units():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == spec.END_TO_END


def test_per_layer_names_and_units():
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == spec.per_layer()


def test_workloads_are_runnable():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)
