"""BENCHMARK.json matches what the command prints."""

import json
import os
import re

from perfbench import run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class _Run:
    setup_s = 30.0
    samples = {"search_call_ms": [900.0, 1100.0]}
    totals = {"queries": 40.0, "search_s": 2.0, "index_bytes": 5.0,
              "input_bytes": 4.0}


def test_end_to_end_metrics_are_the_ones_printed():
    spec = _spec()
    printed = run.e2e_metrics("search_hot", _Run())
    assert [m["name"] for m in spec["end_to_end"]] == list(printed)
    assert set(printed) <= set(run.units())
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_per_layer_names_and_units():
    layer = _spec()["per_layer"]
    names = [m["name"] for m in layer]
    assert len(names) == len(set(names)) <= 128
    for m in layer:
        assert NAME.match(m["name"]), m["name"]
        assert m["unit"] in ("ms", "MB", "count", "ns", "us", "ratio")
    for span in workloads.SPANS:
        for metric in trace.SPAN_METRICS:
            assert f"{span}.{metric}" in names


def test_listed_workloads_exist():
    spec = _spec()
    assert spec["paths"] == ["perfbench"]
    assert all(w["name"] in run.WORKLOADS for w in spec["workloads"])
