"""Metric names and units are valid and match BENCHMARK.json."""

import json
import os

import metrics

BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json",
)


def test_names_and_units_valid():
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        assert 1 <= len(table) <= 128
        for name, unit in table.items():
            assert metrics.NAME_RE.match(name), name
            assert metrics.UNIT_RE.match(unit), unit


def test_benchmark_json_matches():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    names = [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names)) and 2 <= len(names) <= 8
