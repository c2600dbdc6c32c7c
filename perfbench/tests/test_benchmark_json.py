"""BENCHMARK.json names exactly what ``run.py`` prints."""

import json
import os
import re

import run

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec() -> dict:
    with open(SPEC, encoding="utf-8") as fh:
        return json.load(fh)


def test_workloads_are_the_runners():
    assert [w["name"] for w in spec()["workloads"]] == list(run.WORKLOADS)
    assert all(set(w) == {"name", "why"} for w in spec()["workloads"])


def test_end_to_end_metrics_match_the_result_line():
    e2e = spec()["end_to_end"]
    assert {m["name"]: m["unit"] for m in e2e} == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    setup = [m for m in e2e if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_per_layer_metrics_match_the_traced_result_line():
    per_layer = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    names = run.layer_names()
    assert len(names) == len(set(names))
    assert per_layer == {n: run.layer_unit(n) for n in names}


def test_names_are_well_formed():
    s = spec()
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
