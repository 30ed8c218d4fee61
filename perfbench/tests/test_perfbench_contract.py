"""The benchmark's output names exactly the metrics BENCHMARK.json lists,
in the units it lists, and the file stays within the benchmark contract."""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import layers  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_workloads_match_the_program():
    from workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_end_to_end_line_names_every_metric_with_its_unit():
    values = run.end_to_end(9.5, {"a": [1.0, 3.0], "b": [2.0]})
    assert values["op_p50_s"] == 2.0 and values["pass_s"] == 4.0
    line = run.result_line(SPEC["end_to_end"], values, attempted=3, failed=0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in SPEC["end_to_end"]
    }
    assert set(values) == {m["name"] for m in SPEC["end_to_end"]}


def test_per_layer_line_names_every_metric_with_its_unit():
    class _Runner:
        attempted, failed = 4, 1

    values = layers.per_layer([], {}, object(), _Runner(), 8.0, 1.5, {"mb": 0.0, "rdds": 0.0}, 3000.0)
    values["op_p90_s"] = run.percentile([1.0, 2.0], 90)
    assert set(values) == {m["name"] for m in SPEC["per_layer"]}
    assert values["error_rate"] == 0.25
    line = run.result_line(SPEC["per_layer"], values, attempted=4, failed=1)
    assert line["correct"] is False
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [
        (m["name"], m["unit"]) for m in SPEC["per_layer"]
    ]
