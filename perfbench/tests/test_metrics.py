"""Metric names, units and directions, and BENCHMARK.json's agreement
with the harness."""

import json
import os

import pytest

from perfbench import metrics
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TABLES = (metrics.END_TO_END, metrics.PER_LAYER)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("table", TABLES)
def test_every_metric_has_name_unit_direction(table):
    for name, (unit, better, *_rest) in table.items():
        assert metrics.NAME_RE.match(name), name
        assert metrics.UNIT_RE.match(unit), (name, unit)
        assert better in ("higher", "lower"), name


def test_names_are_unique_across_tables():
    names = [n for t in TABLES for n in t]
    assert len(names) == len(set(names))


def test_bounds_fit_the_contract():
    for name, (_u, _b, bound) in metrics.END_TO_END.items():
        assert 0 < bound <= 0.25, name
    assert metrics.END_TO_END["setup_s"][2] == max(
        b for _u, _d, b in metrics.END_TO_END.values()
    )


def test_benchmark_json_mirrors_the_harness():
    bench = _bench()
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["why"] == WORKLOADS[w["name"]].why
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]
    } == metrics.END_TO_END
    assert {
        m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]
    } == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert set(m) == ({"name", "unit", "better", "bound"}
                          if "bound" in m else {"name", "unit", "better"})


def test_listed_workloads():
    # pdf_bytes runs by name only; its sources layer is also measured on
    # spans_mixed's PDF sample.
    names = [w["name"] for w in _bench()["workloads"]]
    assert names == ["spans_mixed", "skew_checkpoint"]
    assert WORKLOADS["spans_mixed"].pdf_sample > 0


def test_run_job_metrics_are_per_layer():
    assert set(metrics.RUN_JOB) <= set(metrics.PER_LAYER)
