"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end tests run every workload at toy size (the sf0.001 corpus,
a few commits) in a subprocess, traced, and take a few minutes.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH]

from harness import Tracer, frame_digest, interval_union, percentile, validate_spans  # noqa: E402

WORKLOADS = ["pg_load", "table_rw", "query_mix"]


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- BENCHMARK.json stays within the benchmark format ---------------------------


def test_benchmark_json_within_format_limits():
    import re

    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == WORKLOADS
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]
    ]
    assert all(name_re.match(n) for n in names), names
    metric_names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(set(metric_names)) == len(metric_names)
    assert all(unit_re.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= b["end_to_end"][0].items()
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert 1 <= b["run_seconds"] <= 60


# -- span tree ------------------------------------------------------------------


def test_span_tree_well_formed():
    tr = Tracer(True, run_id="r1")
    with tr.span("outer"):
        with tr.span("a"):
            time.sleep(0.001)
        with tr.span("b"):
            with tr.span("b.inner"):
                pass
    assert validate_spans(tr.spans) == []
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["b.inner"]["parent"] == by_name["b"]["id"]
    assert by_name["outer"]["parent"] is None
    assert {s["run"] for s in tr.spans} == {"r1"}


def test_span_validator_rejects_bad_trees():
    spans = [
        {"id": "x-0", "name": "p", "parent": None, "run": "x", "start": 1.0, "end": 2.0},
        {"id": "x-1", "name": "late", "parent": "x-0", "run": "x", "start": 1.5, "end": 2.5},
        {"id": "y-0", "name": "alien", "parent": "x-0", "run": "y", "start": 1.1, "end": 1.2},
        {"id": "x-2", "name": "orphan", "parent": "x-9", "run": "x", "start": 1.1, "end": 1.2},
    ]
    bad = validate_spans(spans)
    assert any("late" in b and "outside" in b for b in bad)
    assert any("alien" in b and "run" in b for b in bad)
    assert any("orphan" in b and "missing" in b for b in bad)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


# -- helpers ----------------------------------------------------------------------


def test_stats_helpers():
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert percentile([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], 90) == 9
    assert percentile([], 50) == 0.0


def test_frame_digest_is_order_insensitive():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1 + 0.2, 1.5, None]})
    b = pd.DataFrame({"v": [None, 1.5, 0.3], "k": [3, 2, 1]})
    assert frame_digest(a) == frame_digest(b)
    c = b.assign(v=[None, 1.5, 0.4])
    assert frame_digest(a) != frame_digest(c)


# -- every workload end to end at toy size -----------------------------------------


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_traced_end_to_end_at_toy_size(workload):
    record, result = _run(workload, 1)
    assert result["correct"] is True, record["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    names = [m["name"] for m in _benchmark_json()["per_layer"]]
    assert list(result["metrics"]) == names
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    dumps = sorted(
        glob.glob(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed7-*.json")),
        key=os.path.getmtime,
    )
    with open(dumps[-1]) as fh:
        spans = json.load(fh)
    assert spans and validate_spans(spans) == []
    assert len({s["run"] for s in spans}) == 1


def test_untraced_run_emits_end_to_end_metrics():
    record, result = _run("query_mix", 0)
    assert result["correct"] is True, record["errors"]
    names = [m["name"] for m in _benchmark_json()["end_to_end"]]
    assert list(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for key in ("cores", "load1_start", "load1_end", "pyspark", "postgres", "seed"):
        assert key in record
