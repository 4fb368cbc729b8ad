"""Traced run on the tiny sf0.001 tables: the span tree is well formed and
every per-layer metric is reported.

    python -m pytest perfbench/test_trace.py -q     # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from spans import self_times  # noqa: E402

EPS = 1e-9


def _tiny_base() -> str:
    from celeborn_spark.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(os.path.abspath(DEFAULT_SF_DIR)), "sf0.001")


def _traced_run(workload: str, spans_path: str) -> dict:
    base = _tiny_base()
    if not os.path.isdir(base):
        pytest.skip(f"tiny base tables not found at {base}")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1", "--base", base, "--spans", spans_path],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["olap", "iterative_small"])
def test_span_tree_is_well_formed(workload):
    spans_path = os.path.join(ROOT, ".perfbench_cache", "spans", f"test-{workload}.json")
    result = _traced_run(workload, spans_path)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        per_layer = json.load(fh)["per_layer"]
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(per_layer)

    with open(spans_path) as fh:
        spans = json.load(fh)
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert len(roots) == 1, [r["name"] for r in roots]
    root = roots[0]
    for s in spans:
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] - EPS <= s["start"] and s["end"] <= p["end"] + EPS, (s, p)
    selfs = self_times(spans)
    assert min(selfs.values()) >= -EPS
    assert sum(selfs.values()) == pytest.approx(root["end"] - root["start"], rel=1e-9, abs=1e-6)

    names = {s["name"] for s in spans}
    assert {"setup", "session.start", "registry.load", "session.warm", "query",
            "queries.build", "catalog.load_table", "exec.action", "plans.plan"} <= names
    if workload == "olap":
        assert {"io.write", "io.read_pruned"} <= names
        assert result["metrics"]["io.bytes_written"]["value"] > 0
    else:
        assert "streaming.run_stream_to_table" in names
        assert result["metrics"]["io.bytes_written"]["value"] == 0


def test_self_times_subtract_child_cover():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}
