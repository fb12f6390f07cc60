"""End-to-end smoke of the benchmark: every workload on tiny inputs, both
untraced and traced, plus the refusal to run without the engine."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

#: the traced spans must account for this share of each timed operation's
#: wall time; the rest is benchmark glue between spans
COVERAGE_TOLERANCE = 0.05


@pytest.fixture(scope="module")
def spans_file(tmp_path_factory):
    return tmp_path_factory.mktemp("spans") / "spans.jsonl"


@pytest.fixture(scope="module")
def smoke(spans_file):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke", "--seed", "3", "--spans", str(spans_file)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_smoke_runs_every_workload_correctly_both_ways(smoke):
    assert smoke["correct"]
    assert set(smoke["smoke"]) == set(run.WORKLOADS)
    for name, entry in smoke["smoke"].items():
        assert entry["attempted"] > 0 and entry["failed"] == 0, name
        assert set(entry["untraced"]["e2e"]) == set(run.E2E), name
        e2e = entry["untraced"]["e2e"]
        assert all(e2e[k] > 0 for k in e2e if k != "setup_s"), e2e
        assert entry["trace_overhead_s"] >= 0, name


def test_spans_are_written_out_with_parent_and_run_id(smoke, spans_file):
    rows = [json.loads(line) for line in open(spans_file, encoding="utf-8")]
    assert {"id", "name", "layer", "parent", "run_id", "start", "end"} <= set(rows[0])
    assert {r["run_id"] for r in rows} == {f"smoke-3-{w}" for w in run.WORKLOADS}
    assert all(r["end"] >= r["start"] for r in rows)
    names = {r["name"] for r in rows}
    assert "plans.versioned.merge_scd1_versioned" in names and "catalog.q_star_join" in names


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        doc = json.load(f)
    assert doc["command"] == ["python3", "perfbench/run.py"] and doc["paths"] == ["perfbench"]
    assert [w["name"] for w in doc["workloads"]] == run.WORKLOADS
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.E2E
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.per_layer_names()
    assert len(doc["per_layer"]) <= 128


def test_traced_run_reports_every_per_layer_metric(smoke):
    names = set(run.per_layer_names())
    for name, entry in smoke["smoke"].items():
        layers = entry["traced"]["layers"]
        assert set(layers) == names, (name, names ^ set(layers))
        # top-level spans' self times add up to each operation's wall time
        assert layers["trace.op_coverage_min"] >= 1 - COVERAGE_TOLERANCE, name
        assert layers["trace.op_coverage_min"] <= 1 + 1e-9, name
        assert layers["session.jvm_peak_rss_mb"] > 0
        assert layers["trace.work_s"] > 0, name
    med = smoke["smoke"]["medallion_etl"]["traced"]["layers"]
    assert med["plans.versioned.jobs"] > 0 and med["plans.scd.rows_written_per_source_row"] > 1
    ana = smoke["smoke"]["analytics_mix"]["traced"]["layers"]
    assert ana["catalog.q_star_join.self_s"] > 0 and ana["operators.fastagg.calls"] > 0
    assert ana["operators.components.jobs"] > 0 and ana["operators.similarity.calls"] > 0
    assert ana["operators.dedup.lsh_candidates_per_pair"] >= 1
    assert med["catalog.q_star_join.self_s"] == 0 and ana["plans.versioned.calls"] == 0


def test_run_leaves_no_files_behind():
    work = os.path.join(ROOT, "perfbench", ".work")
    assert not os.path.isdir(work) or os.listdir(work) == []


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run must fail fast
    and print no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "medallion_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
