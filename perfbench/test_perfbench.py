"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The tiny-size runs (two workloads, trace off and on, 20 pages each) are
separate processes, as the CLI runs are, and take several minutes on a
4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gold import GoldGraph  # noqa: E402


def spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- gold reads
@pytest.fixture
def five_node_graph() -> GoldGraph:
    """Ana and Bo act in Tide; Ana directs Tide and acts in Dune;
    Tide is a Noir. Five nodes, five edges."""
    g = GoldGraph()
    g.add_nodes([
        ("Person", {"name": "Ana"}), ("Person", {"name": "Bo"}),
        ("Movie", {"title": "Tide", "release_year": 1999.0}),
        ("Movie", {"title": "Dune"}), ("Genre", {"name": "Noir"}),
    ])
    n = g.add_edges([
        ("ACTED_IN", "Person", "Movie", {"name": "Ana"}, {"title": "Tide"},
         {"role": "lead"}),
        ("ACTED_IN", "Person", "Movie", {"name": "Bo"}, {"title": "Tide"}, {}),
        ("ACTED_IN", "Person", "Movie", {"name": "Ana"}, {"title": "Dune"}, {}),
        ("DIRECTED", "Person", "Movie", {"name": "Ana"}, {"title": "Tide"}, {}),
        ("HAS_GENRE", "Movie", "Genre", {"title": "Tide"}, {"name": "Noir"},
         {}),
    ])
    assert n == 5
    return g


def test_gold_answers_on_five_node_graph(five_node_graph):
    g = five_node_graph
    assert g.answer("one_hop_agg") == [("Dune", 1), ("Tide", 2)]
    assert g.answer("two_hop_agg") == [("Noir", 2)]
    assert g.answer("prop_filter", "Tide") == [("Ana",), ("Bo",)]
    assert g.answer("prop_filter", "Dune") == [("Ana",)]
    assert g.answer("two_pattern_join", "Ana") == [("Tide", "Ana"),
                                                   ("Tide", "Bo")]
    assert g.answer("two_pattern_join", "Bo") == []


def test_gold_upserts_follow_merge_semantics(five_node_graph):
    g = five_node_graph
    # an edge to a missing endpoint is dropped; a repeated edge merges
    n = g.add_edges([
        ("ACTED_IN", "Person", "Movie", {"name": "Cy"}, {"title": "Tide"}, {}),
        ("ACTED_IN", "Person", "Movie", {"name": "Bo"}, {"title": "Tide"},
         {"role": "extra"}),
    ])
    assert n == 1
    assert g.answer("one_hop_agg") == [("Dune", 1), ("Tide", 2)]
    assert g.edges[("ACTED_IN", "Person", "Bo", "Movie", "Tide")] == {
        "role": "extra"}
    g.add_nodes([("Person", {"name": "Cy"})])
    g.add_edges([("ACTED_IN", "Person", "Movie", {"name": "Cy"},
                  {"title": "Tide"}, {})])
    assert g.answer("prop_filter", "Tide") == [("Ana",), ("Bo",), ("Cy",)]


# ---------------------------------------------------------- command line
def test_missing_program_exits_nonzero_without_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout == ""


def run_tiny(workload: str, trace: int) -> subprocess.CompletedProcess:
    """One benchmark run in its own process, as the CLI makes it, with the
    workloads shrunk to 20 pages."""
    args = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace)]
    code = (
        f"import sys; sys.path.insert(0, {HERE!r}); "
        "import build_workload, serve_workload, run; "
        "build_workload.BuildPages.n_pages = 20; "
        "serve_workload.ServeMixed.n_pages = 20; "
        f"sys.exit(run.main({args!r}))"
    )
    return subprocess.run(
        [sys.executable, "-c", code], cwd=os.path.dirname(HERE),
        capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["build_pages", "serve_mixed"])
def test_tiny_run_emits_every_declared_metric(workload, trace):
    s = spec()
    assert workload in {w["name"] for w in s["workloads"]}
    r = run_tiny(workload, trace)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = s["per_layer"] if trace else s["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    report = json.loads(lines[-2])["report"]
    assert report["workload"] == workload and report["failed_frac"] == 0.0
