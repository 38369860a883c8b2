"""The benchmark's own tests, on a 20k-row table. Run from the repository root:

    python3 -m pytest perfbench/check_perfbench.py -q -p no:cacheprovider

The file name keeps a plain ``pytest`` run of the repository from collecting
these slow Spark runs.

Each case runs the benchmark's ``main`` in this process against a temporary
work directory, with a one-second measurement.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from perfbench import inputs, oracle, run
from perfbench.leaves import HEADLINE_QUERIES

ROWS = 20_000
WORKLOADS = ["dense_suite", "resume_append"]


def _benchmark_spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(work_dir, capsys, monkeypatch, workload: str, trace: int) -> tuple[dict, dict]:
    monkeypatch.setattr(run, "WORK", str(work_dir))
    monkeypatch.setattr(inputs, "ROWS", ROWS)
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    assert run.main(argv) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench")


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted_with_unit(work_dir, capsys, monkeypatch, workload, trace):
    spec = _benchmark_spec()
    record, result = _run(work_dir, capsys, monkeypatch, workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in want)
    assert record["inputs"]["rows"] == ROWS and record["host"]["nproc"] >= 1
    if trace:
        assert result["metrics"]["ops_failed_frac"]["value"] == 0.0
        _check_trace_nesting(work_dir, workload)


def _check_trace_nesting(work_dir, workload: str) -> None:
    paths = glob.glob(os.path.join(work_dir, "traces", f"{workload}-*.json"))
    assert paths
    for path in paths:
        with open(path) as f:
            _check_spans(json.load(f), workload)


def _check_spans(spans: list[dict], workload: str) -> None:
    assert spans
    for sp in spans:
        assert sp["end"] >= sp["start"]
        assert sp["self_s"] >= -1e-9
        if sp["parent"] is not None:
            parent = spans[sp["parent"]]
            assert parent["start"] <= sp["start"] and sp["end"] <= parent["end"]
            assert parent["run_id"] == sp["run_id"]
    names = {sp["name"] for sp in spans}
    assert {"iteration", "rules.unique", "sources.warc.parse_warc_blobs"} <= names
    if workload == "resume_append":
        assert {"runner.run", "checkpoint.load", "checkpoint.append", "functions.kll.kll_profile"} <= names
        assert {f"leaf.{q}" for q in HEADLINE_QUERIES} <= names


def test_planted_wrong_expectation_counts_as_failed(work_dir, capsys, monkeypatch):
    real = oracle.load_expected

    def planted(paths):
        exp = json.loads(json.dumps(real(paths)))
        key = next(k for k in exp["verdicts"] if k.endswith("|unique(url)"))
        exp["verdicts"][key]["violations"] += 1
        return exp

    monkeypatch.setattr(oracle, "load_expected", planted)
    _, result = _run(work_dir, capsys, monkeypatch, "dense_suite", 1)
    assert not result["correct"]
    # every iteration fails; the leg probes, counted once, check no verdicts
    assert result["failed"] == result["attempted"] - 1 >= 1
    assert result["metrics"]["ops_failed_frac"]["value"] == result["failed"] / result["attempted"]


def test_self_time_subtracts_the_union_of_children():
    from perfbench.trace import Span, Tracer

    tr = Tracer.__new__(Tracer)
    tr.spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a
        Span("c", 8.0, 9.0, parent=0),
        Span("a.1", 1.5, 2.0, parent=1),
    ]
    assert tr.self_time(0) == pytest.approx(10.0 - 5.0 - 1.0)
    assert tr.self_time(1) == pytest.approx(3.0 - 0.5)
    assert tr.subtree(1) == [1, 4]
