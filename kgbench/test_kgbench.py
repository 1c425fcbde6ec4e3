"""Tests of the benchmark's own code at tiny sizes.

    python3 -m pytest kgbench/test_kgbench.py -q

Every workload runs in both modes with a few dozen documents; the printed
metrics must be exactly the names BENCHMARK.json registers, each with its
unit, and a wrong expected output must count as a failed operation.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
from pathlib import Path

import pytest

from kgbench import corpus, oracle, run, workloads
from kgbench.layers import LAYERS
from kgbench.workloads import Record, failed_records

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Shrink every workload and keep the benchmark's environment changes
    local to the test."""
    for key in ("PYTHONPATH", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS",
                "SPARK_GRAFT_CPUS", "TMPDIR"):
        monkeypatch.setenv(key, "")
    monkeypatch.setattr(workloads, "WORKLOADS", {
        name: dataclasses.replace(wl, n_docs=60, n_delta=8)
        for name, wl in workloads.WORKLOADS.items()})
    return tmp_path


def _run(workload: str, trace: int, work: Path):
    args = argparse.Namespace(workload=workload, seed=3, seconds=0.0, trace=trace)
    return run.run(args, work)


def _expect_metrics(result: dict, registered: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in registered}
    for m in registered:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_workloads_match_benchmark_json():
    assert WORKLOAD_NAMES == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_end_to_end_run(tiny, workload):
    result, _metrics, env = _run(workload, 0, tiny / "run")
    assert result["correct"], env
    assert result["failed"] == 0 and result["attempted"] >= 1
    _expect_metrics(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert env["nproc"] >= 1 and len(env["loadavg_after"]) == 3


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_traced_run(tiny, workload):
    result, _metrics, env = _run(workload, 1, tiny / "run")
    assert result["correct"], env
    _expect_metrics(result, SPEC["per_layer"])
    idle = "sparql" if workloads.WORKLOADS[workload].op == "build" else "incremental"
    assert all(result["metrics"][f"{layer}.wall_s"]["value"] > 0
               for layer in LAYERS if layer != idle)
    assert result["metrics"][f"{idle}.wall_s"]["value"] == 0
    share = result["metrics"]["build.layer_wall_share"]["value"]
    assert 0.9 <= share <= 1.1


def test_output_mismatch_counts_as_failure(tiny, monkeypatch):
    real = oracle.expected

    def wrong(*args, **kwargs):
        exp = real(*args, **kwargs)
        exp["build"]["hashes"]["edges"] = "0" * 64
        return exp

    monkeypatch.setattr(oracle, "expected", wrong)
    result, _metrics, env = _run(WORKLOAD_NAMES[0], 0, tiny / "run")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert "build" in env["mismatches"]


def test_failed_records_compares_counts_hashes_and_rows():
    exp = {"build": {"counts": {"edges": 2}, "hashes": {"edges": "a"}},
           "ingest": {"counts": {"edges": 3}, "hashes": {"edges": "b"}},
           "op_rows": [{"hub_star": 5}, {"hub_star": 6}]}
    good = [Record("build", 0, 1.0, {"edges": 2, "docs": 9}, {"edges": "a"}),
            Record("hub_star", 0, 0.1, rows=5),
            Record("ingest", 1, 1.0, {"edges": 3}, {"edges": "b"}),
            Record("hub_star", 1, 0.1, rows=6)]
    assert failed_records(good, exp) == []
    bad = [Record("build", 0, 1.0, {"edges": 2}, {"edges": "x"}),
           Record("ingest", 1, 1.0, {"edges": 4}, {"edges": "b"}),
           Record("hub_star", 1, 0.1, rows=5)]
    assert failed_records(bad, exp) == ["build", "ingest", "hub_star"]


@pytest.mark.parametrize("kind", sorted(corpus.GENERATORS))
def test_inputs_are_byte_identical_per_seed(tmp_path, kind):
    a = corpus.write_docs(str(tmp_path / "a.parquet"), kind, 50, seed=5)
    b = corpus.write_docs(str(tmp_path / "b.parquet"), kind, 50, seed=5)
    c = corpus.write_docs(str(tmp_path / "c.parquet"), kind, 50, seed=6)
    assert a == b != c
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


def test_pool_corpus_is_the_generate_docs_rows():
    from lingvo_spark_kg.fixtures.corpus import make_docs

    table = corpus.docs_table("pool", 20, seed=4, start=7)
    assert list(zip(table.column("doc_id").to_pylist(),
                    table.column("spans").to_pylist())) == list(make_docs(20, 4, 7))


def test_unique_corpus_is_mostly_unique():
    table = corpus.docs_table("unique", 300, seed=1)
    texts = [s["text"] for spans in table.column("spans").to_pylist()
             for s in spans if s["kind"] == "text"]
    assert len(set(texts)) > 0.6 * len(texts)
