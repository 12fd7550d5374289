"""Pin the one-session scaling protocol in bench.py: the median-based
efficiency, the ≥0.8 verdict on raw or normalized efficiency, the
ceiling clamp, the interleaved round order, and that ``--scaling``
writes nothing into the checkout.  No Spark needed: the compute job,
the spark-submit run and the ceiling probe are monkeypatched.
"""

from __future__ import annotations

import importlib.util
import json
import sys
import tempfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _load_bench(repo_dir: Path):
    # load a copy under a throwaway name with _REPO pointed at repo_dir
    spec = importlib.util.spec_from_file_location("bench_scaling_test", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_scaling_test"] = mod
    spec.loader.exec_module(mod)
    mod._REPO = repo_dir
    return mod


@pytest.fixture()
def bench(tmp_path):
    return _load_bench(tmp_path)


def _samples(t_lo: float, t_hi: float) -> dict:
    return {stage: {1: [t_lo], 4: [t_hi]} for stage in ("compute", "e2e")}


def test_spread_median_and_quartiles(bench):
    # interleaved draws arrive unsorted; odd and even sample counts
    assert bench._spread([5.0, 1.0, 4.0, 2.0, 3.0]) == {
        "n": 5, "min": 1.0, "q1": 2.0, "median": 3.0, "q3": 4.0,
    }
    assert bench._spread([4.0, 1.0, 3.0, 2.0]) == {
        "n": 4, "min": 1.0, "q1": 1.75, "median": 2.5, "q3": 3.25,
    }
    # one sample is its own quartiles
    assert bench._spread([2.5]) == {"n": 1, "min": 2.5, "q1": 2.5, "median": 2.5, "q3": 2.5}


def test_efficiency_uses_medians(bench):
    # one storm draw per level moves the min/max but not the median
    samples = {"e2e": {1: [40.0, 90.0, 41.0], 4: [10.0, 10.5, 30.0]}}
    out = bench.summarize_scaling(samples, 1, 4, ceiling=1.0)
    assert out["e2e"]["local1"]["median"] == 41.0
    assert out["e2e"]["local4"]["median"] == 10.5
    assert out["e2e"]["efficiency_raw"] == round(41.0 / (4 * 10.5), 3)


def test_verdict_flips_at_target_on_raw(bench):
    at = bench.summarize_scaling(_samples(3.2, 1.0), 1, 4, ceiling=1.0)
    below = bench.summarize_scaling(_samples(3.19, 1.0), 1, 4, ceiling=1.0)
    assert at["e2e"]["efficiency_raw"] == 0.8
    assert at["e2e"]["verdict"] == at["verdict"] == "PASS"
    assert below["e2e"]["verdict"] == below["verdict"] == "FAIL"


def test_verdict_flips_at_target_on_normalized(bench):
    # raw 0.6 fails on its own; the session ceiling decides
    passes = bench.summarize_scaling(_samples(2.4, 1.0), 1, 4, ceiling=0.74)
    fails = bench.summarize_scaling(_samples(2.4, 1.0), 1, 4, ceiling=0.76)
    assert passes["e2e"]["efficiency_raw"] == fails["e2e"]["efficiency_raw"] == 0.6
    assert passes["e2e"]["efficiency_normalized"] >= 0.8
    assert passes["verdict"] == "PASS"
    assert fails["e2e"]["efficiency_normalized"] < 0.8
    assert fails["verdict"] == "FAIL"


def test_ceiling_clamped_to_one(bench):
    out = bench.summarize_scaling(_samples(2.8, 1.0), 1, 4, ceiling=1.3)
    assert out["host_ceiling"] == 1.0
    assert out["e2e"]["efficiency_normalized"] == out["e2e"]["efficiency_raw"] == 0.7
    assert out["verdict"] == "FAIL"


def test_scaling_mode_interleaves_and_writes_no_file(tmp_path, monkeypatch, capsys):
    repo = tmp_path / "repo"
    (repo / "pdf_extractor_spark").mkdir(parents=True)
    (repo / "pdf_extractor_spark" / "__init__.py").write_text("")
    (repo / "BENCH").mkdir()
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "_SUCCESS").write_text("")
    (corpus / "_corpus_meta.json").write_text(json.dumps({"n_docs": 100, "seed": 42}))
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    monkeypatch.setenv("SPARK_GRAFT_SCALING_PAIR", "1,4")
    monkeypatch.setenv("SPARK_GRAFT_SCALING_DOCS", "100")
    monkeypatch.setenv("SPARK_GRAFT_SCALING_ROUNDS", "3")
    monkeypatch.setenv("SPARK_GRAFT_SCALING_CORPUS_DIR", str(corpus))

    bench = _load_bench(repo)
    order = []

    def compute_once(cores, corpus_dir):
        order.append(cores)
        return {1: 8.0, 4: 4.0}[cores]

    def submit_once(cores, input_dir, out_dir, zip_path):
        return {
            "elapsed_sec": {1: 10.0, 4: 4.0}[cores],
            "rows_out": 97,
            "parse_failures": 3,
            "payload_bytes": 2_000_000,
        }

    monkeypatch.setattr(bench, "_compute_once", compute_once)
    monkeypatch.setattr(bench, "_submit_once", submit_once)
    monkeypatch.setattr(bench, "_hardware_ceiling", lambda lo, hi: (0.9, 100.0, 360.0))

    before = sorted(p.relative_to(repo) for p in repo.rglob("*"))
    bench.scaling_mode()
    assert sorted(p.relative_to(repo) for p in repo.rglob("*")) == before

    assert order == [1, 4, 4, 1, 1, 4]  # each round flips which level goes first
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert out["e2e"]["local1"]["n"] == out["e2e"]["local4"]["n"] == 3
    assert out["compute"]["efficiency_raw"] == 0.5
    assert out["e2e"]["efficiency_raw"] == 0.625
    assert out["e2e"]["local4"]["docs_per_sec"] == 25.0
    assert out["e2e"]["local4"]["payload_mb_per_sec"] == 0.5
    assert out["ceiling_probe"]["ratio"] == out["host_ceiling"] == 0.9
    assert out["verdict"] == "FAIL"
