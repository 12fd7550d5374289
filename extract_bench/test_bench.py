"""Self-tests of the benchmark itself.

    python3 -m pytest extract_bench -q

The tiny runs start Spark six times and take a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

from extract_bench import check, workloads  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYERS = json.loads((ROOT / "extract_bench" / "metrics.json").read_text())["per_layer"]


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "extract_bench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_reports_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout[:2000]
    result = json.loads(lines[0])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {name: m["unit"] for name, m in result["metrics"].items()} == want
    values = {name: m["value"] for name, m in result["metrics"].items()}
    if trace:
        ledger = sum(values[n] for n, d in LAYERS.items() if d.get("ledger"))
        assert ledger == pytest.approx(values["ledger.wall_s"])
    else:
        assert all(v > 0 for v in values.values()), values


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "extract_bench", tmp_path / "extract_bench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "batch-mixed", 0)
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def truth():
    inputs = workloads.batch_inputs(seed=3, n_docs=60, html_fraction=workloads.DEFAULT_HTML_FRACTION)
    expected = {r["url"]: check.oracle(r["html"]) for r in inputs.rows}
    committed = [(url, js is not None, js) for url, js in expected.items()]
    manifest = {
        "totals": {
            "rows_in": len(expected),
            "parse_failures": sum(js is None for js in expected.values()),
        }
    }
    return expected, committed, manifest


def test_check_passes_the_oracle_itself(truth):
    expected, committed, manifest = truth
    assert any(js is None for js in expected.values())  # the corrupt slice is in
    assert check.compare(expected, committed, manifest)[0] == 0


def test_check_fires_on_an_altered_outline_json(truth):
    expected, committed, manifest = truth
    i = next(i for i, (_u, ok, _js) in enumerate(committed) if ok)
    url, ok, js = committed[i]
    altered = committed[:i] + [(url, ok, js.replace("\n", "\n ", 1))] + committed[i + 1 :]
    assert check.compare(expected, altered, manifest)[0] == 1


def test_check_fires_on_a_dropped_row(truth):
    expected, committed, manifest = truth
    dropped = committed[1:]
    assert check.compare(expected, dropped, manifest)[0] == 1
    recounted = {"totals": {**manifest["totals"], "rows_in": len(dropped)}}
    assert check.compare(expected, dropped, recounted)[0] == 2


def test_check_fires_on_a_url_committed_twice(truth):
    expected, committed, manifest = truth
    assert check.compare(expected, committed + committed[:1], manifest)[0] == 1
