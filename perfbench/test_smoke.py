"""Smoke test of the benchmark at tiny size (sf0.001 fixtures, 2 MiB corpus).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced.  Each run must print every metric
BENCHMARK.json names, with its unit, and no query may fail (fail_frac 0).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import corpus  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def results() -> dict:
    return {(w, t): _result(_run(w, t)) for w in WORKLOADS for t in (0, 1)}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_with_unit_and_no_failures(results, workload, trace):
    res = results[(workload, trace)]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] / res["attempted"] == 0.0  # fail_frac
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {k: v["unit"] for k, v in res["metrics"].items()}
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_layer_sanity(results):
    def layer(workload, name):
        return results[(workload, 1)]["metrics"][name]["value"]

    assert layer("kernels-fixtures", "python.stages") > 0
    assert layer("sql-stream-fixtures", "python.stages") == 0
    assert layer("wordcount-corpus", "python.stages") == 0
    for w in WORKLOADS:
        assert (layer(w, "stream.batches") > 0) == (w == "sql-stream-fixtures"), w


def test_end_to_end_metrics_nonzero(results):
    for w in WORKLOADS:
        for name, v in results[(w, 0)]["metrics"].items():
            assert v["value"] > 0, (w, name)


def test_corpus_is_seeded_and_checked_exactly(tmp_path):
    a_path, a_counts = corpus.cached_corpus(str(tmp_path / "a"), 3, 0.05)
    b_path, b_counts = corpus.cached_corpus(str(tmp_path / "b"), 3, 0.05)
    with open(a_path, "rb") as fa, open(b_path, "rb") as fb:
        assert fa.read() == fb.read()
    with open(a_path) as f:
        n_lines = sum(1 for _ in f) - corpus.VOCAB_SIZE
    assert n_lines > 0
    assert a_counts.sum() == n_lines * corpus.WORDS_PER_LINE + corpus.VOCAB_SIZE
    assert np.array_equal(a_counts, b_counts)

    out = tmp_path / "sink"
    out.mkdir()
    words = corpus.vocab()
    good = "".join(f"{w} {c}\n" for w, c in sorted(zip(words, a_counts.tolist())))
    (out / "part-00000.txt").write_text(good)
    corpus.check_sink(str(out), a_counts)
    (out / "part-00000.txt").write_text(good.replace(f"{words[0]} {a_counts[0]}", f"{words[0]} {a_counts[0] + 1}"))
    with pytest.raises(AssertionError):
        corpus.check_sink(str(out), a_counts)


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
