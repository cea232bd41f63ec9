"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The input tests take seconds. The output tests run the benchmark once per
workload with ``--seconds 1`` (plus one traced run), a few minutes in all.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(root, f), d)
        for root, _, files in os.walk(d)
        for f in files
    )


def _write(tmp_path, name: str, seed: int) -> str:
    d = str(tmp_path / name)
    datagen.write_inputs(d, seed, [1])
    return d


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write(tmp_path, "a", 7)
    b = _write(tmp_path, "b", 7)
    assert _files(a) == _files(b)
    assert len(_files(a)) == len(datagen.TABLES) + len(datagen.CORPUS_TABLES)
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_gives_other_inputs(tmp_path):
    a = _write(tmp_path, "a", 7)
    c = _write(tmp_path, "c", 8)
    # region and nation are fixed dimension tables; everything else is drawn.
    drawn = [f for f in _files(a) if not f.endswith(("region.parquet", "nation.parquet"))]
    match, _, errors = filecmp.cmpfiles(a, c, drawn, shallow=False)
    assert match == [] and errors == []


def test_next_version_replaces_every_corpus_table(tmp_path):
    d = _write(tmp_path, "a", 7)
    for name in datagen.CORPUS_TABLES:
        assert not filecmp.cmp(
            os.path.join(d, "live", f"{name}.parquet"),
            os.path.join(d, "v1", f"{name}.parquet"),
            shallow=False,
        )


def test_documents_have_the_measured_shape():
    texts = datagen.corpus_tables(7, 0)["documents"].column("text").to_pylist()
    copies = [t for t in texts if t.endswith(" " + datagen.NEAR_COPY_MARK)]
    assert len(copies) == round(len(texts) * datagen.NEAR_COPY_SHARE)
    lo, hi = datagen.TOKENS
    for t in texts:
        words = t.split()
        n_marks = words.count(datagen.NEAR_COPY_MARK)
        assert lo <= len(words) - n_marks <= hi
        assert n_marks == 0 or words[-1] == datagen.NEAR_COPY_MARK


def _run(workload: str, trace: int, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _check_output(proc: subprocess.CompletedProcess, workload: str, spec_metrics: list[dict]):
    assert proc.returncode == 0, proc.stderr[-3000:]
    report_line, result_line = proc.stdout.strip().splitlines()[-2:]
    report, result = json.loads(report_line), json.loads(result_line)
    assert report["workload"] == workload
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and 0 <= result["failed"] <= result["attempted"]
    assert {m["name"]: m["unit"] for m in spec_metrics} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    return report, result


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_end_to_end_metric(workload):
    report, result = _check_output(_run(workload, 0), workload, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0, report["errors"]
    assert set(report["end_state"]) == {"persisted_rdds_end", "sink_views_end", "sink_dirs_end"}
    assert report["env"]["nproc"] >= 1 and report["seed"] == 1


def test_traced_run_prints_every_per_layer_metric():
    workload = SPEC["workloads"][0]["name"]
    report, _ = _check_output(_run(workload, 1), workload, SPEC["per_layer"])
    assert set(report["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    spans = [json.loads(line) for line in open(os.path.join(REPO, report["spans"]))]
    calls = {s["id"] for s in spans if s["name"] == "call"}
    assert calls and all(s["call"] in calls for s in spans if s["name"] != "call")


def test_fails_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: non-zero exit
    and no result line."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(REPO, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
