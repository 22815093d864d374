"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q``.

The first two are fast; the others each start full benchmark runs
(about a minute apiece).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    return out.returncode, out.stdout.strip().splitlines()


def test_metric_names_valid():
    spec = _spec()
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(layers) <= 128
    names = [m["name"] for m in e2e + layers] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layers:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    # what run.py reports is exactly what BENCHMARK.json declares
    assert {m["name"]: m["unit"] for m in e2e} == run.END_TO_END
    assert [m["name"] for m in layers] == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_fails_without_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, a run
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _run("ppdb_ingest", 1, 0, cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith("{") for line in lines)


def test_traced_counts_repeat():
    """Jobs, tasks, input bytes and shuffle bytes are counts of one
    deterministic program: two traced ppdb_ingest runs agree exactly."""
    results = []
    for _ in range(2):
        code, lines = _run("ppdb_ingest", 3, 1)
        assert code == 0
        results.append(json.loads(lines[-1]))
    a, b = (r["metrics"] for r in results)
    assert all(r["correct"] for r in results)
    keys = ["spark.tasks", "sources.input_bytes"] + [
        k for k in a if k.endswith((".jobs", ".shuffle_bytes"))
        and k.split(".")[0] in {s.name for s in WORKLOADS["ppdb_ingest"]}
    ]
    assert len(keys) == 10
    for k in keys:
        assert a[k]["value"] == b[k]["value"], k
        assert a[k]["value"] > 0 or k.endswith("shuffle_bytes"), k


def test_corrupted_golden_fails(tmp_path, monkeypatch, capsys):
    """A run in this process, reading a goldens file with one hash
    flipped, reports the mismatch as failed step executions."""
    with open(run.GOLDENS) as f:
        goldens = json.load(f)
    workload = "dedup_similarity"
    entry = goldens[workload]["42"]
    query = next(iter(entry))
    entry[query] = [entry[query][0], entry[query][1] ^ 1]
    path = tmp_path / "goldens.json"
    path.write_text(json.dumps(goldens))
    monkeypatch.setattr(run, "GOLDENS", str(path))
    environ = dict(os.environ)  # run.main pins the deployment through it
    try:
        code = run.main(
            ["--workload", workload, "--seed", "42", "--seconds", "1", "--trace", "0"]
        )
    finally:
        os.environ.clear()
        os.environ.update(environ)
    assert code == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not result["correct"]
    assert result["failed"] > 0
    assert result["metrics"]["success_rate"]["value"] < 1.0
