"""Self-test of the benchmark on tiny corpora.

    python3 -m pytest perfbench/test_selftest.py -q

Checks that every metric BENCHMARK.json names is emitted with its unit,
that traced spans nest, that a corrupted assignment fails the images
check, and that the benchmark refuses to run without the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _check_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_end_to_end_metrics_emitted():
    res = _result(_run("text_tiny", 0))
    _check_metrics(res, BENCH["end_to_end"])
    for m in BENCH["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


def test_traced_metrics_emitted_and_spans_nest():
    res = _result(_run("images_tiny", 1))
    _check_metrics(res, BENCH["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["resume.jobs"] == 0
    assert m["pipeline.run.jobs"] > 0 and m["stage.image_pairs.jobs"] > 0
    assert m["pipeline.run.self_s"] + m["pipeline.run.stage_s"] == pytest.approx(
        m["pipeline.run.s"])

    with open(os.path.join(ROOT, ".perfbench", "out", "spans-images_tiny-s3.json")) as f:
        spans = {s["id"]: s for s in json.load(f)["spans"]}
    names = {s["name"] for s in spans.values()}
    assert {"pass", "pipeline.run", "stage.assignments", "write.assignments",
            "operators.connected_components"} <= names
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is None:
            assert s["name"] == "pass"
            continue
        p = spans[s["parent"]]
        assert p["start"] <= s["start"] and s["end"] <= p["end"] + 1e-3, (s, p)
    for s in spans.values():
        if s["name"].startswith("stage."):
            assert spans[s["parent"]]["name"] in ("pipeline.run",) or spans[
                s["parent"]]["name"].startswith(("stage.", "operators."))


def test_corrupted_assignment_fails_the_check(tmp_path):
    from perfbench.workloads import ImagesWorkload

    wl = ImagesWorkload("images_tiny", {"n_base": 60}, 3, str(tmp_path),
                        os.path.join(ROOT, ".perfbench", "cache"))
    wl.hashes.path = str(tmp_path / "hashes.json")
    wl.hashes.known = {}
    wl.prepare()
    good = pd.read_parquet(wl.corpus["golden_assignments"])
    out = tmp_path / "assignments"

    def write(df):
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir()
        df.to_parquet(out / "part-0.parquet", index=False)
        return wl._check_assignments(str(tmp_path))

    ok, recall = write(good)
    assert ok and recall == 1.0, wl.problems

    split = good.copy()
    split.loc[split.image_id == wl.dup.b.iloc[0], "cluster_id"] = "corrupt"
    ok, recall = write(split)
    assert not ok and recall < 1.0
    assert any("hash differs" in p for p in wl.problems)

    ok, _ = write(good.iloc[1:])
    assert not ok
    assert any("exactly once" in p for p in wl.problems)

    # a merged hard negative with no engine edge chain behind it
    edges = tmp_path / "edges"
    edges.mkdir()
    pd.DataFrame({"a": ["x"], "b": ["y"], "tier": ["caption"]}).to_parquet(
        edges / "part-0.parquet", index=False)
    a, b = wl.hardneg.iloc[0]
    merged = good.copy()
    merged.loc[merged.image_id == b, "cluster_id"] = good.set_index("image_id").cluster_id[a]
    ok, _ = write(merged)
    assert not ok
    assert any("falsely merged" in p for p in wl.problems)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("images_small", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert "correct" not in p.stdout
