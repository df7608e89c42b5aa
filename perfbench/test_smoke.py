"""Smoke test of the benchmark: every workload at sf0.001, one operation each.

    python3 -m pytest perfbench/test_smoke.py -q

Pins the output shape: the result line's keys, every metric name and
unit, the workload keys, and each workload's named report lines.  Also
checks that BENCHMARK.json and the code declare the same metrics, and
that the benchmark refuses to run without the engine beside it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run          # noqa: E402
import workloads    # noqa: E402

REPORT = {
    "fit_lineitem": {"fit_s": "s", "train_rmse": "label", "local_booster_rmse": "label"},
    "tune_small": {"cv_s": "s", "cv_test_rmse": "label"},
    "score_lineitem": {"score_rows_per_s": "rows/s", "contribs_rows_per_s": "rows/s"},
    "dedup_documents": {"dedup_s": "s", "near_dup_share": "share"},
}
COMMON = {"setup_s": "s", "error_rate": "failed/attempted", "host_steal_share": "share",
          "peak_rss_mb": "MB"}
LINE = re.compile(r"^perfbench (\S+) (\S+) (\S+) (\S+) \(n=(\d+)\)$")


def smoke(trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--seed", "0", "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def check_result(res: dict, units: dict):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["attempted"] >= len(workloads.WORKLOADS) and res["failed"] == 0
    want = {f"{w}.{m}": u for w in workloads.WORKLOADS for m, u in units.items()}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], float)


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    listed = [w["name"] for w in bench["workloads"]]
    assert set(listed) <= set(workloads.WORKLOADS)
    # a workload left out of the file is measured as a listed one's companion
    companions = {workloads.COMPANIONS.get(w) for w in listed}
    assert set(workloads.WORKLOADS) <= set(listed) | companions


def test_end_to_end_output_shape():
    lines, res = smoke(0)
    check_result(res, run.END_TO_END)
    seen: dict[str, dict[str, str]] = {}
    for ln in lines:
        m = LINE.match(ln)
        assert m, ln
        seen.setdefault(m.group(1), {})[m.group(2)] = m.group(4)
    assert seen == {w: {**COMMON, **REPORT[w]} for w in workloads.WORKLOADS}


def test_per_layer_output_shape():
    lines, res = smoke(1)
    check_result(res, run.PER_LAYER)
    assert all(ln.startswith("perfbench ") for ln in lines)
    for w in workloads.WORKLOADS:
        with open(os.path.join(run.WORK, f"trace-{w}-seed0.json")) as f:
            trace = json.load(f)
        assert trace["workload"] == w and set(trace["layers"]) == set(run.PER_LAYER)
        spans = trace["spans"]
        assert any(s["parent"] is None for s in spans)
        assert any(s["layer"] == "spark.job" for s in spans)
        ids = {s["id"] for s in spans}
        assert all(s["parent"] is None or s["parent"] in ids for s in spans)


def test_refuses_without_engine():
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "fit_lineitem",
             "--seed", "0", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0
        assert "{" not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
