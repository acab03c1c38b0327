"""Tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench -q

Each CLI test starts its own engine session (about a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _cli(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _declared(kind: str) -> dict:
    return {m["name"]: m["unit"] for m in BENCH[kind]}


def test_declared_metrics_and_workloads_match_the_harness():
    from perfbench.run import END_TO_END, per_layer_units
    from perfbench.workloads import WORKLOADS

    assert _declared("end_to_end") == END_TO_END
    assert _declared("per_layer") == per_layer_units()
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


def test_compare_flags_a_corrupted_digest():
    from perfbench.workloads import compare

    ref = {"decision_digest": -4836049594591926171, "n_docs": 400}
    assert compare(dict(ref), ref) == []
    bad = compare({**ref, "decision_digest": ref["decision_digest"] ^ 1}, ref)
    assert len(bad) == 1 and bad[0].startswith("decision_digest")


@pytest.mark.parametrize("workload,trace", [("lifecycle", 0),
                                            ("lifecycle", 1),
                                            ("curate", 1)])
def test_cli_prints_every_metric_with_its_unit(workload, trace):
    p = _cli(ROOT, "--workload", workload, "--seed", "0", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    assert units == _declared("per_layer" if trace else "end_to_end")
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    detail = json.loads(p.stdout.strip().splitlines()[-2])["perfbench"]
    spans_file = ROOT / detail["spans_file"]
    spans = json.loads(spans_file.read_text())["spans"]
    spans_file.unlink()
    assert {s["run_id"] for s in spans} == {spans[0]["run_id"]}
    if workload == "lifecycle":
        assert values["cascade.run_cascade.jobs"] > 0
        assert values["cascade.run_cascade.py_sent_mb"] > 0
        assert values["compress.apply_retention_1h.write_mb"] > 0
        assert values["cascade.rerun_buckets_processed"] == 0
        assert values["curate.curate_corpus.wall_s"] == 0
    else:
        assert values["curate.curate_corpus.task_s"] > 0
        assert values["dedup.connected_components_s"] > 0
        assert values["cascade.run_cascade.wall_s"] == 0


def test_corrupted_output_digest_counts_as_a_failed_iteration():
    from perfbench.run import REFERENCE, run

    ref = json.loads(REFERENCE.read_text())
    ref["tiny"]["curate"]["0"]["outputs"]["decision_digest"] ^= 1
    res, detail = run("curate", 0, 1, False, "tiny", ref)
    assert not res["correct"]
    assert res["attempted"] >= 1 and res["failed"] == res["attempted"]
    assert detail["iterations"][0]["errors"][0].startswith("decision_digest")


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _cli(tmp_path, "--workload", "curate", "--seed", "0",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
