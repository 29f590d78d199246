"""Smoke test of the benchmark at sf0.001-sized inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced in ``--smoke`` mode and
checks the result line against BENCHMARK.json; checks the generators'
contracts; and checks that the benchmark fails without printing a result
when the engine is not beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import mirror  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_expected_text_is_what_a_mime_parser_returns():
    for msg_id, raw, text in datagen.EmailStream(5).take(300):
        assert datagen.plain_text(raw) == text, msg_id


def test_generators_are_pure_functions_of_the_seed():
    assert datagen.EmailStream(9).take(20) == datagen.EmailStream(9).take(20)
    assert datagen.chat_queries(9, 50) == datagen.chat_queries(9, 50)
    a = datagen.batch_tables(9, workloads.SIZES["smoke"]["tables"])
    b = datagen.batch_tables(9, workloads.SIZES["smoke"]["tables"])
    assert all(a[k].equals(b[k]) for k in a)


def test_mirror_topk_orders_by_distance_then_id():
    m = mirror.StoreMirror(mirror.HashEmbedder(16))
    m.add([("b", "x y"), ("a", "x y"), ("c", "z")])
    q = m.embed("x y")
    assert [m.ids[i] for i in m.topk(q, 2)] == ["a", "b"]
    m.delete(["a"])
    assert [m.ids[i] for i in m.topk(q, 2)] == ["b", "c"]


def test_metric_lists_match_benchmark_json():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        workloads.E2E_METRICS
    )
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        workloads.LAYER_METRICS
    )
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["ingest", "chat", "batch"])
def test_smoke_run(workload, trace):
    p = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
        "--trace", str(trace), "--smoke",
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = _spec()
    listed = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in listed} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "chat", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
