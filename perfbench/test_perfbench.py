"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The generator tests are fast. The smoke tests run every workload end to end
on a tiny corpus (about a minute each) and check that the result line names
every metric of ``BENCHMARK.json`` with its unit and that no operation
failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _inputs(seed: int):
    corpus = gen.make_corpus(seed, 1_500)
    queries = gen.make_queries(seed, corpus, "selective", 20) + gen.make_queries(
        seed, corpus, "broad", 20, (10, 100)
    )
    return corpus, queries


def test_same_seed_gives_byte_identical_inputs():
    assert gen.digest(*_inputs(5)) == gen.digest(*_inputs(5))


def test_different_seed_gives_different_inputs():
    assert gen.digest(*_inputs(5)) != gen.digest(*_inputs(6))


def test_row_order_is_docid_order():
    rows = gen.make_corpus(3, 2_000).rows
    assert rows == sorted(rows, key=lambda r: (r[0], r[1]))
    expected_turn = {}
    for conv, turn, *_ in rows:
        assert turn == expected_turn.get(conv, 0)  # dense 0..n-1 per conversation
        expected_turn[conv] = turn + 1


def test_split_conversations_cuts_at_conversation_starts():
    corpus = gen.make_corpus(3, 2_000)
    pieces = gen.split_conversations(corpus, [1_200, 300])
    assert [r for p in pieces for r in p.rows] == corpus.rows
    assert all(p.rows[0][1] == 0 for p in pieces if p.rows)
    assert len(pieces[0].rows) >= 1_200


def test_query_bands_hold():
    corpus = gen.make_corpus(4, 3_000)
    df = gen.surface_dfs(corpus)
    n = len(corpus.rows)
    for q in gen.make_queries(4, corpus, "selective", 50):
        assert all(df[w] <= gen.SELECTIVE_MAX_DF * n for w in q.text.split())
    for q in gen.make_queries(4, corpus, "broad", 50, (10, 100)):
        assert sum(df[w] > gen.BROAD_MIN_DF * n for w in q.text.split()) >= 1


def test_benchmark_json_names_every_workload():
    assert {w["name"] for w in _spec()["workloads"]} == set(WORKLOADS)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--turns", "1500"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_end_to_end_metric(workload):
    res = _result(_run(workload, trace=0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    for m in _spec()["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_traced_every_per_layer_metric(workload):
    res = _result(_run(workload, trace=1))
    assert res["correct"] and res["failed"] == 0
    for m in _spec()["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]


def test_fails_without_the_engine(tmp_path):
    """With only BENCHMARK.json and the benchmark's files present, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = _run(sorted(WORKLOADS)[0], trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
