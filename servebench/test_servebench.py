"""The benchmark's own tests.

Run from the root of a checkout::

    python -m pytest servebench/test_servebench.py -q

The first tests are pure Python.  The smoke tests run ``run.py
--smoke`` (a tiny corpus, a two-second window) end to end, about a
minute per run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from check import same_ranking  # noqa: E402

EXPECTED = [(7, 1, 0.9), (3, 2, 0.8), (5, 3, 0.8), (9, 4, 0.5)]


def test_same_ranking_accepts_identical_and_float_noise():
    assert same_ranking(EXPECTED, list(EXPECTED))
    noisy = [(d, r, s + 1e-9) for d, r, s in EXPECTED]
    assert same_ranking(EXPECTED, noisy)


def test_same_ranking_accepts_swapped_ties():
    swapped = [(7, 1, 0.9), (5, 2, 0.8), (3, 3, 0.8), (9, 4, 0.5)]
    assert same_ranking(EXPECTED, swapped)
    # another document tied with the k-th score made the cut
    assert same_ranking(EXPECTED, EXPECTED[:3] + [(8, 4, 0.5)])


@pytest.mark.parametrize("corrupted", [
    [(7, 1, 0.9), (8, 2, 0.8), (5, 3, 0.8), (9, 4, 0.5)],   # wrong doc
    [(7, 1, 0.9), (3, 2, 0.8), (5, 3, 0.8), (9, 4, 0.49)],  # wrong score
    [(3, 1, 0.8), (7, 2, 0.9), (5, 3, 0.8), (9, 4, 0.5)],   # wrong order
    [(7, 1, 0.9), (3, 2, 0.8), (5, 3, 0.8)],                # hit missing
    [(7, 1, 0.9), (3, 3, 0.8), (5, 4, 0.8), (9, 5, 0.5)],   # rank gap
])
def test_same_ranking_rejects_corrupted_answers(corrupted):
    assert not same_ranking(EXPECTED, corrupted)


def test_inputs_follow_the_seed():
    assert inputs.query_set(3) == inputs.query_set(3)
    assert inputs.query_set(3) != inputs.query_set(4)
    assert inputs.doc_row(3, 10) == inputs.doc_row(3, 10)
    pool = inputs.query_set(3)
    assert len(set(pool)) == len(pool)
    assert sum(map(inputs.is_oov, pool)) == len(inputs.OOV_QUERIES)
    assert not any(inputs.is_oov(q) and t in inputs.doc_row(3, i)["content"]
                   for q in inputs.OOV_QUERIES for t in q.split()
                   for i in range(200))


def test_pool_with_corpus_df_keeps_only_scoring_terms():
    df = inputs.term_df(3, 100, str.split)
    pool = inputs.query_set(3, df=df)
    assert len(set(pool)) == len(pool) == 48
    assert all(df[t] >= 3 for q in pool if not inputs.is_oov(q)
               for t in q.split())


def test_metric_tables_match_benchmark_json():
    from worker import END_TO_END, PER_LAYER
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        assert declared == table
    assert {w["name"] for w in bench["workloads"]} == {
        "serve_search", "ingest_live"}


def _smoke(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "2", "--trace", str(trace),
         "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    detail = json.loads(lines[-2].split(" ", 1)[1])
    return detail, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["serve_search", "ingest_live"])
def test_smoke_prints_every_metric_with_its_unit(workload):
    from worker import END_TO_END, PER_LAYER
    for trace, table in ((0, END_TO_END), (1, PER_LAYER)):
        detail, result = _smoke(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= 1
        assert {k: v["unit"] for k, v in result["metrics"].items()} == {
            k: unit for k, (unit, _) in table.items()}
        assert all(isinstance(v["value"], float)
                   for v in result["metrics"].values())
        assert detail["workload"] == workload
        assert all("unit" in v for v in detail["metrics"].values())


@pytest.mark.parametrize("workload", ["serve_search", "ingest_live"])
def test_corrupted_answer_counts_as_failed(workload):
    _, result = _smoke(workload, 0, "--corrupt")
    assert not result["correct"]
    assert result["failed"] >= 1
