"""Smoke test of the benchmark itself: the seeded generators, every
workload at the tiny size through its checks, and the output format that
BENCHMARK.json promises.

    python3 -m pytest perfbench/smoke_test.py -q

Each workload run starts its own Spark JVM, so the whole file takes a
few minutes.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT, size: str = "tiny"):
    cmd = [sys.executable, os.path.join(cwd, *SPEC["command"][1].split("/")),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", size]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int) and out["failed"] >= 0
    return out


def _check_metrics(out: dict, spec: list) -> None:
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"])


def test_inputs_are_seeded_and_distinct():
    from perfbench import inputs

    pdf = inputs.conversations(0, 20, 3)
    a = inputs.search_log(pdf, 3, 3)
    assert a == inputs.search_log(inputs.conversations(0, 20, 3), 3, 3)
    assert a != inputs.search_log(pdf, 4, 3)
    assert len({r.path for r in a}) == len(a)
    assert [r.family for r in a[:len(inputs.SEARCH_FAMILIES)]] == list(
        inputs.SEARCH_FAMILIES)
    hot = list(itertools.islice(inputs.hot_log(pdf, 3), 200))
    assert hot == list(itertools.islice(inputs.hot_log(pdf, 3), 200))
    repeats = sum(1 for i in range(200) if i % 4 == 3 and i >= 8)
    assert len({r.path for r in hot}) == 200 - repeats < 256
    ids = inputs.pick_doc_ids(pdf, 3, 4, "x")
    assert ids == inputs.pick_doc_ids(pdf, 3, 4, "x") and len(set(ids)) == 4


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_output(workload, trace):
    out = _result(_run(workload, trace))
    assert out["correct"] and out["failed"] == 0
    _check_metrics(out, SPEC["per_layer" if trace else "end_to_end"])


def test_ingest_runs_and_counts_failures():
    """The ingest workload (run by hand, not by BENCHMARK.json) completes
    and reports its operations, failed ones included."""
    out = _result(_run("ingest", 0))
    _check_metrics(out, SPEC["end_to_end"])
    assert out["failed"] <= out["attempted"]


def test_refuses_without_the_program(tmp_path):
    """In a tree holding only the benchmark, the run fails before printing
    any result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.xfail(strict=True, reason=(
    "known defect: on an index with tombstones, phrase-family scores of "
    "surviving docs change (phrase df counts exclude deleted docs), "
    "against the 'statistics unchanged until purge' contract of "
    "indexing/deletes.py"))
def test_phrase_scores_survive_deletes(tmp_path):
    """Why `search` carries no deletes: a tombstone must only hide docs.
    The oracle page with the deleted docs filtered out is the expected
    answer."""
    from perfbench import checks, harness, inputs

    run = harness.Run(2)
    try:
        spark = run.start_spark(trace=False)
        from apt_search_engine_spark.corpus import gen_corpus_spark
        from apt_search_engine_spark.indexing.build import IndexBuilder
        from apt_search_engine_spark.indexing.deletes import delete_docs
        from apt_search_engine_spark.query.engine import SearchEngine

        pdf = inputs.conversations(0, 12, 42)
        idx = run.path("index")
        IndexBuilder(spark, idx, n_batches=1).build(
            gen_corpus_spark(spark, 12, seed=42))
        oracle = checks.make_oracle(pdf)
        # a rare phrase: one deleted match then moves the integer idf
        pairs, _ = inputs._pairs_and_words(pdf)
        query = next(q for q in ('"%s %s"' % p for p in pairs)
                     if len(oracle.search(q, k=3)) >= 2)
        want = oracle.search(query, k=10)
        dead = {want[1]["doc_id"]}
        delete_docs(spark, idx, sorted(dead))
        got = SearchEngine(spark, index_dir=idx).search(query, k=10)
        want = [r for r in oracle.search(query, k=11) if r["doc_id"] not in dead]
        assert [(r["url"], r["score"]) for r in got] == [
            (r["url"], r["score"]) for r in want]
    finally:
        run.close()
