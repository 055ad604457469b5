"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench -q

The Spark-driven tests run the workloads on a 600-turn corpus with
one-second timed phases; each starts its own JVM in a child process.
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
sys.path[:0] = [HERE, ROOT]

import per_layer  # noqa: E402
import run  # noqa: E402
import workload  # noqa: E402
from peterman_search_engine_spark.oracle.pyoracle import OracleIndex  # noqa: E402
from peterman_search_engine_spark.sources import transcripts  # noqa: E402
from queries import QUERY_BLOCK, QueryGen, words  # noqa: E402
from spans import self_time  # noqa: E402

CONTRACT_KEYS = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}

# Shrinks the workloads to a 600-turn corpus (60 conversations) for tests.
SMALL = """
import sys
sys.path.insert(0, {here!r})
import workload
workload.TIER, workload.TIER_SHAPE = "perfbench-test", (60, 10)
workload.BATCH_QUERIES = 10
workload.INGEST_BASE_CONVS, workload.INGEST_NEW_CONVS, workload.INGEST_RESENT_CONVS = 20, 5, 3
sys.exit(workload.main(sys.argv[1:]))
"""


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_emitted_metric():
    bench = _bench()
    assert set(bench) == CONTRACT_KEYS
    assert {w["name"] for w in bench["workloads"]} <= set(workload.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, per_layer.unit_of(n)) for n in per_layer.metric_names()
    ]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def _fake_run():
    class Args:
        trace = 0
        seed = 1
        work = ""
    return workload.Run(Args())


def _docs():
    texts = ["cat dog toy", "cat dot toy", "toy dog cat", "apple rotten barrel",
             "the cat sat on the dog", "rotten apple day"]
    return list(enumerate(texts))


def test_corrupted_result_counts_in_failed_ratio():
    oracle = OracleIndex(_docs())
    r = _fake_run()
    for kind in ("bm25", "tfidf", "wand", "and", "or", "phrase"):
        terms = ["cat", "dog"]
        good = workload.oracle_answer(oracle, kind, terms)
        assert good
        before = r.failed
        r.check_query(oracle, kind, terms, good, "test")
        assert r.failed == before
        if kind in ("and", "or", "phrase"):
            bad = good[:-1] + [99]
        else:
            bad = [(d, s + 1) for d, s in good]  # one e6 score unit off
        r.check_query(oracle, kind, terms, bad, "test")
        assert r.failed == before + 1
    assert (r.attempted, r.failed) == (12, 6)
    assert r.guarded("boom", lambda: 1 / 0) is None
    assert (r.attempted, r.failed) == (13, 7)

    res = {"workload": "search", "seed": 1, "attempted": r.attempted, "failed": r.failed,
           "notes": {"samples": 1},
           "end_to_end": {k: 1.0 for k in run.END_TO_END_UNITS if k != "peak_rss_mb"}}
    last = json.loads(run.report(res, 0, 100.0)[-1])
    assert last["correct"] is False
    assert (last["attempted"], last["failed"]) == (13, 7)


def test_query_stream_is_seeded_and_phrases_match():
    docs = [(i, r[3]) for i, r in enumerate(sorted(transcripts._gen_rows("small", 3)))]
    texts = [t for _, t in docs]
    a, b, c = (QueryGen(texts, s).stream() for s in (3, 3, 4))
    qa = [next(a) for _ in range(40)]
    assert qa == [next(b) for _ in range(40)]
    assert qa != [next(c) for _ in range(40)]
    assert [k for k, _ in qa] == [k for k, _ in QUERY_BLOCK] * 2
    oracle = OracleIndex(docs)
    for kind, terms in qa:
        assert all(w == words(w)[0] for w in terms)
        if kind == "phrase":
            assert oracle.search_phrase(terms)


def test_tier_is_the_medium_prefix():
    transcripts.TIERS.setdefault(workload.TIER, workload.TIER_SHAPE)
    n_conv, turns = workload.TIER_SHAPE
    ours = transcripts._gen_rows(workload.TIER, 5)
    medium = transcripts._gen_rows("medium", 5)
    assert [r[:4] for r in ours] == [r[:4] for r in medium[: n_conv * turns]]


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 1, "parent": None, "layer": "a", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "b", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "layer": "b", "start": 3.0, "end": 5.0},
        {"id": 4, "parent": 1, "layer": "c", "start": 8.0, "end": 12.0},
    ]
    got = self_time(spans)
    assert got == pytest.approx({"a": 10.0 - 4.0 - 2.0, "b": 5.0, "c": 4.0})


def _run_small(tmp_path, workload_name: str) -> dict:
    work = tmp_path / workload_name
    work.mkdir()
    result = work / "result.json"
    env = run.child_env(str(work))
    proc = subprocess.run(
        [sys.executable, "-c", SMALL.format(here=HERE), "--workload", workload_name,
         "--seed", "2", "--seconds", "1", "--trace", "1",
         "--work", str(work), "--result", str(result)],
        cwd=ROOT, env=env, timeout=600,
    )
    assert proc.returncode == 0
    with open(result) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(workload.WORKLOADS))
def test_traced_run_emits_every_metric_and_nested_spans(tmp_path, name):
    res = _run_small(tmp_path, name)
    assert res["failed"] == 0 and res["attempted"] > 0

    e2e = json.loads(run.report(res, 0, 123.0)[-1])
    assert set(e2e) == {"correct", "attempted", "failed", "metrics"}
    assert {k: m["unit"] for k, m in e2e["metrics"].items()} == run.END_TO_END_UNITS
    assert all(m["value"] > 0 for m in e2e["metrics"].values())

    traced = json.loads(run.report(res, 1, 123.0)[-1])
    units = {k: m["unit"] for k, m in traced["metrics"].items()}
    assert units == {n: per_layer.unit_of(n) for n in per_layer.metric_names()}

    with open(res["spans"]) as f:
        doc = json.load(f)
    assert (doc["workload"], doc["seed"]) == (name, 2)
    spans = {s["id"]: s for s in doc["spans"]}
    eps = 0.05  # stage times come from the JVM clock in milliseconds
    for s in spans.values():
        assert s["kind"] in ("call", "stage")
        assert s["start"] <= s["end"] + eps
        if s["parent"] is None:
            assert s["kind"] == "call"
            continue
        p = spans[s["parent"]]
        assert p["kind"] == "call" and p["trace_id"] == s["trace_id"]
        assert p["start"] - eps <= s["start"] and s["end"] <= p["end"] + eps
    layers = {s["layer"] for s in spans.values()}
    assert set(per_layer.SELF_LAYERS) <= layers


def test_exits_nonzero_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/ the
    benchmark fails up front and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_runs", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert "not found" in proc.stderr
