"""Tests of the benchmark itself: tiny runs of every workload, the metric
names against BENCHMARK.json, job attribution in traced runs, and a known
miner defect found while sizing the workloads.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: input scale per workload for the smoke runs (a few hundred rows each)
SMOKE_SCALE = {"extract_text": 0.2, "curate_html": 0.2}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(workload: str, traced: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0.1", "--trace", str(traced),
         "--scale", str(SMOKE_SCALE[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("# host ")
    return json.loads(lines[-1]), json.loads(lines[-2][len("# host "):])


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def runs(request):
    w = request.param
    return w, _run(w, 0), _run(w, 1)


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in _spec()["workloads"]) == sorted(WORKLOADS)


def test_smoke_run_is_correct_and_prints_the_declared_metrics(runs):
    _, (plain, host), (traced, _) = runs
    spec = _spec()
    for result in (plain, traced):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True
        assert result["failed"] == 0 and result["attempted"] >= 2
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in plain["metrics"].items()
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in traced["metrics"].items()
    }
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    for key in ("nproc", "ram_gb", "loadavg", "loadavg_after", "spark", "java"):
        assert key in host


def test_traced_run_attributes_every_job(runs):
    w, _, (traced, _) = runs
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    assert m["trace.unattributed_jobs"] == 0
    assert m["trace.coverage"] >= 0.95
    if w == "extract_text":
        for phase in trace.MINE_PHASES:
            assert m[f"{phase}.wall_s"] > 0, phase
        assert m["select.driver_s"] > 0
        assert m["edges.shuffle_write_mb"] > 0
        assert m["parse.task_s"] < m["gather.task_s"]
        assert m["gather.rows"] == m["transfer.rows"] > 0
    if w == "curate_html":
        for layer in ("parse", "domheuristics", "weblinks", "pagemeta", "encoding", "urls",
                      "bpe", "dedup.lsh", "dedup.clusters", "dedup.fuzzy"):
            assert m[f"{layer}.wall_s"] > 0, layer
        assert m["dedup.lsh.pairs"] > 0 and m["dedup.fuzzy.pairs"] > 0
        assert m["gather.wall_s"] == m["strip.wall_s"] == 0


def test_mine_anchors_resolve_to_miner_statements():
    assert set(trace.mine_line_phases().values()) == set(trace.MINE_PHASES)


def test_reference_helpers():
    from perfbench.workloads import bpe_segment, levenshtein, ref_tokens

    assert ref_tokens("Café, IT’s 10.1.2.3") == ["café", "it’s", "10", "1", "2", "3"]
    assert bpe_segment("aaa", [("a", "a")]) == ["aa", "a", "</w>"]
    assert levenshtein("kitten", "sitting") == 3


def test_run_refuses_a_directory_without_the_package(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
         "extract_text", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""


@pytest.mark.xfail(
    strict=True,
    raises=Py4JJavaError,
    reason="bloomspan.mine(stats=...) fails in harvest_seed_stats when no "
           "candidate reaches min_docs (AssertionError in PythonSQLUtils.toPyRow)",
)
def test_mine_stats_with_no_candidate(tmp_path):
    """A corpus shaped like the bundled sf0.1 documents (31-word vocabulary,
    10-100 tokens per doc, 5000 docs) at min_docs=50: no 3-gram reaches 50
    documents.  Without `stats` the miner returns no phrase; with it, the
    seed-statistics harvest raises."""
    import random

    from boilerplate_buster_spark.operators import bloomspan
    from boilerplate_buster_spark.session import get_spark

    vocab = [f"w{i}" for i in range(31)]
    rng = random.Random(0)
    rows = [(i, [rng.choice(vocab) for _ in range(rng.randint(10, 100))])
            for i in range(5000)]
    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.local.dir": str(tmp_path)})
    try:
        docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
        assert bloomspan.mine(spark, docs, min_docs=50, ngrams=3) == []
        bloomspan.mine(spark, docs, min_docs=50, ngrams=3, stats={})
    finally:
        spark.stop()
