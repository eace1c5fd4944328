"""Smoke tests of the benchmark itself, on tiny corpora.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced as a subprocess (about
half a minute each); the correctness check is exercised in-process.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY_DOCS = 40


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--docs", str(TINY_DOCS)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


@pytest.fixture(scope="module")
def runs():
    return {(w, t): _run(w, t) for w in WORKLOADS for t in (0, 1)}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted(runs, workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        result, _ = runs[(workload, trace)]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = result["metrics"]
        assert set(got) == set(want)
        for name, unit in want.items():
            assert got[name]["unit"] == unit
            assert isinstance(got[name]["value"], (int, float))
        if trace == 0:
            assert all(got[n]["value"] > 0 for n in want)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_spans_form_a_tree(runs, workload):
    _, stderr = runs[(workload, 1)]
    path = re.search(r"perfbench: spans in (\S+)", stderr).group(1)
    with open(path) as f:
        spans = json.load(f)["spans"]
    ids = {s["id"] for s in spans}
    assert len(ids) == len(spans)
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids, s
        assert s["end"] >= s["start"], s
        assert s["self_s"] >= -1e-9, s
    assert sum(s["parent"] is None for s in spans) == 1


@pytest.fixture(scope="module")
def tiny():
    """A session, a tiny seeded corpus and its reference digests."""
    os.environ["PYTHONPATH"] = ROOT
    import check
    import inputs
    from s_crawler_spark.session import get_spark

    spark = get_spark("perfbench-smoke", master="local[2]",
                      shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = inputs.prepare(spark, os.path.join(ROOT, ".perfbench", "cache"),
                            TINY_DOCS, 300, 7)
    yield spark, corpus, check.reference(corpus, operators=True)
    spark.stop()


def test_check_fails_on_perturbed_reference(tiny):
    import check
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.plans import wave as wv

    spark, _, ref = tiny
    rows = wv.run_wave(spark.read.parquet(
        os.path.join(tiny[1], "pages.parquet")), seed_search_url()) \
        .orderBy("seq").collect()
    attempted, failed = check.compare_crawl(ref, rows, ref["seen"])
    assert attempted >= len(ref["articles"]) and failed == 0

    bad = dict(ref, articles=[list(a) for a in ref["articles"]])
    bad["articles"][3][1] = "0" * 16
    assert check.compare_crawl(bad, rows)[1] == 1
    assert check.compare_crawl(ref, rows, ref["seen"][1:])[1] == 1
    assert check.compare_crawl(ref, rows[:-1])[1] == 1


def test_operator_check_fails_on_perturbed_digest(tiny):
    import workloads as wl

    spark, corpus, ref = tiny
    bad = dict(ref, operators=dict(ref["operators"], dedup_exact="0" * 16))
    for r, want in ((ref, 0), (bad, 1)):
        ctx = wl.Context(spark=spark, workload=wl.WORKLOADS["batch"],
                         corpus=corpus, pages=None, n_pages=0, ref=r, work="")
        wl.operator_set(ctx)
        assert (ctx.attempted, ctx.failed) == (len(r["operators"]), want)
