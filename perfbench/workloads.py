"""The two workloads and their units of work.

A unit is what one closed-loop caller runs back to back: a ``run_wave``
pass (``batch``), or one crawl split into two ``crawl()`` calls on one
store, wave(s) first and then a resume to completion (``trickle``).
Each unit returns its timings; its output is checked against the
reference after the clock stops.
"""

from __future__ import annotations

import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass

import check
from tracing import FlipStore, dir_bytes

# the composition ROADMAP calls multiwave_composed: AIMD delays, the
# spider-trap guard, snapshot expiry, PageRank-primed admission
COMPOSED = {"adaptive_delay": True, "trap_guard": True, "expire_keep": 2}
MAX_WAVES = 50


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int          # generated documents (3 pages each + search pages)
    weight: int          # inert filler spans per detail/search page
    crawl: dict | None = None   # crawl() keywords; None = batch passes
    split: int = 1       # waves run by the first crawl() call


# Sizes fit the benchmark's time budget (about a minute a run): a crawl
# pays ~10 s of fixed cost per wave on 4 cores, whatever the wave's size.
# README.md gives each workload's reason.
WORKLOADS = {w.name: w for w in [
    Workload("batch", n_docs=500, weight=1000),
    # two waves, split between them; compaction at half the frontier (the
    # default is a quarter) keeps wave 1 a delta
    Workload("trickle", n_docs=60, weight=0,
             crawl=dict(COMPOSED, wave_seconds=20, n_shards="auto",
                        compact_every="auto", compact_frac_bp=5000),
             split=1),
]}


@dataclass
class Context:
    spark: object
    workload: Workload
    corpus: str          # prepared corpus directory
    pages: object        # the pages DataFrame
    n_pages: int
    ref: dict
    work: str            # scratch root for crawl stores
    priority: object = None
    attempted: int = 0
    failed: int = 0

    def record(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def rank_priorities(pages):
    """PageRank admission priorities from the corpus' own link graph
    (search page -> card URL), built the way bench.py builds them."""
    from pyspark.sql import functions as F

    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.operators import extract as ex
    from s_crawler_spark.operators import linkgraph as lg
    from s_crawler_spark.plans import wave as wv

    cards = ex.explode_cards(wv.search_pages(pages, seed_search_url()))
    edges = cards.select(
        F.concat(F.lit("page:"), F.col("page_num").cast("string")).alias("src"),
        F.col("url").alias("dst"))
    return (lg.pagerank(edges, n_iter=3)
            .select("url", (-F.floor(F.col("rank") / 1024)).cast("int")
                    .alias("priority"))
            .localCheckpoint(eager=True))


def batch_pass(ctx: Context) -> dict:
    """One run_wave pass, forced by collecting its stored articles in
    crawl order (500 rows); they are checked after the clock stops."""
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.plans import wave as wv

    t0 = time.perf_counter()
    rows = wv.run_wave(ctx.pages, seed_search_url()).orderBy("seq").collect()
    wall = time.perf_counter() - t0
    ctx.record(*check.compare_crawl(ctx.ref, rows))
    return {"wall": wall, "waves": [wall]}


def operator_set(ctx: Context, tracer=None) -> None:
    """Each corpus operator once, collected and checked against its
    oracle digest (one span per operator when traced)."""
    from s_crawler_spark.plans import contract as ct

    for query, op in check.OPERATORS.items():
        rec = tracer.open(f"ops.{op}") if tracer else None
        try:
            got = check.frame_digest(
                ct.QUERIES[query](ctx.spark, ctx.corpus).toPandas())
        finally:
            if rec:
                tracer.close(rec)
        ctx.record(1, int(got != ctx.ref["operators"][query]))


def warm_crawl(ctx: Context) -> None:
    """One crawl wave on a throwaway store, so the plans and code paths
    of a wave are compiled when the timed units start."""
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.plans import wave as wv

    root = tempfile.mkdtemp(prefix="warm_", dir=ctx.work)
    try:
        wv.crawl(ctx.spark, ctx.pages, seed_search_url(), FlipStore(root),
                 max_waves=1,
                 **dict(ctx.workload.crawl, priority_df=ctx.priority))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def crawl_unit(ctx: Context, store_cls=FlipStore, tracer=None) -> dict:
    """One crawl in two calls on a fresh store; returns wall, wave
    intervals (pointer flip to pointer flip, restarting at each call),
    resume time and the end-state size. The catalog and URL-seen set are
    checked after the clock stops."""
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.plans import wave as wv
    from s_crawler_spark.sources.store import SnapshotStore

    w = ctx.workload
    root = tempfile.mkdtemp(prefix="store_", dir=ctx.work)
    store = store_cls(root, tracer) if tracer else store_cls(root)
    kw = dict(w.crawl, priority_df=ctx.priority)
    try:
        starts = []
        for max_waves in (w.split, MAX_WAVES):
            rec = tracer.open("crawl.call") if tracer else None
            starts.append(time.perf_counter())
            try:
                wv.crawl(ctx.spark, ctx.pages, seed_search_url(), store,
                         max_waves=max_waves, **kw)
            finally:
                if rec:
                    tracer.close(rec)
        end = time.perf_counter()
        waves, prev = [], starts[0]
        for _, t in store.flips:
            if t > starts[1] > prev:
                prev = starts[1]
            waves.append(t - prev)
            prev = t
        resume = next((t for _, t in store.flips if t > starts[1]), end) - starts[1]

        plain = SnapshotStore(root)
        rows = plain.read(ctx.spark, "articles").orderBy("seq").collect()
        seen = [r["url"] for r in
                plain.read(ctx.spark, "seen").select("url").collect()]
        n_urls = plain.read(ctx.spark, "frontier").count()
        ctx.record(*check.compare_crawl(ctx.ref, rows, seen))
        return {"wall": end - starts[0], "waves": waves, "resume": resume,
                "state_bytes": dir_bytes(root), "frontier_urls": n_urls}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_unit(ctx: Context) -> dict:
    return crawl_unit(ctx) if ctx.workload.crawl is not None else batch_pass(ctx)


def measure(ctx: Context, seconds: float) -> list[dict]:
    """Back-to-back units until ``seconds`` have passed (at least one)."""
    units, t0 = [], time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        units.append(run_unit(ctx))
    return units


def summarize(units: list[dict], n_pages: int) -> dict[str, float]:
    wall = statistics.median(u["wall"] for u in units)
    return {"urls_per_s": n_pages / wall,
            "wave_p50_s": statistics.median(
                statistics.median(u["waves"]) for u in units)}


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
