"""Crawl benchmark: one seeded workload run, one JSON result line.

    python3 perfbench/run.py --workload {batch,trickle} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The run starts Spark on ``local[N]`` over
the N cores this process may use, generates its corpus from the seed
(untimed, cached under ``.perfbench/``), sets up several times, warms
up, runs the workload's unit back to back for ``--seconds``, checks
every output against the reference and prints one JSON object as the
last line of stdout:
end-to-end metrics with ``--trace 0``; with ``--trace 1``, one extra
traced unit after the timed ones and the per-layer metrics it yields
(its spans go to ``.perfbench/traces/``). Exits non-zero if any output
differs from the reference.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3  # session (re)starts per run; setup_s takes their median
WARM_SECONDS = 12  # batch passes run untimed before the timed ones


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch", "trickle"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the workload's document count "
                        "(smoke tests run tiny corpora)")
    return p.parse_args(argv)


def configure(trace: bool) -> int:
    """Environment for Spark, its JVM and its Python workers, set before
    pyspark starts anything; returns the core count."""
    # local[N] over the cores this process may run on; the JVM and the
    # Python workers inherit the same CPU set
    cpus = os.sched_getaffinity(0)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    events = os.path.join(WORK, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    # Python workers start outside the repo root: they need it on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(cpus))
    # a fixed 2 GB driver heap (the program defaults to 8 GB) keeps the
    # footprint small on a machine whose memory other processes share
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # every JVM (the launcher's too) keeps its temp files in the checkout
    # and writes no /tmp/hsperfdata_* counters
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + events})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return len(cpus)


def start_session(cpus: int):
    from s_crawler_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then end its JVM and wait for it: the JVM exits when
    its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def load_corpus(spark, corpus: str):
    """Read the cached pages table and pull every byte through once."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
    row = pages.select(F.count(F.lit(1)).alias("n"),
                       F.sum(F.length("html")).alias("b")).collect()[0]
    return pages, row["n"], row["b"]


def traced_unit(ctx, units: list[dict]) -> dict:
    """Run one more unit with the tracer installed; per-layer metrics
    from its spans and the Spark event log. Spans go to a JSON file."""
    import eventlog
    import layers
    import tracing
    import workloads as wl

    tracer = tracing.Tracer(ctx.spark)
    tracer.install()
    try:
        if ctx.workload.crawl is None:
            unit = tracer.open("unit.batch")
            rec = tracer.open("unit.pass")
            wl.batch_pass(ctx)
            tracer.close(rec)
            wl.operator_set(ctx, tracer)
            tracer.close(unit)
            traced_wall = rec["end"] - rec["start"]
        else:
            unit = tracer.open("unit.crawl")
            traced_wall = wl.crawl_unit(ctx, tracing.TracingStore, tracer)["wall"]
            tracer.close(unit)
    finally:
        tracer.uninstall()
    app_id = ctx.spark.sparkContext.applicationId
    ctx.spark.stop()  # closes the event log file
    groups = eventlog.fold(os.path.join(WORK, "eventlog", app_id))
    spans = layers.add_waves(tracer.spans)
    layers.add_self_times(spans)
    m = layers.per_layer(spans, groups, unit, ctx.workload.n_docs)
    m["trace.overhead_s"] = traced_wall - statistics.median(
        u["wall"] for u in units)
    crawls = [u for u in units if "resume" in u]
    m["crawl.resume_s"] = statistics.median(u["resume"] for u in crawls) if crawls else 0.0
    m["crawl.waves"] = statistics.median(len(u["waves"]) for u in crawls) if crawls else 0
    m["store.bytes_per_url"] = statistics.median(
        u["state_bytes"] / u["frontier_urls"] for u in crawls) if crawls else 0.0
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{ctx.workload.name}-{app_id}.json")
    with open(path, "w") as f:
        json.dump({"workload": ctx.workload.name, "spans": spans}, f)
    print(f"perfbench: spans in {path}", file=sys.stderr)
    return m


def note(what: str) -> None:
    """Progress on stderr (stdout carries only the result line)."""
    print(f"perfbench: {time.perf_counter() - T_PROCESS:7.1f} s  {what}",
          file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cpus = configure(bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        import s_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2

    import check
    import inputs
    import workloads as wl

    w = wl.WORKLOADS[args.workload]
    if args.docs is not None:
        w = dataclasses.replace(w, n_docs=args.docs)
    batch = w.crawl is None

    spark = start_session(cpus)
    boot_s = time.perf_counter() - T_PROCESS
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    note("spark up")

    # untimed: inputs and their reference digests, cached per seed (the
    # corpus operators run, and are checked, in traced batch runs only)
    corpus = inputs.prepare(spark, os.path.join(WORK, "cache"), w.n_docs,
                            w.weight, args.seed)
    ref = check.reference(corpus, operators=batch and bool(args.trace))
    note("inputs and reference ready")

    loads = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark.stop()
        spark = start_session(cpus)
        pages, n_pages, corpus_bytes = load_corpus(spark, corpus)
        loads.append(time.perf_counter() - t0)
    note("set up")
    stores = os.path.join(WORK, "stores")
    os.makedirs(stores, exist_ok=True)
    ctx = wl.Context(spark=spark, workload=w, corpus=corpus, pages=pages,
                     n_pages=n_pages, ref=ref, work=stores)
    # warm-up: codegen, the Python worker pool, adaptive plans and the
    # JIT, whose pass times keep falling for several seconds of passes
    if batch:
        wl.measure(ctx, WARM_SECONDS)
    else:
        ctx.priority = wl.rank_priorities(pages)
        wl.warm_crawl(ctx)
    note("warm")
    units = wl.measure(ctx, args.seconds)
    for u in units:
        note("unit %.2f s, waves %s" % (
            u["wall"], " ".join("%.2f" % x for x in u["waves"])))
    peak_rss_mb = wl.peak_rss_mb(jvm_pid)

    if args.trace:
        metrics = traced_unit(ctx, units)
        metrics.update({"session.boot_s": boot_s,
                        "corpus.load_s": statistics.median(loads),
                        "corpus.bytes": corpus_bytes,
                        "jvm.peak_rss_mb": peak_rss_mb})
        wanted = spec["per_layer"]
    else:
        metrics = wl.summarize(units, n_pages)
        metrics["setup_s"] = boot_s + statistics.median(loads)
        wanted = spec["end_to_end"]
    shutdown(spark)

    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
