"""SparkSession factory with the engine's standard configuration.

Local-mode settings mirror what we'd submit cluster-side via
``spark-submit --py-files``; every knob is chosen for the 100 TB target and
merely *sized down* for local[32]:

- AQE on (runtime re-plan, skew-join splitting) — the frontier's host
  distribution is Zipfian by construction.
- shuffle partitions sized to cores locally; cluster-side this becomes
  ~2-3× total executor cores (or left to AQE coalescing).
- Arrow enabled with a bounded batch size so the HTML-extraction pandas UDFs
  stream bounded memory per task regardless of page sizes.
- session timezone pinned to UTC so timestamp semantics are
  cluster-independent (and match the DuckDB oracle).
- ANSI mode stays ON (Spark 4 default); kernels use try_* variants where the
  reference semantics are "NULL on failure" (e.g. date parsing,
  reference src/link_collector.py:286-296).
- console progress bars off, so the tools' stdout/stderr carry only their
  own output.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "s_crawler_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1: master.find("]")] if "[" in master else "32"
        shuffle_partitions = int(n) if n.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batches by record count sized for the page weight in
        # play: heavy (~100 KB) pages at 2048 records/batch would pin ~200 MB
        # per in-flight task and thrash the heap at high core counts
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_ARROW_BATCH", "512"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no console progress bars: stderr stays readable and tool output
        # that captures both streams (bench.py's JSON line) stays clean
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
