"""SparkSession factory with the engine's tuned defaults.

Local mode here; on a cluster the same builder flags ship via
spark-submit --conf.  Document rows are megabyte-scale, so the Arrow
batch size is tuned *down* (SURVEY.md §4) — a 10k-row default batch of
1 MB documents would be a 10 GB Arrow allocation.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

_PKG_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)


def get_spark(
    app: str = "pdf_parser_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # the floor of 8 is for SQL shuffles (joins, aggregates); it does
    # not set the extraction width, which follows the cores
    # (pipeline.stage_width)
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # local-mode python workers inherit the driver env: make sure the
    # package resolves on executors regardless of launch cwd.  On a
    # real cluster this is spark-submit --py-files (tools/make_pyfiles.py).
    pypath = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_ROOT + (os.pathsep + pypath if pypath else "")
        )
    builder = (
        SparkSession.builder.appName(app)
        .master("local[%d]" % cores)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # document rows are large: keep Arrow batches SMALL so the
        # JVM→worker Arrow stream overlaps with Python compute instead
        # of delivering one monolithic batch per task.  Interleaved A/B
        # (2 rounds × 4 runs each, best-of, 2026-08-16): 16 → 4.14s vs
        # 128 → 4.54s vs 1024 → 4.62s on the 4,080-doc extraction
        # bench — ~9% end-to-end (BENCH/BASELINE.md).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
