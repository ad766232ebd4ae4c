"""The extraction Python stage's fixed cost per task: the per-task
worker set-up (pipeline._worker_task_setup) freezes a Spark worker's
heap, so the daemon's post-task ``gc.collect()`` no longer scans the
imported modules, but never an in-process caller's heap; and the stage
runs 2 × cores tasks unless ``partitions=`` is passed
(pipeline.stage_width)."""

import pathlib
import subprocess
import sys
import textwrap

import pyarrow as pa

from pdf_parser_spark.pages_source import fixture_pages_df
from pdf_parser_spark.pipeline import parse_pages

# run in a child process: a freeze there could not leak into the test
# session, and the child's heap starts empty of other tests' objects
_CHILD = textwrap.dedent("""
    import gc

    import pyarrow as pa

    from pdf_parser_spark.pipeline import _parse_arrow_batches

    batch = pa.RecordBatch.from_pydict({
        "url": ["u1"],
        "warc_ts": pa.array([None], pa.timestamp("us")),
        "html": pa.array([None], pa.binary()),
        "text": ["chase.com 2024\\n01/03 Deposit 100.00"],
    })
    out = list(_parse_arrow_batches([batch]))
    assert sum(b.num_rows for b in out) >= 1, out
    print(gc.get_freeze_count())
""")


def test_in_process_caller_is_not_frozen():
    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    res = subprocess.run([sys.executable, "-c", _CHILD], cwd=repo,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "0"


def test_spark_workers_are_frozen(spark):
    # 32 tasks: enough to pass through every idle worker that earlier
    # tests left in the pool, so the probe below lands on set-up ones
    assert parse_pages(fixture_pages_df(spark), partitions=16).count() > 0

    def probe(batches):
        import gc

        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "frozen": pa.array([gc.get_freeze_count()] * b.num_rows,
                                   pa.int64())})

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInArrow(probe, "frozen bigint").collect())
    assert len(rows) == 8
    assert all(r.frozen > 0 for r in rows), rows


def test_default_width_follows_cores_not_shuffle_partitions(spark):
    sc = spark.sparkContext
    pages = fixture_pages_df(spark)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "24")
    try:
        assert sc.defaultParallelism == 8
        assert parse_pages(pages).rdd.getNumPartitions() == 16
        assert parse_pages(pages, partitions=5).rdd.getNumPartitions() == 10
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
