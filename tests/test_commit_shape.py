"""The commit step of ``run_extraction_job`` over the fixture corpus:
two url-rebalanced writes over one persisted pass, counts observed.

Pins the shape of one full run (one parquet file per table, fewer than
8 Spark jobs, returned counts equal to the committed rows and to the
manifest's observed metrics) and of the resume re-run that follows it
(no snapshot, ``docs == 0``, no stage that sends rows to Python).
Jobs are counted through a job group and the status tracker."""

import pytest

from pdf_parser_spark.pages_source import fixture_pages_df
from pdf_parser_spark.pipeline import run_extraction_job

PYTHON_INPUT_METRIC = "data sent to Python workers"


def _in_group(spark, group, fn):
    """``fn()`` with its Spark jobs under ``group``; returns its result
    and the ids of the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status stores are fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _sent_rows_to_python(spark, job_ids):
    """Whether a SQL execution that ran one of ``job_ids`` has a plan
    node sending rows to a Python worker."""
    executions = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    for i in range(executions.size()):
        e = executions.apply(i)
        if not any(e.jobs().contains(j) for j in job_ids):
            continue
        metrics = e.metrics()
        if any(metrics.apply(k).name() == PYTHON_INPUT_METRIC
               for k in range(metrics.size())):
            return True
    return False


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("commit_shape") / "out")
    pages = fixture_pages_df(spark)
    full, full_jobs = _in_group(spark, "commit-shape-full", lambda:
                                run_extraction_job(spark, pages, out))
    noop, noop_jobs = _in_group(spark, "commit-shape-noop", lambda:
                                run_extraction_job(spark, pages, out))
    return {"full": full, "full_jobs": full_jobs,
            "noop": noop, "noop_jobs": noop_jobs, "io": full["io"]}


def test_one_parquet_file_per_table(runs):
    for table in ("transactions", "doc_metrics"):
        files = runs["io"].committed_files(table)
        assert len(files) == 1, (table, files)


def test_full_run_launches_fewer_than_8_jobs(spark, runs):
    assert 0 < len(runs["full_jobs"]) < 8, runs["full_jobs"]
    # the check below would pass vacuously if it saw no Python stage
    assert _sent_rows_to_python(spark, runs["full_jobs"])


def test_returned_counts_are_the_committed_rows(spark, runs):
    io, full = runs["io"], runs["full"]
    assert full["docs"] == io.read(spark, "doc_metrics").count() > 0
    assert full["txs"] == io.read(spark, "transactions").count() > 0
    (snap,) = io.snapshots()
    assert snap["metrics"] == {"transactions": {"rows": full["txs"]},
                               "doc_metrics": {"rows": full["docs"]}}


def test_noop_rerun_commits_nothing_and_runs_no_python(spark, runs):
    assert runs["noop"]["docs"] == 0 and runs["noop"]["txs"] == 0
    assert len(runs["io"].snapshots()) == 1
    assert not _sent_rows_to_python(spark, runs["noop_jobs"])
