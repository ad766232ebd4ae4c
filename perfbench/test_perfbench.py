"""The benchmark's own tests: its checks must catch wrong output.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started; the Arrow-worker test runs the worker in
this process over a few fixture documents.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
import extraction  # noqa: E402
import inputs  # noqa: E402
import ops  # noqa: E402
import procstat  # noqa: E402

TX = [("u1", 0, "chase", "01/02", "coffee", 3.5, "debit"),
      ("u1", 1, "chase", "01/03", "pay", 100.0, "credit")]
DOCS = [("u1", "chase", "abc", None), ("u2", "generic", "def", None)]


def test_digests_match_themselves():
    want = extraction.doc_digests(TX, DOCS)
    assert extraction.count_failures(want, dict(want)) == 0


def test_corrupted_expected_value_counts_as_failure():
    want = extraction.doc_digests(TX, DOCS)
    bad_tx = [TX[0], TX[1][:5] + (100.01, "credit")]
    corrupted = extraction.doc_digests(bad_tx, DOCS)
    assert extraction.count_failures(corrupted, want) == 1


def test_missing_duplicated_and_extra_docs_fail():
    want = extraction.doc_digests(TX, DOCS)
    missing = extraction.doc_digests(TX, DOCS[:1])
    assert extraction.count_failures(want, missing) == 1
    doubled = extraction.doc_digests(TX, DOCS + DOCS[:1])
    assert extraction.count_failures(want, doubled) == 1
    extra = extraction.doc_digests(TX, DOCS + [("u3", "x", "y", None)])
    assert extraction.count_failures(want, extra) == 1


def test_expected_digests_follow_the_arrow_worker():
    rows, bases = inputs.replicate(inputs.base_pages(("pdf",))[:3], 6, 7)
    want = extraction.expected_digests(rows, bases)
    tx_rows, doc_rows = extraction._worker_outputs(rows)
    got = extraction.doc_digests(tx_rows, doc_rows)
    assert extraction.count_failures(want, got) == 0
    assert len(got) == 6


def test_seed_decides_inputs(tmp_path):
    base = inputs.base_pages(("pdf",))[:4]
    a = inputs.replicate(base, 12, 1)
    assert a == inputs.replicate(base, 12, 1)
    b = inputs.replicate(base, 12, 2)
    assert [r[0] for r in a[0]] != [r[0] for r in b[0]]
    assert sorted(a[1]) == sorted(b[1])
    one = inputs.write_ops_tables(str(tmp_path / "one"), 5)
    two = inputs.write_ops_tables(str(tmp_path / "two"), 5)
    for name in ("documents", "embeddings", "events"):
        path = name + ".parquet"
        assert (tmp_path / "one" / path).read_bytes() == \
            (tmp_path / "two" / path).read_bytes()
    assert one != two


def test_crawl_pages_are_small_pdfs():
    rows, bases = inputs.crawl_pages(3)
    assert len(rows) == 33 * inputs.CRAWL_REPLICAS
    assert len(set(bases)) == 33
    assert all(r[2] is not None and len(r[2]) < inputs.MEGADOC_BYTES
               for r in rows)


def test_ops_check_counts_a_corrupted_pin():
    class _Probe(ops.OpsProbe):
        def __init__(self):
            self.expected = {}

    probe = _Probe()
    pin = ops.canonical(["a", "b"], [(1, 2.5), (2, None)])
    assert pin == ops.canonical(["b", "a"], [(None, 2), (2.5, 1)])
    results = {q: pin for q in ops.QUERIES}
    probe.expected = dict(results)
    assert probe.check({"results": results}) == (len(ops.QUERIES), 0)
    probe.expected[ops.QUERIES[0]] = (pin[0], "0" * 64)
    assert probe.check({"results": results}) == (len(ops.QUERIES), 1)


def test_eventlog_rollup_groups_by_description():
    def task(stage, run_ms, launch, finish, written=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 10 ** 6,
                                 "JVM GC Time": 1,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": written}}}

    def py_task(stage, run_ms):
        ev = task(stage, run_ms, 0, run_ms)
        ev["Task Info"]["Accumulables"] = [
            {"Name": "data sent to Python workers", "Update": "64",
             "Metadata": "sql"}]
        return ev

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "extract"}},
        task(0, 100, 0, 100, written=500),
        py_task(1, 1000), py_task(1, 3000),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.job.description": "other"}},
        task(2, 50, 0, 50),
    ]
    every = eventlog.rollup(events)
    assert every["extract"]["tasks"] == 3 and every["other"]["tasks"] == 1
    assert every["extract"]["shuffle_write_bytes"] == 500
    py = eventlog.rollup(events, stage_filter=eventlog.python_stage)
    assert py["extract"]["tasks"] == 2
    assert py["extract"]["sql"]["data sent to Python workers"] == 128
    assert py["extract"]["executor_run_s"] == 4.0
    assert py["extract"]["task_s_p50"] == 2.0
    assert py["extract"]["task_s_max"] == 3.0


def test_procstat_sees_this_process():
    cpu = procstat.tree_cpu()
    assert cpu["total"] >= cpu["driver"] > 0
    with procstat.RssSampler(interval=0.01) as rss:
        blob = bytearray(32 * 2 ** 20)
    assert rss.peak >= len(blob)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_pdf",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
