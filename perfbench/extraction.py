"""The extraction workloads and their output check.

Both run one ``run_extraction_job(resume=False)`` per measured run:
``extract_skewed`` over the replicated fixture corpus (megadocs
included), ``crawl_pdf`` over many replicas of the small statements as
PDF payloads.  The traced run adds a resume rerun over the committed
output, which has nothing left to extract and must commit nothing.

Expected per-document results come from the same Arrow worker Spark
runs (``pipeline._parse_arrow_batches``), called in this process with
no Spark.  The committed ``transactions`` and ``doc_metrics`` tables
are compared with them document by document.
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Dict, Iterable, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

BATCH_ROWS = 16  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
_IN_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string())])


def arrow_batches(rows: List[tuple]) -> Iterable[pa.RecordBatch]:
    for i in range(0, len(rows), BATCH_ROWS):
        chunk = rows[i:i + BATCH_ROWS]
        yield pa.RecordBatch.from_arrays([
            pa.array([r[0] for r in chunk], pa.string()),
            pa.array([r[1] for r in chunk], pa.timestamp("us")),
            pa.array([r[2] for r in chunk], pa.binary()),
            pa.array([r[3] for r in chunk], pa.string()),
        ], schema=_IN_SCHEMA)


def doc_digests(tx_rows: Iterable[tuple], doc_rows: Iterable[tuple]
                ) -> Dict[str, str]:
    """url → digest of (doc rows, tx rows).

    ``tx_rows``: (url, tx_index, bank, date, description, amount,
    direction); ``doc_rows``: (url, bank, text_sha256, error).  A url
    committed twice gets two doc rows and so a different digest."""
    docs: Dict[str, list] = {}
    txs: Dict[str, list] = {}
    for url, *rest in doc_rows:
        docs.setdefault(url, []).append(tuple(rest))
    for url, *rest in tx_rows:
        txs.setdefault(url, []).append(tuple(rest))
    out = {}
    for url, d in docs.items():
        body = repr((sorted(d, key=repr), sorted(txs.get(url, []), key=repr)))
        out[url] = hashlib.sha256(body.encode("utf-8")).hexdigest()
    for url in txs.keys() - docs.keys():  # transactions with no doc row
        out[url] = "orphan-transactions"
    return out


def count_failures(expected: Dict[str, str], got: Dict[str, str]) -> int:
    """Documents missing from, or different in, the committed output,
    plus committed documents that were never submitted."""
    bad = sum(1 for url, want in expected.items() if got.get(url) != want)
    return bad + len(got.keys() - expected.keys())


def _worker_outputs(rows: List[tuple]) -> Tuple[list, list]:
    from pdf_parser_spark.pipeline import _parse_arrow_batches

    tx_rows, doc_rows = [], []
    for out in _parse_arrow_batches(arrow_batches(rows)):
        cols = out.to_pydict()
        if cols["record"] and cols["record"][0] == "tx":
            tx_rows.extend(zip(cols["url"], cols["tx_index"], cols["bank"],
                               cols["date"], cols["description"],
                               cols["amount"], cols["direction"]))
        elif cols["record"]:
            doc_rows.extend(zip(cols["url"], cols["bank"],
                                cols["text_sha256"], cols["error"]))
    return tx_rows, doc_rows


def expected_digests(rows: List[tuple], bases: List[str]) -> Dict[str, str]:
    """Run the Arrow worker once per distinct base document (replicas
    share payload bytes) and map the result onto every replica url."""
    distinct = {}
    for row, base in zip(rows, bases):
        distinct.setdefault(base, (base,) + tuple(row[1:4]))
    tx_rows, doc_rows = _worker_outputs(list(distinct.values()))
    by_base = doc_digests(tx_rows, doc_rows)
    return {row[0]: by_base[base] for row, base in zip(rows, bases)}


def _committed_rows(io, table: str, columns: List[str]) -> Iterable[tuple]:
    files = io.committed_files(table)
    if not files:
        return ()
    t = pq.ParquetDataset(files).read(columns=columns)
    return zip(*(t.column(c).to_pylist() for c in columns))


def committed_digests(root: str) -> Dict[str, str]:
    """Digests of what the table root's snapshot log makes visible."""
    from pdf_parser_spark.io_tables import TableIO

    io = TableIO(root)
    return doc_digests(
        _committed_rows(io, "transactions", [
            "url", "tx_index", "bank", "date", "description", "amount",
            "direction"]),
        _committed_rows(io, "doc_metrics", [
            "url", "bank", "text_sha256", "error"]))


def layer_pass(rows: List[tuple]) -> dict:
    """Per-layer CPU over the workload's exact rows, in this process:
    pdfio extraction, issuer detection and parsing timed one call at a
    time, then the whole Arrow worker over 16-row batches."""
    from pdf_parser_spark.engine.detect import detect_issuer
    from pdf_parser_spark.engine.document import parse_document
    from pdf_parser_spark.pdfio.extract import extract_document

    clock = time.process_time
    m = dict.fromkeys(("pdfio.extract_cpu_s", "engine.detect_cpu_s",
                       "engine.parse_cpu_s", "worker.cpu_s"), 0.0)
    m.update(dict.fromkeys(("pdfio.docs", "pdfio.bytes_in", "pdfio.errors",
                            "engine.lines", "engine.txs"), 0))
    for url, ts, payload, text, _lang in rows:
        if payload is not None:
            t0 = clock()
            doc = extract_document(payload)
            m["pdfio.extract_cpu_s"] += clock() - t0
            m["pdfio.docs"] += 1
            m["pdfio.bytes_in"] += len(payload)
            m["pdfio.errors"] += doc.error is not None
            text = doc.text
        t0 = clock()
        key = detect_issuer(text)
        t1 = clock()
        tally: dict = {}
        _, txs = parse_document(text, ts.year, issuer=key, tally=tally)
        t2 = clock()
        m["engine.detect_cpu_s"] += t1 - t0
        m["engine.parse_cpu_s"] += t2 - t1
        m["engine.lines"] += tally.get("n_lines", 0)
        m["engine.txs"] += len(txs)
    t0 = clock()
    _worker_outputs(rows)
    m["worker.cpu_s"] = clock() - t0
    m["worker.assemble_cpu_s"] = (m["worker.cpu_s"] - m["pdfio.extract_cpu_s"]
                                  - m["engine.detect_cpu_s"]
                                  - m["engine.parse_cpu_s"])
    return m


class Extraction:
    """One workload: its rows come from ``make_rows(seed)``, which
    returns (rows, base url per row)."""

    def __init__(self, bench, make_rows):
        self.bench = bench
        self.make_rows = make_rows
        self.rows: List[tuple] = []
        self.bases: List[str] = []
        self.pages = None
        self.expected: Dict[str, str] = {}

    def setup(self, spark) -> None:
        """Input generation and input persist."""
        from pdf_parser_spark.pages_source import PAGES_SCHEMA

        with self.bench.tracer.span("setup.inputs"):
            self.rows, self.bases = self.make_rows(self.bench.seed)
            self.pages = spark.createDataFrame(self.rows, PAGES_SCHEMA)
            self.pages.persist().count()

    def warm_up(self, spark) -> None:
        """One full job, so every stage of the measured path is
        compiled before the measured runs."""
        from pdf_parser_spark.pipeline import run_extraction_job

        run_extraction_job(spark, self.pages, self.bench.fresh_dir("warm"),
                           resume=False)

    def teardown(self, spark) -> None:
        self.pages.unpersist()

    def prepare_expected(self) -> None:
        self.expected = expected_digests(self.rows, self.bases)

    def check(self, spark, it: dict) -> Tuple[int, int]:
        got = committed_digests(it["root"])
        return len(self.expected), count_failures(self.expected, got)

    def iteration(self, spark, i: int, traced: bool = False) -> dict:
        """One job into a fresh table root.  Traced: with spans around
        the io_tables calls, the job's Python-worker CPU, and then a
        resume rerun that must find nothing left to do."""
        from pdf_parser_spark.pipeline import run_extraction_job
        from procstat import tree_cpu

        root = self.bench.fresh_dir("tables-%d" % i)
        io_log = {"files": 0, "bytes": 0, "snapshots": 0}
        undo = _io_spans(self.bench.tracer, io_log) if traced else None
        try:
            spark.sparkContext.setJobDescription(
                "extract" if traced else "untraced")
            cpu0 = tree_cpu()["python_workers"] if traced else 0.0
            t0 = time.perf_counter()
            res = run_extraction_job(spark, self.pages, root, resume=False)
            it = {"root": root, "wall_s": time.perf_counter() - t0,
                  "docs": res["docs"]}
            if traced:
                it["python_cpu_s"] = tree_cpu()["python_workers"] - cpu0
                spark.sparkContext.setJobDescription("noop-rerun")
                t1 = time.perf_counter()
                run_extraction_job(spark, self.pages, root, resume=True)
                it["noop_rerun_s"] = time.perf_counter() - t1
                it["io"] = io_log
        finally:
            if undo:
                undo()
        return it

    def trace_layers(self, events: List[dict], traced: dict) -> dict:
        tr = self.bench.tracer
        m = layer_pass(self.rows)
        m.update(pipeline_layers(events, m["worker.cpu_s"],
                                 traced["python_cpu_s"]))
        m["pipeline.remainder_s"] = m["pipeline.executor_run_s"] - (
            m["pdfio.extract_cpu_s"] + m["engine.detect_cpu_s"]
            + m["engine.parse_cpu_s"] + m["worker.assemble_cpu_s"]
            + m["pipeline.boundary_s"])
        io = traced["io"]
        m.update({
            "io_tables.resume_s": tr.total("io_tables.committed_keys"),
            "io_tables.commit_s": tr.total("io_tables.append_many"),
            "io_tables.files_written": io["files"],
            "io_tables.bytes_written": io["bytes"],
            "io_tables.snapshots": io["snapshots"],
            "io_tables.noop_rerun_s": traced["noop_rerun_s"],
        })
        return m


def _io_spans(tracer, io_log: dict):
    """Driver-side spans around ``TableIO.committed_keys`` and
    ``TableIO.append_many``; returns the callable that removes them."""
    from pdf_parser_spark.io_tables import TableIO

    keys, append = TableIO.committed_keys, TableIO.append_many

    def committed_keys(self, *a, **kw):
        with tracer.span("io_tables.committed_keys"):
            return keys(self, *a, **kw)

    def append_many(self, *a, **kw):
        with tracer.span("io_tables.append_many"):
            manifest = append(self, *a, **kw)
        for files in manifest["tables"].values():
            io_log["files"] += len(files)
            io_log["bytes"] += sum(os.path.getsize(f) for f in files)
        io_log["snapshots"] = len(self.snapshots())
        return manifest

    TableIO.committed_keys, TableIO.append_many = committed_keys, append_many

    def undo():
        TableIO.committed_keys, TableIO.append_many = keys, append
    return undo


def pipeline_layers(events: List[dict], worker_cpu: float,
                    python_cpu: float) -> dict:
    """The measured job's Spark side, from its event log.  The worker
    stage is the one whose tasks sent rows to Python; its executor run
    time minus the same worker's in-process CPU is the boundary cost."""
    from eventlog import python_stage, rollup

    def job(desc: str):
        return "x" if desc == "extract" else None

    every = rollup(events, job).get("x")
    py = rollup(events, job, python_stage).get("x")
    if every is None or py is None:
        raise RuntimeError("event log has no extraction job")
    run_s = py["executor_run_s"]
    return {
        "pipeline.tasks": py["tasks"],
        "pipeline.python_bytes_in": py["sql"].get(
            "data sent to Python workers", 0),
        "pipeline.python_bytes_out": py["sql"].get(
            "data returned from Python workers", 0),
        "pipeline.executor_run_s": run_s,
        "pipeline.python_cpu_s": python_cpu,
        "pipeline.boundary_s": run_s - worker_cpu,
        "pipeline.shuffle_write_bytes": every["shuffle_write_bytes"],
        "pipeline.task_s_p50": py["task_s_p50"],
        "pipeline.task_s_max": py["task_s_max"],
        "pipeline.straggler_ratio": (py["task_s_max"] / py["task_s_p50"]
                                     if py["task_s_p50"] else 0.0),
        "pipeline.gc_s": every["gc_s"],
        "pipeline.spill_bytes": every["spill_bytes"],
    }
