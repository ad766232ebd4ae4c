"""The fidelity path: one DataFrame plan from page scan to transaction
table + lineage sidecar.

    scan(url, warc_ts, html, text, lang)
      → salted skew-aware repartition                 (one shuffle)
      → mapInArrow extract+detect+parse               (Arrow batches)
      → split: transactions / per-document metrics    (one persisted pass)
      → two url-rebalanced writes, counts observed    (one file per
        table at this size; AQE sizes and splits them)
      → ONE snapshot commit over both (io_tables.TableIO: parquet +
        manifest here, Iceberg on a real cluster)

Design notes (SURVEY.md §4, BASELINE north star):
* Extraction and parsing happen in ONE pass over the payload — the
  reference parses every PDF twice (app.py:13 + chase.py:17); we don't.
* No per-row Python UDFs anywhere: the per-document state machines run
  inside ``mapInArrow`` over Arrow record batches.
* Skew: documents vary 1000× in size, and one task gets many documents.
  We repartition by a *seeded* url hash (decorrelates from upstream
  layout), and mega-documents (payload > ``mega_threshold``) are routed
  to a dedicated repartition so a handful of giants never serialize
  behind thousands of small docs in the same task.
* Column pruning: the plan touches only the columns it needs; metrics
  queries on the sidecar never scan payloads.
"""

from __future__ import annotations

import hashlib
import os
import sys
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .engine.document import parse_document
from .io_tables import TableIO
from .pdfio.extract import extract_document

# union row schema: record='tx' rows carry transaction fields,
# record='doc' rows carry per-document lineage/metrics fields.
PARSED_SCHEMA = (
    "url string, record string, tx_index int, bank string, date string,"
    " description string, amount double, direction string,"
    " kind string, pages int, n_lines int, n_chars bigint,"
    " blocks_total int, blocks_kept int, tx_count int,"
    " text_sha256 string, error string, part_id int"
)

TX_COLUMNS = ["url", "tx_index", "bank", "date", "description", "amount",
              "direction"]
DOC_COLUMNS = ["url", "bank", "kind", "pages", "n_lines", "n_chars",
               "blocks_total", "blocks_kept", "tx_count", "text_sha256",
               "error", "part_id"]


_PA_FIELDS = [
    ("url", "string"), ("record", "string"), ("tx_index", "int32"),
    ("bank", "string"), ("date", "string"), ("description", "string"),
    ("amount", "float64"), ("direction", "string"), ("kind", "string"),
    ("pages", "int32"), ("n_lines", "int32"), ("n_chars", "int64"),
    ("blocks_total", "int32"), ("blocks_kept", "int32"),
    ("tx_count", "int32"), ("text_sha256", "string"),
    ("error", "string"), ("part_id", "int32"),
]


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have
    not changed since that importer last read them.

    PySpark's worker calls ``importlib.invalidate_caches()`` once per
    task (``setup_spark_files``), so that files added with
    ``addPyFile`` become importable.  Before CPython 3.13 that makes
    every zipimporter — about 16 per worker, one per pyspark
    subpackage — re-parse the whole directory of ``pyspark.zip``
    (1,328 entries): ~0.2 s of CPU per task, about a quarter of the
    Python workers' CPU on a 2,640-doc PDF job.  3.13 drops the cache
    lazily instead, so there this is a no-op.

    An importer re-reads its archive whenever the archive's
    ``(st_mtime_ns, st_size)`` differs from what it saw at its last
    read, or the archive cannot be stat'ed; a changed, replaced or
    missing archive thus takes the original path.  Installed once per
    process; Python workers are reused across tasks, so every later
    task on this worker skips the re-read."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_read_stamp",
                                                  None):
            return
        reread(self)
        self._read_stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _parse_arrow_batches(batches):
    """Executor-side worker: Arrow batches of pages → union rows,
    assembled as pyarrow RecordBatches directly — ``pa.nulls`` makes
    the 10 all-null union columns O(1) instead of per-cell object
    conversion.  Measured: building the bench corpus's output as
    18-column pandas frames + Arrow conversion cost ~2.3 s of worker
    CPU; arrow-native is ~0.28 s (hand whole batches to native
    code)."""
    _skip_unchanged_zip_rereads()
    import pyarrow as pa

    from pyspark import TaskContext

    ctx = TaskContext.get()
    part_id = ctx.partitionId() if ctx else -1
    schema = pa.schema([(n, getattr(pa, t)()) for n, t in _PA_FIELDS])
    s, i32, i64, f64 = pa.string(), pa.int32(), pa.int64(), pa.float64()
    for batch in batches:
        cols = {name: batch.column(j).to_pylist()
                for j, name in enumerate(batch.schema.names)}
        t_url, t_idx, t_bank = [], [], []
        t_date, t_desc, t_amt, t_dir = [], [], [], []
        d_url, d_bank, d_kind, d_pages = [], [], [], []
        d_lines, d_chars, d_bt, d_bk = [], [], [], []
        d_txn, d_sha, d_err = [], [], []
        for url, warc_ts, payload, text0 in zip(
                cols["url"], cols["warc_ts"], cols["html"], cols["text"]):
            fallback_year = warc_ts.year if warc_ts is not None else 1970
            error = None
            if payload is not None:
                doc = extract_document(
                    bytes(payload) if not isinstance(payload, bytes)
                    else payload
                )
                text, kind, pages, error = (
                    doc.text, doc.kind, doc.pages, doc.error
                )
            else:
                text, kind, pages = text0, "text", 1
            tally: dict = {}
            try:
                bank, txs = parse_document(text, fallback_year, tally=tally)
            except Exception as exc:  # poison doc: metrics row, no txs
                bank, txs = "error", []
                error = "%s: %s" % (type(exc).__name__, exc)
            for i, t in enumerate(txs):
                t_url.append(url)
                t_idx.append(i)
                t_bank.append(bank)
                t_date.append(t["date"])
                t_desc.append(t["description"])
                t_amt.append(t["amount"])
                t_dir.append(t["direction"])
            d_url.append(url)
            d_bank.append(bank)
            d_kind.append(kind)
            d_pages.append(pages)
            d_lines.append(tally.get("n_lines", 0))
            d_chars.append(len(text) if text else 0)
            d_bt.append(tally.get("blocks_total", 0))
            d_bk.append(tally.get("blocks_kept", 0))
            d_txn.append(len(txs))
            d_sha.append(
                hashlib.sha256((text or "").encode("utf-8")).hexdigest())
            d_err.append(error)
        n_tx, n_doc = len(t_url), len(d_url)
        yield pa.RecordBatch.from_arrays([
            pa.array(t_url, s), pa.array(["tx"] * n_tx, s),
            pa.array(t_idx, i32), pa.array(t_bank, s),
            pa.array(t_date, s), pa.array(t_desc, s),
            pa.array(t_amt, f64), pa.array(t_dir, s),
            pa.nulls(n_tx, s), pa.nulls(n_tx, i32),
            pa.nulls(n_tx, i32), pa.nulls(n_tx, i64),
            pa.nulls(n_tx, i32), pa.nulls(n_tx, i32),
            pa.nulls(n_tx, i32), pa.nulls(n_tx, s),
            pa.nulls(n_tx, s), pa.nulls(n_tx, i32),
        ], schema=schema)
        yield pa.RecordBatch.from_arrays([
            pa.array(d_url, s), pa.array(["doc"] * n_doc, s),
            pa.nulls(n_doc, i32), pa.array(d_bank, s),
            pa.nulls(n_doc, s), pa.nulls(n_doc, s),
            pa.nulls(n_doc, f64), pa.nulls(n_doc, s),
            pa.array(d_kind, s), pa.array(d_pages, i32),
            pa.array(d_lines, i32), pa.array(d_chars, i64),
            pa.array(d_bt, i32), pa.array(d_bk, i32),
            pa.array(d_txn, i32), pa.array(d_sha, s),
            pa.array(d_err, s),
            pa.array([part_id] * n_doc, i32),
        ], schema=schema)


def flat_map_rows(df: DataFrame, schema: str, rows_of) -> DataFrame:
    """The per-document worker loop of every sidecar operator:
    ``rows_of(*values)`` runs once per input row, with the values in
    ``df``'s column order (binary as ``bytes``, NULL as ``None``), and
    each tuple it yields becomes one output row in ``schema``'s column
    order — zero, one or many rows per document.

    Runs as ``mapInArrow``: each output column is one typed Arrow array
    built against the Arrow form of ``schema`` (derived once, on the
    driver), so a ``bigint`` keeps all 64 bits next to NULLs and no
    pandas frame is built.  The worker applies the same per-task setup
    as ``_parse_arrow_batches``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow_schema = to_arrow_schema(_parse_datatype_string(schema))

    def batches(it):
        _skip_unchanged_zip_rereads()
        import pyarrow as pa

        for batch in it:
            rows = [out for values in zip(*(c.to_pylist()
                                            for c in batch.columns))
                    for out in rows_of(*values)]
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema)

    return df.mapInArrow(batches, schema)


def salted_repartition(
    df: DataFrame,
    partitions: int,
    seed: int = 42,
) -> DataFrame:
    """Skew-aware shuffle: ONE pass, 2× over-partitioning by seeded
    url-hash.

    Design history (measured, 32 cores, 4920-doc corpus with 360
    mega-documents): an explicit two-branch plan (small docs hashed,
    megas isolated via a dedicated finer repartition) bounds the
    straggler tail but FILTERS THE PAYLOAD INPUT TWICE — 315 docs/sec.
    A single seeded-hash repartition at 2-3× the partition count reads
    payloads once and still spreads megas (hash-uniform) with small
    tasks bounding the tail — 523 docs/sec, matching the raw
    multiprocessing ceiling of this host.  At 100 TB the double scan
    is strictly worse (payload bytes dominate); over-partitioning cost
    is a few thousand extra tasks, each with a fixed Python-worker CPU
    cost: 0.23 s per task before ``_skip_unchanged_zip_rereads`` and
    0.04 s after (near-empty tasks, 4-core host, CPython 3.11).  The seed
    decorrelates from any upstream partitioning (same rationale as
    salting)."""
    return df.repartition(partitions * 2, F.xxhash64("url", F.lit(seed)))


def parse_pages(
    pages: DataFrame,
    partitions: Optional[int] = None,
    salt_seed: int = 42,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → union parsed rows."""
    spark = pages.sparkSession
    partitions = partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    pruned = pages.select("url", "warc_ts", "html", "text")
    salted = salted_repartition(pruned, partitions, salt_seed)
    # mapInArrow, not mapInPandas: the worker builds output
    # RecordBatches natively — no pandas frame construction and no
    # per-cell conversion of the union schema's null columns
    return salted.mapInArrow(_parse_arrow_batches, schema=PARSED_SCHEMA)


def split_outputs(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Union rows → (transactions, doc_metrics), two filters over the
    same input.  ``run_extraction_job`` persists that input, so its
    commit is two url-rebalanced writes over one persisted pass, counts
    observed."""
    txs = parsed.filter(F.col("record") == "tx").select(*TX_COLUMNS)
    docs = parsed.filter(F.col("record") == "doc").select(*DOC_COLUMNS)
    return txs, docs


def partition_metrics(docs: DataFrame) -> DataFrame:
    """Per-partition lineage rollup (G7): partial aggregation happens
    map-side for free (hash aggregate)."""
    return docs.groupBy("part_id").agg(
        F.count("*").alias("docs"),
        F.sum("pages").alias("pages"),
        F.sum("n_chars").alias("chars"),
        F.sum("blocks_total").alias("blocks_total"),
        F.sum("blocks_kept").alias("blocks_kept"),
        F.sum("tx_count").alias("txs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .alias("failures"),
    )


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    resume: bool = True,
    partitions: Optional[int] = None,
    run_id: Optional[str] = None,
) -> dict:
    """End-to-end job with snapshot resume: urls already committed
    (visible through a snapshot manifest) are anti-joined away before
    any payload work (SURVEY.md §2.6), so kill-and-rerun never
    duplicates and never re-extracts — a writer that died mid-write
    left no manifest, hence nothing visible.  transactions and
    doc_metrics land in ONE cross-table commit (``append_many``), so a
    crash can never leave committed transactions whose urls the
    doc_metrics-keyed anti-join would replay.

    The commit is two url-rebalanced writes over one persisted pass,
    counts observed:

    * each table's frame gets ``hint("rebalance", "url")`` above the
      persisted union, so the Python stage keeps its salted partitions
      while AQE sizes the written files by the session's advisory
      partition size (splitting skewed urls), and hashing on url keeps
      a document's rows in one file, as the Iceberg DDL's
      ``bucket(url)`` does (the small-file cost this removes is
      measured in ``io_tables``);
    * the row counts come from one ``Observation`` per written frame,
      recorded in the manifest's ``metrics``; no ``count()`` job runs;
    * a run with nothing left to extract (an empty url projection of
      the anti-joined input) returns ``docs=0`` before any payload
      shuffle or Python stage, and commits no snapshot."""
    io = TableIO.from_conf(spark, out_dir)
    if resume:
        done = io.committed_keys(spark, "doc_metrics", "url")
        if done is not None:
            pages = pages.join(done, "url", "left_anti")
    if pages.select("url").isEmpty():  # nothing to do → no snapshot
        return {"docs": 0, "txs": 0, "io": io, "out_dir": out_dir}
    parsed = parse_pages(pages, partitions).persist()
    seen = {"transactions": Observation(), "doc_metrics": Observation()}
    try:
        io.append_many(
            {t: df.observe(seen[t], F.count(F.lit(1)).alias("rows"))
                  .hint("rebalance", "url")
             for t, df in zip(seen, split_outputs(parsed))},
            run_id=run_id, metrics=seen)
    finally:
        parsed.unpersist()
    return {"docs": seen["doc_metrics"].get["rows"],
            "txs": seen["transactions"].get["rows"], "io": io,
            "out_dir": out_dir}
