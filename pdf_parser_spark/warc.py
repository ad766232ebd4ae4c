"""WARC container ingestion — the raw-crawl → pages-table source.

Common Crawl ships its pages as WARC/1.0 container files (one file =
many length-prefixed records; production crawls store each record as
its own gzip member, so a ``.warc.gz`` is a concatenation of gzip
streams).  This module is the ingestion edge of the pipeline: it turns
a directory of WARC files into the canonical pages table shape
``(url, warc_date, html binary, ...)`` that the extraction tier
(pipeline.py) consumes.

Spark shape at crawl scale (100k+ WARC files, ~1 GB each):

* the scan is ``spark.read.format("binaryFile")`` — one task per
  file (WARC has no intra-file split points once gzipped; Common
  Crawl's own tooling parallelises per file too).  File count, not
  file size, is the parallelism unit, so a crawl's natural 100k-file
  layout gives 100k tasks — far more than any executor count.
* record parsing is one ``pipeline.flat_map_rows`` pass
  (``mapInArrow``; the per-file work is bytes-slicing, and each
  file's records become typed Arrow columns, no pandas frame).
  Parsing is Content-Length driven (the WARC contract), never
  delimiter scanning, so payloads containing blank lines cannot
  desynchronise the reader.
* gzip members are decompressed incrementally with
  ``zlib.decompressobj`` — ``unused_data`` hands the next member's
  offset over without ever materialising more than one record beyond
  the current one.
* malformed records (truncated payload, missing mandatory headers)
  become error rows (``error`` column) instead of task failures — at
  10^12 records a crawl ALWAYS contains breakage, and a lineage row
  per failure is the resumable-pipeline contract (same policy as the
  extraction sidecar metrics).
* downstream skew handling is the caller's: repartition by
  ``xxhash64(url)`` after ingest (pipeline.py does) so one mega-WARC
  does not pin a partition.

The synthetic writer exists for tests/demo only: it renders the
``documents`` corpus into REAL spec-shaped WARC bytes (status line,
HTTP headers, CRLF framing, per-record gzip members) so the reader is
exercised against the true wire format; the oracle twin rebuilds the
same rows from ``documents`` by pure string math in DuckDB.
"""

from __future__ import annotations

import gzip
import io
import os

_WARC_DATE = "2024-01-01T00:00:{s:02d}Z"
_URL = "https://example.org/doc/{i}"
_HTML = ("<html><head><title>doc {i}</title></head>"
         "<body><p>{text}</p></body></html>")


def synth_html(doc_id: int, text: str) -> str:
    """The deterministic page body for doc_id — MUST stay expressible
    as pure SQL string concatenation (the DuckDB oracle rebuilds it:
    see warc_oracle_sql)."""
    return _HTML.format(i=doc_id, text=text)


def synth_url(doc_id: int) -> str:
    return _URL.format(i=doc_id)


def synth_date(doc_id: int) -> str:
    return _WARC_DATE.format(s=doc_id % 60)


def _record_bytes(url: str, date: str, html: bytes) -> bytes:
    """One spec-shaped WARC response record: WARC headers, then the
    HTTP response message as payload (Content-Length counts the whole
    HTTP block, per the spec)."""
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: " + str(len(html)).encode() + b"\r\n"
            b"\r\n" + html)
    warc_headers = ("WARC/1.0\r\n"
                    "WARC-Type: response\r\n"
                    "WARC-Target-URI: %s\r\n"
                    "WARC-Date: %s\r\n"
                    "Content-Type: application/http; msgtype=response\r\n"
                    "Content-Length: %d\r\n"
                    "\r\n" % (url, date, len(http))).encode()
    return warc_headers + http + b"\r\n\r\n"


def _write_bucket(out_dir: str, k: int, rows, compress: bool) -> str:
    """Write WARC file ``k`` of ``out_dir``: the ``(doc_id, text)`` rows
    in doc_id order, one gzip member per record when compressed."""
    buf = io.BytesIO()
    for doc_id, text in sorted(rows):
        rec = _record_bytes(synth_url(doc_id), synth_date(doc_id),
                            synth_html(doc_id, text).encode("utf-8"))
        if compress:
            # mtime=0 → deterministic bytes; one gzip member per record
            rec = gzip.compress(rec, mtime=0)
        buf.write(rec)
    path = os.path.join(out_dir, "crawl-%05d%s"
                        % (k, ".warc.gz" if compress else ".warc"))
    with open(path, "wb") as f:
        f.write(buf.getvalue())
    return path


def write_warc_files(rows, out_dir: str, n_files: int = 4,
                     compress: bool = True) -> list:
    """Render ``(doc_id, text)`` rows into n_files WARC files
    (``doc_id % n_files`` routing; per-record gzip members when
    compressed — the Common Crawl layout).  TEST/DEMO fixture
    generator: runs driver-side on purpose (the scale path is the
    READER; crawls arrive as WARC, they are not produced by us)."""
    os.makedirs(out_dir, exist_ok=True)
    buckets: dict = {k: [] for k in range(n_files)}
    for doc_id, text in rows:
        buckets[doc_id % n_files].append((doc_id, text))
    return [_write_bucket(out_dir, k, bucket_rows, compress)
            for k, bucket_rows in buckets.items()]


def write_warc_files_distributed(df, out_dir: str, n_files: int = 4,
                                 compress: bool = True) -> None:
    """Executor-side fixture render (round 6, the round-5 verdict's
    hygiene note): ``df(doc_id, text)`` → the SAME files
    ``write_warc_files`` produces, but written by a
    ``foreachPartition`` pass instead of collecting the corpus to the
    driver.  Rows are hash-repartitioned on the file bucket
    (``doc_id % n_files``), so each bucket lands wholly inside one
    partition and its file is byte-identical (same doc_id ordering,
    same gzip framing).  Requires storage visible to every executor
    (true in local mode and on any shared-FS/object-store cluster —
    where a real pipeline would land WARC output anyway)."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows):
        by_bucket: dict = {}
        for r in rows:
            by_bucket.setdefault(r.bucket, []).append((r.doc_id, r.text))
        for k, bucket_rows in by_bucket.items():
            _write_bucket(out_dir, k, bucket_rows, compress)

    (df.select("doc_id", "text",
               F.pmod(F.col("doc_id"), F.lit(n_files)).alias("bucket"))
       .repartition(n_files, "bucket")
       .foreachPartition(write_partition))


def _iter_members(blob: bytes):
    """Yield ``(payload, error)`` per gzip member of a concatenated-
    member blob (incremental zlib; ``unused_data`` carries the next
    member's start), or the blob itself if it is not gzip.  Breakage
    surfaces as an error tuple, never an exception — a corrupt member
    loses the member boundary, so it ends the file with a diagnosable
    row instead of killing the Spark task:

    * corrupt member → ``(None, "corrupt gzip member: ...")``, stop;
    * member whose stream never reaches EOF (truncated file) →
      ``(None, "truncated gzip member")``;
    * trailing bytes that are not a gzip member →
      ``(None, "unframed trailing bytes")``."""
    import zlib
    if not blob.startswith(b"\x1f\x8b"):
        yield blob, None
        return
    rest = blob
    while rest.startswith(b"\x1f\x8b"):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            payload = d.decompress(rest)
        except zlib.error as e:
            yield None, "corrupt gzip member: %s" % e
            return
        if not d.eof:
            yield None, "truncated gzip member"
            return
        yield payload, None
        rest = d.unused_data
    if rest:
        yield None, "unframed trailing bytes (%d)" % len(rest)


def _parse_warc_blob(path: str, blob: bytes):
    """Yield per-record dict rows (url, warc_date, html, warc_file,
    rec_no, error — keys in ``_READ_SCHEMA`` column order) from one
    WARC file's bytes.  Content-Length-driven; a record that
    cannot be framed or lacks mandatory headers yields an error row
    and parsing continues at the next resynchronisation point."""
    rec_no = 0
    for member, mem_err in _iter_members(blob):
        if mem_err is not None:
            yield {"url": None, "warc_date": None, "html": None,
                   "warc_file": path, "rec_no": rec_no, "error": mem_err}
            rec_no += 1
            continue
        off = 0
        while off < len(member):
            # skip inter-record CRLF padding
            while member[off:off + 2] == b"\r\n":
                off += 2
            if off >= len(member):
                break
            hdr_end = member.find(b"\r\n\r\n", off)
            if hdr_end < 0 or not member[off:].startswith(b"WARC/"):
                yield {"url": None, "warc_date": None, "html": None,
                       "warc_file": path, "rec_no": rec_no,
                       "error": "unframed bytes at offset %d" % off}
                rec_no += 1
                break
            headers = {}
            for line in member[off:hdr_end].decode(
                    "utf-8", "replace").split("\r\n")[1:]:
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            try:
                clen = int(headers["content-length"])
            except (KeyError, ValueError):
                yield {"url": headers.get("warc-target-uri"),
                       "warc_date": headers.get("warc-date"),
                       "html": None, "warc_file": path, "rec_no": rec_no,
                       "error": "missing/bad Content-Length"}
                rec_no += 1
                break
            payload = member[hdr_end + 4:hdr_end + 4 + clen]
            off = hdr_end + 4 + clen
            row = {"url": headers.get("warc-target-uri"),
                   "warc_date": headers.get("warc-date"),
                   "html": None, "warc_file": path, "rec_no": rec_no,
                   "error": None}
            if len(payload) < clen:
                row["error"] = "truncated payload (%d < %d)" % (
                    len(payload), clen)
            elif row["url"] is None:
                row["error"] = "missing WARC-Target-URI"
            else:
                # payload is an HTTP message: body starts after its
                # own blank line
                body_at = payload.find(b"\r\n\r\n")
                row["html"] = payload[body_at + 4:] if body_at >= 0 \
                    else payload
            rec_no += 1
            yield row


_READ_SCHEMA = ("url string, warc_date string, html binary, "
                "warc_file string, rec_no long, error string")


def read_warc(spark, path: str):
    """Directory (or glob) of ``.warc`` / ``.warc.gz`` files → one
    DataFrame row per record.  binaryFile scan (a task per file) +
    ``flat_map_rows`` framing; error rows instead of task failures."""
    from .pipeline import flat_map_rows

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*").load(path)
             .select("path", "content"))
    return flat_map_rows(
        files, _READ_SCHEMA,
        lambda path, blob: (tuple(r.values())
                            for r in _parse_warc_blob(path, blob)))


def warc_ingest_demo(spark):
    """Registered end-to-end lifecycle: render ``documents`` into real
    gzip-member WARC files, read them back through the binaryFile +
    flat_map_rows path, and emit the verifiable projection
    (url, warc_date, n_bytes, html_md5).  The DuckDB oracle rebuilds
    identical rows from ``documents`` with pure string math — so
    framing, CRLF handling, gzip member iteration, and Content-Length
    arithmetic are all hash-checked.  The WARC files live in a
    temporary directory of their own, removed once the output is
    checkpointed."""
    import tempfile

    from pyspark.sql import functions as F

    from .stages import scope

    with scope(spark) as st, tempfile.TemporaryDirectory(
            prefix="pdf_parser_spark_warc_") as root:
        # executor-side render (round 6): no driver collect of the
        # corpus — the fixture files are written by a foreachPartition
        # pass, keeping the no-unbounded-collect invariant absolute even
        # in demo paths
        write_warc_files_distributed(
            spark.table("documents").select("doc_id", "text"), root)
        return st.result(
            read_warc(spark, root)
            .filter(F.col("error").isNull())
            .select(
                "url", "warc_date",
                F.octet_length("html").cast("long").alias("n_bytes"),
                F.md5("html").alias("html_md5")))


def warc_oracle_sql() -> str:
    """The DuckDB twin: rebuild url/date/html from ``documents`` with
    string concatenation only (mirrors synth_url/synth_date/
    synth_html) and hash the SAME utf-8 bytes the reader extracted."""
    return """
WITH pages AS (
  SELECT
    'https://example.org/doc/' || doc_id AS url,
    '2024-01-01T00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
      || 'Z' AS warc_date,
    '<html><head><title>doc ' || doc_id || '</title></head><body><p>'
      || text || '</p></body></html>' AS html
  FROM documents
)
SELECT url, warc_date,
  CAST(octet_length(encode(html)) AS BIGINT) AS n_bytes,
  md5(html) AS html_md5
FROM pages
"""
