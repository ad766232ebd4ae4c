"""The fidelity worker (pipeline._parse_arrow_batches), run in-process
over the fixture corpus, must reproduce the reference-executed goldens
row for row: transactions (tests/golden/expected_tx.parquet) and the
per-document lineage sidecar (expected_doc_metrics.parquet)."""

import pathlib

import pyarrow as pa
import pyarrow.parquet as pq

GOLDEN = pathlib.Path(__file__).parent / "golden"
PAGES = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                   ("html", pa.binary()), ("text", pa.string())])


def _run_worker(rows):
    """(tx rows, doc rows) the worker emits for page ``rows`` of
    (url, warc_ts, html, text), each sorted by its (url, ...) key."""
    from pdf_parser_spark.pipeline import (
        DOC_COLUMNS, TX_COLUMNS, _parse_arrow_batches,
    )

    batch = pa.RecordBatch.from_arrays(
        [pa.array(col, f.type) for col, f in zip(zip(*rows), PAGES)],
        schema=PAGES)
    out = pa.Table.from_batches(list(_parse_arrow_batches(iter([batch]))))
    record = out.column("record").to_pylist()

    def rows_of(kind, columns):
        cols = [out.column(c).to_pylist() for c in columns]
        return sorted((r for r, k in zip(zip(*cols), record) if k == kind),
                      key=lambda r: r[:2])

    return (rows_of("tx", TX_COLUMNS),
            rows_of("doc", [c for c in DOC_COLUMNS if c != "part_id"]))


def _golden_rows(name):
    t = pq.read_table(GOLDEN / name)
    return sorted(zip(*[c.to_pylist() for c in t.columns]),
                  key=lambda r: r[:2])


def test_arrow_worker_matches_goldens():
    from pdf_parser_spark.pages_source import fixture_pages_rows

    rows = [r[:4] for r in fixture_pages_rows(repeat=1)]
    txs, docs = _run_worker(rows)
    want_txs = _golden_rows("expected_tx.parquet")
    want_docs = _golden_rows("expected_doc_metrics.parquet")
    assert len(docs) == len(want_docs) == len(rows) == 36
    assert len(txs) == len(want_txs) == 16127
    assert docs == want_docs
    assert txs == want_txs


def test_arrow_worker_null_warc_ts():
    """Null warc_ts arrives as None through Arrow — must hit the 1970
    fallback year, not poison the document."""
    txs, docs = _run_worker([
        ("u1", None, None, "chase.com statement\n01/03 Deposit 100.00")])
    assert [(t[0], t[2], t[3]) for t in txs] == [("u1", "chase",
                                                   "1970-01-03")]
    assert len(docs) == 1
    url, bank, *_, error = docs[0]
    assert (url, bank, error) == ("u1", "chase", None)
