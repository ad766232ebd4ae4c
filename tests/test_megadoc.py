"""Worst-case-document bounds (engine/chunking.py): the chunked parse
must be EXACTLY equivalent to the whole-document reference
(``finalize_records`` over one parse of every line), and the columnar
fold must actually bound the worker.

Cites: reference base.py:103-121 (sweep), chase.py:16-68 (section
state) — the decomposition argument lives in chunking.py's docstring.
"""

import importlib.util
import pathlib

import pytest

from pdf_parser_spark.engine.banks import ALL_PARSERS
from pdf_parser_spark.engine.chunking import (
    chunk_spans, parse_document_columnar,
)
from pdf_parser_spark.engine.detect import detect_issuer
from pdf_parser_spark.engine.direction import finalize_records
from pdf_parser_spark.engine.document import parse_document
from pdf_parser_spark.engine.textrules import split_lines, year_of

REPO = pathlib.Path(__file__).resolve().parent.parent


def _grow(body: str, reps: int, header: str = "") -> str:
    """Repeat a statement body to thousands of lines (chunking
    territory) under one issuer header."""
    return header + ("\n" + body) * reps


CASES = [
    ("chase", "chase.com statement\n",
     "Deposits and additions\n"
     "01/05 Online Transfer From Savings $120.%02d\n"
     "Electronic withdrawals\n"
     "01/0%d Zelle Payment To Alex 55.25\n"
     "Page 2 of 9\n"
     "02/11 ACH CREDIT ACME LLC 318.40"),
    ("generic", "\n",
     "01/1%d deposit alpha 93.10\n"
     "second line of block beta\n"
     "02/02 WIRE OUT gamma -44.%02d"),
    ("mercury", "Mercury Technologies\n",
     "Feb %d transfer vendor 120.55\n"
     "continuation words here\n"
     "Mar 3 deposit acme 77.10"),
    ("truist", "Truist Bank statement\n",
     "Deposits, credits and interest\n"
     "03/0%d MOBILE DEPOSIT 250.00\n"
     "Other withdrawals, debits and fees\n"
     "03/15 ACH PMT VENDOR 81.%02d"),
    ("valley", "Valley National Bank\n",
     "04/0%d deposit ref 52.10\n"
     + "x" * 260 + "\n"
     "04/22 withdrawal fee -13.%02d"),
    # round-4 additions (verdict ask #4): the stateful trio
    ("wf", "Wells Fargo Navigate Business Checking 2024 wellsfargo.com\n",
     "1/1%d WT Fed#08234 Morgan Stanley Bank /Org=Acme Capital LLC Srf#"
     " 210.00 18,400.%02d\n"
     "continuation descriptive words for the wire block here\n"
     "1/22 Purchase authorized on 01/20 Costco Whse #0482 388.16"
     " 15,841.84\n"
     "short ln"),
    ("bofa", "Bank of America Business Advantage 2024 bankofamerica.com\n",
     "Deposits and other additions\n"
     "01/0%d/24 Zelle payment from PEREZ ANA Conf# abc123 450.00\n"
     "Withdrawals and other debits\n"
     "01/10/24 CHECKCARD 0109 FUEL STATION 58.%02d\n"
     "01/11/24 Wire Transfer Fee 30.00 Wire Transfer Fee 16.00\n"
     + "01/20/24 CHECKCARD 0119 VENDOR ALPHA PAYMENT SERVICES INC 210.00 "
     + "01/21/24 CHECKCARD 0120 VENDOR BETA LOGISTICS AND FREIGHT CO"
       " 340.00 "
     + "01/22/24 CHECKCARD 0121 VENDOR GAMMA INDUSTRIAL SUPPLY LLC 95.55 "
     + "01/23/24 CHECKCARD 0122 VENDOR DELTA OFFICE MANAGEMENT GROUP"
       " 77.10\n"
     "Daily ledger balances\n"
     "Date Balance ($)\n"
     "01/05 9,800.00"),
    ("citi", "CitiBusiness statement 2024\n",
     "Checking Activity\n"
     "01/0%d DEBIT CARD PURCH CARD 0110 OFFICE DEPOT 89.99 12,410.01\n"
     "remittance info attached\n"
     "Savings Activity\n"
     "01/16 WITHDRAWAL BRANCH 500.00 0.00 29,512.%02d\n"
     "Page 3"),
]


def _reference(text, issuer=None):
    """The whole-document reference: ``finalize_records`` over one
    parse of every line, and that parse's tally."""
    lines = split_lines(text)
    tally = {"n_lines": len(lines)}
    key = issuer or detect_issuer(text)
    raw = ALL_PARSERS[key](lines, year_of(text, 2024), tally)
    return key, finalize_records(raw), tally


def _assert_columns(cols, want):
    dates, descs, amounts, dirs = cols
    assert dates == [t["date"] for t in want]
    assert descs == [t["description"] for t in want]
    assert [repr(a) for a in amounts] == [repr(t["amount"]) for t in want]
    assert dirs == [t["direction"] for t in want]


@pytest.mark.parametrize("bank,header,body_tpl",
                         CASES, ids=[c[0] for c in CASES])
def test_columnar_chunked_equals_whole(bank, header, body_tpl):
    """The chunked parse with aggressively small chunks vs the
    whole-document reference: identical transactions in identical
    order, and identical tallies (production doc_metrics come from
    this path)."""
    blocks = []
    for i in range(400):
        blocks.append(body_tpl % ((i % 9) + 1, i % 100)
                      if body_tpl.count("%") == 2 else
                      body_tpl % ((i % 9) + 1))
    text = header + "\n".join(blocks)

    want_bank, want, want_tally = _reference(text)
    tally = {}
    assert parse_document(text, 2024, tally=tally) == (want_bank, want)
    assert tally == want_tally
    chunked_tally = {}
    got_bank, cols = parse_document_columnar(
        text, 2024, tally=chunked_tally, chunk_lines=97)
    assert got_bank == want_bank == bank
    assert len(want) > 700  # chunking definitely engaged
    _assert_columns(cols, want)
    assert chunked_tally == want_tally
    assert set(want_tally) == {"n_lines", "blocks_total", "blocks_kept"}


def test_columnar_chunked_bofa_relationship_equals_whole():
    """bofa_relationship (unreachable via detection, issuer-override
    only — matching the reference) chunked vs whole: the open/close
    section machine must survive split points, including chunks that
    begin inside a CLOSED section (after 'Total …') and glued-line
    markers."""
    blocks = []
    for i in range(400):
        blocks.append(
            "Deposits and other credits\n"
            "01/0%d/24 WIRE TYPE:WIRE IN ORIG:CLIENT ONE LLC 9,800.00\n"
            "continuation of the wire description here\n"
            "Total deposits and other credits\n"
            "01/15/24 stray date line while section is CLOSED 55.00\n"
            "Withdrawals and other debits\n"
            "01/2%d/24 CHECKCARD VENDOR ALPHA 210.%02d\n"
            "Total withdrawals and other debits"
            % ((i % 9) + 1, i % 10, i % 100))
    text = "Bank of America Relationship statement 2024\n" + "\n".join(blocks)

    _, want, want_tally = _reference(text, "bofa_relationship")
    chunked_tally = {}
    got_bank, cols = parse_document_columnar(
        text, 2024, issuer="bofa_relationship", tally=chunked_tally,
        chunk_lines=97)
    assert got_bank == "bofa_relationship"
    assert len(want) > 300  # chunking engaged, sections exercised
    _assert_columns(cols, want)
    assert chunked_tally == want_tally


def test_chunk_spans_cover_and_start_on_dates():
    text = _grow("01/05 deposit 10.00\nnoise line", 500,
                 "chase.com statement")
    lines = split_lines(text)
    spans = chunk_spans(lines, 2024, "chase", chunk_lines=100)
    assert spans[0][0] == 0 and spans[-1][1] == len(lines)
    for (s1, e1, _), (s2, e2, _) in zip(spans, spans[1:]):
        assert e1 == s2  # contiguous, no overlap
    assert len(spans) > 3


def test_columnar_bounds_worker_memory():
    """The columnar fold must hold a 24 MB document under the
    whole-document reference's RSS — the linear extrapolation that
    keeps a 512 MB doc inside a 4 GB worker (BENCH/MEGADOC.md has the
    measured curve) — and the production worker
    (``_parse_arrow_batches`` over one Arrow batch) must peak at most
    16 MB of RSS per MB of document above its RSS before the document
    exists (the input batch included); the whole-document parse it
    ran before took about 19 MB per MB.  Each mode runs in a fresh
    child process (tools/megadoc_bench.py)."""
    spec = importlib.util.spec_from_file_location(
        "megadoc_bench", REPO / "tools" / "megadoc_bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    whole, col, doc, worker = (bench.measure(24, mode)
                               for mode in bench.MODES)
    assert col["txs"] == whole["txs"] == doc["txs"] == worker["txs"]
    assert worker["txs"] > 100_000
    assert col["peak_rss_mb"] < whole["peak_rss_mb"], (col, whole)
    assert col["peak_rss_mb"] < 1024, col  # 24 MB doc ≪ 1 GB worker share
    assert worker["mb_rss_per_doc_mb"] <= 16, worker
