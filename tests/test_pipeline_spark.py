"""End-to-end Spark fidelity path vs reference goldens.

Runs the full job ONCE (module-scoped fixture: PDF/HTML/text payload
mix → salted repartition → mapInArrow extract+parse → tx table +
metrics sidecar) and checks:

* every (url, tx_index, date, description, amount, direction) matches
  the goldens generated from the reference — across ALL payload kinds
  (for hinted fixtures the pipeline exercises pure detection, compared
  against the ``#detected`` golden variant);
* the byte-identical-text gate: sha256 of extracted text equals the
  canonical fixture text hash per url (zero mismatches on join);
* resume: a second run processes nothing and duplicates nothing.
"""

import hashlib
import json
import pathlib

import pytest

from pdf_parser_spark.fixtures import fixture_docs
from pdf_parser_spark.pages_source import fixture_pages_df, fixture_pages_rows
from pdf_parser_spark.pipeline import partition_metrics, run_extraction_job

GOLDEN = json.loads(
    (pathlib.Path(__file__).parent / "golden" / "expected_tx.json").read_text()
)

MEGA_TEST_THRESHOLD = 100_000  # fixture megas are ~0.1-0.4 MB


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline") / "out")
    pages = fixture_pages_df(spark)
    result = run_extraction_job(spark, pages, out, resume=True,
                                run_id="test-run-1")
    txs = result["io"].read(spark, "transactions")
    docs = result["io"].read(spark, "doc_metrics")
    return {"result": result, "pages": pages, "out": out,
            "txs": txs.collect(), "docs": docs.collect(),
            "docs_df": docs}


def _expected(url):
    return GOLDEN.get(url + "#detected", GOLDEN[url])


def test_full_job_matches_goldens(job):
    assert job["result"]["docs"] == len(fixture_docs())
    got = {}
    for r in job["txs"]:
        got.setdefault(r.url, []).append(r)
    for rows in got.values():
        rows.sort(key=lambda r: r.tx_index)
    for doc in fixture_docs():
        url = doc["url"]
        want = _expected(url)["txs"]
        rows = got.get(url, [])
        assert len(rows) == len(want), (url, len(rows), len(want))
        for r, w in zip(rows, want):
            assert r.date == w["date"], (url, r, w)
            assert r.description == w["description"], (url, r, w)
            assert repr(r.amount) == repr(float(w["amount"])), (url, r, w)
            assert r.direction == w["direction"], (url, r, w)
        if rows:
            assert rows[0].bank == _expected(url)["bank"]


def _canonical_text(doc, mode):
    t = doc["text"].replace("\f", "\n")
    if mode == "pdf":
        return "\n".join(l for l in t.split("\n") if l != "")
    if mode == "html":
        return "\n".join(l for l in t.split("\n") if l.strip())
    return doc["text"]


def test_text_hash_gate(job):
    """BASELINE correctness gate: zero text-hash mismatches on join."""
    sha_by_url = {r.url: r.text_sha256 for r in job["docs"]}
    modes = ("pdf", "html", "text")
    mismatches = []
    for i, doc in enumerate(fixture_docs()):
        want = hashlib.sha256(
            _canonical_text(doc, modes[i % 3]).encode("utf-8")
        ).hexdigest()
        if sha_by_url[doc["url"]] != want:
            mismatches.append(doc["url"])
    assert mismatches == []


def test_no_failures_and_kinds(job):
    kinds = {r.kind for r in job["docs"]}
    assert kinds == {"pdf", "html", "text"}
    assert all(r.error is None for r in job["docs"])


def test_resume_anti_join(spark, job):
    second = run_extraction_job(spark, job["pages"], job["out"], resume=True)
    assert second["docs"] == 0  # nothing reprocessed
    docs = job["result"]["io"].read(spark, "doc_metrics")
    assert docs.count() == docs.select("url").distinct().count()
    # no empty snapshot was committed by the no-op rerun
    assert len(job["result"]["io"].snapshots("doc_metrics")) == 1


def test_partition_metrics_rollup(job):
    rows = partition_metrics(job["docs_df"]).collect()
    assert sum(r.docs for r in rows) == len(fixture_docs())
    assert all(r.failures == 0 for r in rows)
    assert len(rows) > 1  # work actually spread over partitions


def test_mega_docs_spread_and_correct(spark):
    """The corpus has >100 KB mega documents; the single-scan salted
    repartition spreads them (2x over-partitioning) and salting never
    changes semantics."""
    rows = fixture_pages_rows()
    megas = [
        r[0] for r in rows
        if len(r[2] or b"") > MEGA_TEST_THRESHOLD
        or len(r[3] or "") > MEGA_TEST_THRESHOLD
    ]
    assert megas, "corpus must contain mega documents"
    from pdf_parser_spark.pipeline import parse_pages, split_outputs

    pages = fixture_pages_df(spark).filter(
        "url like '%mega%' or url like '%basic%'"
    )
    parsed = parse_pages(pages)
    txs, docs = split_outputs(parsed)
    by_url = {r.url: r for r in docs.collect()}
    for url in megas:
        assert by_url[url].tx_count == len(_expected(url)["txs"])
    # the megas landed on more than one partition (hash spread)
    mega_parts = {by_url[u].part_id for u in megas}
    assert len(mega_parts) > 1
