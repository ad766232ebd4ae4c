"""WARC ingestion source: wire-format round-trips, malformed-record
tolerance, and the end-to-end demo lifecycle (its dual-engine oracle
parity runs via test_relational.test_oracle_parity[warc_ingest])."""

import gzip
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, n=40):
    return [(r[0], r[1]) for r in
            spark.read.parquet(SF_DIR + "/documents.parquet")
            .select("doc_id", "text").limit(n).collect()]


def test_warc_roundtrip_uncompressed(spark, tmp_path):
    """Plain .warc files: every record comes back with the exact html
    bytes, url, and date the writer rendered."""
    from pdf_parser_spark.warc import (
        read_warc, synth_date, synth_html, synth_url, write_warc_files,
    )

    rows = _docs(spark)
    write_warc_files(rows, str(tmp_path), n_files=3, compress=False)
    got = {r.url: r for r in read_warc(spark, str(tmp_path)).collect()}
    assert len(got) == len(rows)
    for doc_id, text in rows:
        r = got[synth_url(doc_id)]
        assert r.error is None
        assert r.warc_date == synth_date(doc_id)
        assert bytes(r.html) == synth_html(doc_id, text).encode("utf-8")
    # per-file record numbering is dense from 0
    by_file = {}
    for r in got.values():
        by_file.setdefault(r.warc_file, []).append(r.rec_no)
    assert len(by_file) == 3
    for recs in by_file.values():
        assert sorted(recs) == list(range(len(recs)))


def test_warc_roundtrip_gzip_members(spark, tmp_path):
    """.warc.gz files are concatenated per-record gzip members (the
    Common Crawl layout); the incremental member iterator must recover
    every record."""
    from pdf_parser_spark.warc import read_warc, write_warc_files

    rows = _docs(spark)
    paths = write_warc_files(rows, str(tmp_path), n_files=2,
                             compress=True)
    # the file really is multi-member gzip, not one stream
    blob = open(paths[0], "rb").read()
    assert blob.count(b"\x1f\x8b\x08") >= len(rows) // 2
    got = read_warc(spark, str(tmp_path)).collect()
    assert len(got) == len(rows)
    assert all(r.error is None for r in got)


@pytest.mark.parametrize("compress", [False, True])
def test_warc_writers_render_identical_files(spark, tmp_path, compress):
    """The executor-side writer produces the driver-side writer's files
    byte for byte: same names, same record order, same gzip framing."""
    from pdf_parser_spark.warc import (
        write_warc_files, write_warc_files_distributed,
    )

    rows = _docs(spark)
    local, dist = tmp_path / "local", tmp_path / "dist"
    write_warc_files(rows, str(local), n_files=3, compress=compress)
    write_warc_files_distributed(
        spark.createDataFrame(rows, "doc_id long, text string"),
        str(dist), n_files=3, compress=compress)
    names = sorted(os.listdir(local))
    assert len(names) == 3 and sorted(os.listdir(dist)) == names
    for name in names:
        assert (local / name).read_bytes() == (dist / name).read_bytes()


def test_warc_malformed_records(spark, tmp_path):
    """Breakage becomes error rows, never task failures: a truncated
    payload, a record without Content-Length, and unframed garbage
    each yield a diagnosable row while intact records still parse."""
    from pdf_parser_spark.warc import _record_bytes, read_warc

    good = _record_bytes("https://example.org/ok", "2024-01-01T00:00:00Z",
                         b"<html>ok</html>")
    truncated = _record_bytes("https://example.org/cut",
                              "2024-01-01T00:00:01Z",
                              b"<html>this body will be cut</html>")[:-30]
    no_len = (b"WARC/1.0\r\n"
              b"WARC-Type: response\r\n"
              b"WARC-Target-URI: https://example.org/nolen\r\n"
              b"\r\n")
    with open(os.path.join(tmp_path, "a.warc"), "wb") as f:
        f.write(good + truncated)
    with open(os.path.join(tmp_path, "b.warc"), "wb") as f:
        f.write(no_len)
    with open(os.path.join(tmp_path, "c.warc"), "wb") as f:
        f.write(b"not a warc record at all")

    rows = {(r.warc_file.rsplit("/", 1)[-1], r.rec_no): r
            for r in read_warc(spark, str(tmp_path)).collect()}
    ok = [r for r in rows.values() if r.error is None]
    assert len(ok) == 1 and ok[0].url == "https://example.org/ok"
    errs = {r.url: r.error for r in rows.values() if r.error}
    assert any("truncated" in e for e in errs.values())
    assert errs.get("https://example.org/nolen") == \
        "missing/bad Content-Length"
    assert any("unframed" in e for e in errs.values())


def test_warc_gzip_resync_after_bad_member(spark, tmp_path):
    """A corrupt record confined to its own gzip member must not eat
    the following members — the member boundary is the
    resynchronisation point."""
    from pdf_parser_spark.warc import _record_bytes, read_warc

    good1 = gzip.compress(_record_bytes(
        "https://example.org/1", "2024-01-01T00:00:01Z", b"<p>1</p>"),
        mtime=0)
    bad = gzip.compress(b"garbage bytes, no WARC header", mtime=0)
    good2 = gzip.compress(_record_bytes(
        "https://example.org/2", "2024-01-01T00:00:02Z", b"<p>2</p>"),
        mtime=0)
    with open(os.path.join(tmp_path, "mix.warc.gz"), "wb") as f:
        f.write(good1 + bad + good2)
    rows = read_warc(spark, str(tmp_path)).collect()
    oks = sorted(r.url for r in rows if r.error is None)
    assert oks == ["https://example.org/1", "https://example.org/2"]
    assert sum(1 for r in rows if r.error) == 1


def test_warc_corrupt_gzip_member_is_error_row(spark, tmp_path):
    """A bit-flipped byte INSIDE a gzip member must become an error
    row, not a task-killing zlib exception; members before the damage
    still parse (the boundary after it is unrecoverable — that is the
    documented contract)."""
    from pdf_parser_spark.warc import _record_bytes, read_warc

    good = gzip.compress(_record_bytes(
        "https://example.org/ok", "2024-01-01T00:00:00Z",
        b"<p>ok</p>"), mtime=0)
    bad = bytearray(gzip.compress(_record_bytes(
        "https://example.org/bad", "2024-01-01T00:00:01Z",
        b"<p>bad</p>"), mtime=0))
    bad[len(bad) // 2] ^= 0xFF   # flip a byte mid-deflate-stream
    with open(os.path.join(tmp_path, "c.warc.gz"), "wb") as f:
        f.write(good + bytes(bad))
    rows = read_warc(spark, str(tmp_path)).collect()
    oks = [r for r in rows if r.error is None]
    errs = [r for r in rows if r.error]
    assert [r.url for r in oks] == ["https://example.org/ok"]
    assert len(errs) == 1 and "corrupt gzip member" in errs[0].error
    assert errs[0].rec_no == 1   # lineage keys stay unique


def test_warc_truncated_and_trailing_bytes_are_error_rows(spark,
                                                          tmp_path):
    """A final gzip member cut short, and non-gzip bytes appended
    after the last member, must each surface as an error row instead
    of vanishing silently."""
    from pdf_parser_spark.warc import _record_bytes, read_warc

    rec = gzip.compress(_record_bytes(
        "https://example.org/1", "2024-01-01T00:00:00Z",
        b"<p>1</p>"), mtime=0)
    with open(os.path.join(tmp_path, "trunc.warc.gz"), "wb") as f:
        f.write(rec + rec[:len(rec) - 8])     # second member truncated
    with open(os.path.join(tmp_path, "trail.warc.gz"), "wb") as f:
        f.write(rec + b"plaintext tail that is not gzip")
    rows = {r.warc_file.rsplit("/", 1)[-1]: []
            for r in read_warc(spark, str(tmp_path)).collect()}
    for r in read_warc(spark, str(tmp_path)).collect():
        rows[r.warc_file.rsplit("/", 1)[-1]].append(r)
    for fname, want in [("trunc.warc.gz", "truncated gzip member"),
                        ("trail.warc.gz", "unframed trailing bytes")]:
        frows = rows[fname]
        assert [r.url for r in frows if r.error is None] == \
            ["https://example.org/1"], fname
        errs = [r.error for r in frows if r.error]
        assert len(errs) == 1 and want in errs[0], (fname, errs)
