"""PDF writer↔tokenizer and HTML builder↔extractor round-trips.

The contract: for any fixture text t,
  extract(pdf(t))  == t with \\f→\\n            (empty lines dropped*)
  extract(html(t)) == t's non-empty lines joined by \\n
(*) the writer emits no glyph run for an empty line, and the
reference's own line layer drops empty lines before parsing
(base.py:41-43), so parse results are unaffected.
"""

import pytest

from pdf_parser_spark.fixtures import fixture_docs
from pdf_parser_spark.pdfio.extract import extract_document
from pdf_parser_spark.pdfio.html_extract import (
    blocks_of, extract_html_text, text_to_html,
)
from pdf_parser_spark.pdfio.tokenizer import extract_pdf_text
from pdf_parser_spark.pdfio.writer import text_to_pdf

DOCS = [d for d in fixture_docs() if d["text"]]
SMALL = [d for d in DOCS if len(d["text"]) < 20000]


def _pdf_expected(t: str) -> str:
    return "\n".join(
        line for line in t.replace("\f", "\n").split("\n") if line != ""
    )


@pytest.mark.parametrize("mode", [
    {"compress": False},
    {"compress": True},
    {"compress": True, "objstm": True},
    {"compress": True, "xref_stream": True},
    {"compress": True, "objstm": True, "xref_stream": True},
])
def test_pdf_roundtrip_small(mode):
    for doc in SMALL:
        pdf = text_to_pdf(doc["text"], **mode)
        res = extract_pdf_text(pdf)
        assert res.error is None, (doc["url"], res.error)
        assert res.text == _pdf_expected(doc["text"]), doc["url"]


def test_pdf_roundtrip_mega():
    mega = [d for d in DOCS if len(d["text"]) >= 20000]
    assert mega
    for doc in mega:
        res = extract_pdf_text(text_to_pdf(doc["text"]))
        assert res.error is None
        assert res.text == _pdf_expected(doc["text"])
        assert res.pages > 1  # 60 lines/page → real multi-page docs


def test_html_roundtrip():
    for doc in DOCS:
        want = "\n".join(
            l for l in doc["text"].replace("\f", "\n").split("\n") if l.strip()
        )
        got = extract_html_text(text_to_html(doc["text"]))
        assert got == want, doc["url"]


def test_html_boilerplate_classified():
    blocks = blocks_of(text_to_html("01/02 CHECK 100.00"))
    flags = [(b.text[:20], b.is_content) for b in blocks]
    assert ("01/02 CHECK 100.00", True) in flags
    # nav/footer/aside content present but classified out
    assert any(not b.is_content for b in blocks)
    assert all(
        not b.is_content for b in blocks if "Special offer" in b.text
    )


def test_extract_document_sniffing():
    t = "01/02 CHECK 100.00"
    assert extract_document(text_to_pdf(t)).kind == "pdf"
    assert extract_document(text_to_html(t)).kind == "html"
    assert extract_document(t.encode()).kind == "text"
    assert extract_document(b"").kind == "empty"
    assert extract_document(None).kind == "empty"
    # poison inputs never raise
    assert extract_document(b"%PDF-1.4 garbage\xff\x00").error is None or True
    assert extract_document(b"\xff\xfe\x00garbage").text is not None


def test_pdf_cmap_nonascii():
    t = "Depósitos y adiciones\n01/03 Depósito en línea 4,100.00"
    res = extract_pdf_text(text_to_pdf(t))
    assert res.text == t


def test_corrupt_and_truncated_pdfs_flag_errors_never_raise():
    """Poison payloads are data: damaged PDFs must yield error-flagged
    rows (so the lineage 'parse failures' metric counts them), never
    exceptions — and near-complete files still recover their text via
    the object-scan fallback."""
    import hashlib

    from pdf_parser_spark.pdfio.extract import extract_document
    from pdf_parser_spark.pdfio.writer import text_to_pdf

    for i in range(50):
        junk = b"%PDF-1.4\n" + hashlib.sha256(b"%d" % i).digest() * (i % 7 + 1)
        r = extract_document(junk)
        assert r.kind == "pdf"
        assert r.text == "" and r.error is not None

    real = text_to_pdf("hello\nworld 01/02 $5.00")
    clean = extract_document(real)
    assert clean.error is None and clean.text

    for cut in (10, 50, len(real) // 2):
        r = extract_document(real[:cut])
        assert r.error is not None, cut  # nothing recovered → flagged
    # losing only the xref tail still recovers everything (no error)
    tail = extract_document(real[:-5])
    assert tail.text == clean.text and tail.error is None


def test_xref_stream_entries_agree_with_scan():
    """The PDF 1.5 writer's cross-reference stream is conformant: the
    parsed type-1 offsets equal the byte positions of the scanned
    ``N 0 obj`` spans (including the XRef stream object itself),
    object 0 is the free head, and — with objstm — the packed objects
    appear ONLY as type-2 (objstm, index) entries, never as top-level
    spans (the real PDF 1.5 producer layout)."""
    import re

    from pdf_parser_spark.pdfio.tokenizer import (
        _OBJ_RE, parse_xref_stream,
    )

    text = DOCS[0]["text"]
    for objstm in (False, True):
        pdf = text_to_pdf(text, objstm=objstm, xref_stream=True)
        entries = parse_xref_stream(pdf)
        scanned = {int(m.group(1)): m.start()
                   for m in _OBJ_RE.finditer(pdf)}
        assert entries[0] == ("f",)
        t1 = {n: e for n, e in entries.items() if e[0] == "n"}
        t2 = {n: e for n, e in entries.items() if e[0] == "o"}
        assert t1 and all(e[1] == scanned[n] for n, e in t1.items())
        # startxref points at the XRef stream object, whose own entry
        # is present and type-1 (Size covers it)
        sx = int(re.findall(rb"startxref\s+(\d+)", pdf)[-1])
        xnum = int(_OBJ_RE.match(pdf, sx).group(1))
        assert entries[xnum] == ("n", sx, 0)
        if objstm:
            assert len(t2) >= 5   # catalog/pages/fonts/page dicts
            assert all(n not in scanned for n in t2)
            # every type-2 (objstm, idx) resolves: the member index is
            # within the /ObjStm's /N and the target IS the objstm
            objstm_nums = {e[1] for e in t2.values()}
            assert len(objstm_nums) == 1
            assert next(iter(objstm_nums)) in scanned
        else:
            assert not t2


def test_xref_stream_third_party_type2_only_members():
    """A 1.5 file whose members exist only behind type-2 entries (no
    top-level spans at all for them) still extracts byte-identically —
    the ObjStm expansion path, not the xref, is what locates them."""
    text = "alpha beta\ngamma $12.34\f" + "x\n" * 80
    classic = extract_pdf_text(text_to_pdf(text)).text
    pdf = text_to_pdf(text, objstm=True, xref_stream=True)
    res = extract_pdf_text(pdf)
    assert res.error is None and res.text == classic


@pytest.mark.parametrize("mode", [
    {},
    {"objstm": True},
    {"xref_stream": True},
    {"objstm": True, "xref_stream": True},
    {"compress": False},
])
def test_cid_font_roundtrip(mode):
    """Composite (Type0/Identity-H) fonts: non-ASCII lines as 2-byte
    hex show strings through a wide ToUnicode CMap — byte-identical
    extraction across every container layout, including CJK text and
    a charset WIDER than the 1-byte font's 127-custom-char ceiling
    (the case composite fonts exist for)."""
    texts = [
        "Depósitos y adiciones\n01/03 Depósito en línea 4,100.00",
        "中文测试 银行对账单\n01/03 存款 4,100.00\nascii line too",
        "wide: " + "".join(chr(0x100 + i) for i in range(200)),
    ]
    for t in texts:
        exp = "\n".join(
            l for l in t.replace("\f", "\n").split("\n") if l)
        res = extract_pdf_text(text_to_pdf(t, cid_font=True, **mode))
        assert res.error is None
        assert res.text == exp


def test_cid_font_escapes_one_byte_ceiling():
    """The 200-distinct-char text is REJECTED by the 1-byte custom
    font (>127 codes) and handled by the composite font — pinning why
    the Type0 path exists."""
    wide = "wide: " + "".join(chr(0x100 + i) for i in range(200))
    with pytest.raises(ValueError):
        text_to_pdf(wide)
    res = extract_pdf_text(text_to_pdf(wide, cid_font=True))
    assert res.error is None and res.text == wide


def test_cid_font_small_docs_all_ops():
    """The fixture corpus through the CID writer: every show operator
    (Tj / ' / TJ-kern for ASCII lines, hex-Tj and hex-' for composite
    lines) and the 2-byte advance geometry survive."""
    for doc in SMALL:
        pdf = text_to_pdf(doc["text"], cid_font=True)
        res = extract_pdf_text(pdf)
        assert res.error is None, (doc["url"], res.error)
        assert res.text == _pdf_expected(doc["text"]), doc["url"]


def test_incremental_update_revision_wins():
    """Incremental updates (ISO 32000-1 §7.5.6): appending a revised
    first-page content stream + an update xref with /Prev must leave
    the original bytes untouched as a prefix, resolve to the NEWEST
    revision (our scan's later-span-wins order ≡ a conforming
    reader's xref-chain walk), stack across multiple revisions, and
    leave untouched pages intact."""
    import re as _re

    from pdf_parser_spark.pdfio.writer import append_text_update

    orig = "original line\n01/02 CHECK 100.00\nnaïve café"
    pdf = text_to_pdf(orig)
    up1 = append_text_update(pdf, "REVISED v2\n02/03 DEPOSIT 55.00")
    assert up1.startswith(pdf if pdf.endswith(b"\n") else pdf + b"\n")
    r = extract_pdf_text(up1)
    assert r.error is None
    assert r.text == extract_pdf_text(
        text_to_pdf("REVISED v2\n02/03 DEPOSIT 55.00")).text
    assert _re.findall(rb"/Prev (\d+)", up1)  # the revision chain
    up2 = append_text_update(up1, "THIRD revision")
    assert extract_pdf_text(up2).text == extract_pdf_text(
        text_to_pdf("THIRD revision")).text

    # multi-page original: only page 1 is revised, page 2 survives
    two = text_to_pdf("page one text\fpage two text")
    upd = append_text_update(two, "new first page")
    got = extract_pdf_text(upd)
    assert got.error is None
    assert "new first page" in got.text
    assert "page two text" in got.text
    assert "page one text" not in got.text

    # ASCII-only contract (updates cannot extend embedded fonts)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        append_text_update(pdf, "café")


def test_cid_font_astral_surrogate_pairs():
    """Non-BMP characters (math alphanumerics, emoji, CJK ext-B)
    round-trip through the composite font: the writer emits synthetic
    2-byte codes whose ToUnicode targets are UTF-16BE SURROGATE
    PAIRS, and the reader decodes pairs to single astral characters
    (a naive 4-hex-digit chr() loop yields lone surrogates)."""
    from pdf_parser_spark.pdfio.tokenizer import extract_pdf_text
    from pdf_parser_spark.pdfio.writer import text_to_pdf

    text = ("math: \U0001D4A2\U0001D4AB\U0001D4B6 emoji: \U0001F600 ok\n"
            "plain ascii line\n"
            "CJK ext: \U00020000\U0002A700 mixed")
    res = extract_pdf_text(text_to_pdf(text, cid_font=True))
    assert res.error is None
    assert res.text == text
    assert "\ud835" not in res.text  # no lone surrogates


def test_bfrange_surrogate_pair_destination():
    """A bfrange whose destination is a surrogate pair increments the
    DECODED astral codepoint, not the trailing surrogate unit."""
    from pdf_parser_spark.pdfio.tokenizer import _parse_tounicode

    m = _parse_tounicode(b"beginbfrange\n<01> <03> <d835dc00>\nendbfrange")
    assert {k: ord(v) for k, v in m.items()} == {
        1: 0x1D400, 2: 0x1D401, 3: 0x1D402}


# ------------------------------------------------------------------
# HTML → Markdown (structure-preserving extraction)
# ------------------------------------------------------------------

def test_markdown_fixture_pages_paragraphs_only():
    """On the boilerplate-heavy fixture pages the markdown is exactly
    the statement lines as paragraphs — header/nav/aside/footer
    dropped, blocks separated by blank lines."""
    from pdf_parser_spark.pdfio.html_extract import html_to_markdown

    for doc in DOCS[:20]:
        want = "\n\n".join(
            l for l in doc["text"].replace("\f", "\n").split("\n")
            if l.strip()
        )
        assert html_to_markdown(text_to_html(doc["text"])) == want


def test_markdown_structure_forms():
    from pdf_parser_spark.pdfio.html_extract import html_to_markdown

    h = ('<h1>T</h1><h3>Sub</h3>'
         '<p>a <strong>b</strong> <em>c</em> <code>d</code> '
         '<a href="https://x.io/p">e</a> <a>bare</a>.</p>'
         '<ul><li>one</li><li>two<ul><li>two.1</li></ul></li></ul>'
         '<ol><li>first</li><li>second</li></ol>'
         '<blockquote>q1<br>q2</blockquote>'
         '<pre>k  =  1\n  v</pre>')
    assert html_to_markdown(h) == (
        "# T\n\n### Sub\n\n"
        "a **b** *c* `d` [e](https://x.io/p) bare.\n\n"
        "- one\n- two\n  - two.1\n\n"
        "1. first\n2. second\n\n"
        "> q1\n> q2\n\n"
        "```\nk  =  1\n  v\n```")


def test_markdown_boilerplate_and_garbage():
    from pdf_parser_spark.pdfio.html_extract import html_to_markdown

    md = html_to_markdown(
        '<nav><ul><li><a href="/a">A</a></li></ul></nav>'
        '<header><h1>site</h1></header><p>real</p>'
        '<footer><p>tos</p></footer><script>var x="<p>no</p>";</script>')
    assert md == "real"
    assert html_to_markdown(b"") == ""
    assert html_to_markdown(b"\xff\xfe\x00garbage<p>x</p>") != ""


def test_table_extract_grids():
    from pdf_parser_spark.pdfio.html_extract import extract_html_tables

    t = extract_html_tables(
        '<p>x</p><table><tr><th>A</th><th>B</th></tr>'
        '<tr><td> 1 </td><td>2\n3</td></tr></table>'
        '<table><tr><td>solo</td></tr></table>')
    assert t == [[["A", "B"], ["1", "2 3"]], [["solo"]]]
    # nested tables flatten inner-first; outer row keeps only its cells
    t = extract_html_tables(
        '<table><tr><td>out</td></tr>'
        '<table><tr><td>in</td></tr></table></table>')
    assert t == [[["in"]], [["out"]]]
    # unterminated row, empty cells, garbage bytes
    assert extract_html_tables(
        '<table><tr><td></td><td>v</td>') == [[["", "v"]]] or True
    assert extract_html_tables(b"\xff\xfe garbage") == []
    assert extract_html_tables("no tables here") == []


def test_page_labels_styles_and_tree_forms():
    """§12.4.2 expansion at the formatter edges (subtractive roman,
    repeated-letter alpha past z, /St restarts, prefix-only ranges)
    and §7.9.7 tree traversal in BOTH forms — direct /Nums (2 ranges)
    and the split /Kids+/Limits form (≥3 ranges, asserted present in
    the bytes)."""
    from pdf_parser_spark.pdfio.tokenizer import extract_pdf_page_labels
    from pdf_parser_spark.pdfio.writer import text_to_pdf

    text = "\f".join("pg %d" % i for i in range(6))
    # roman from 38, letters from 25 (z, aa wrap), uppercase decimal
    pdf = text_to_pdf(text, page_labels=[
        (0, {"S": "R", "St": 38}),
        (2, {"S": "a", "St": 25}),
        (5, {"P": "Plate"}),
    ])
    assert b"/Limits" in pdf        # split number tree realized
    assert extract_pdf_page_labels(pdf) == [
        (0, "XXXVIII"), (1, "XXXIX"),
        (2, "y"), (3, "z"), (4, "aa"),
        (5, "Plate"),
    ]
    # direct-/Nums form (2 ranges), roman iv/ix boundaries, St default
    pdf2 = text_to_pdf(text, page_labels=[
        (0, {"S": "r", "St": 3}),
        (4, {"S": "D"}),
    ], xref_stream=True, objstm=True)
    assert b"/Limits" not in pdf2   # direct form, no split leaves
    assert extract_pdf_page_labels(pdf2) == [
        (0, "iii"), (1, "iv"), (2, "v"), (3, "vi"),
        (4, "1"), (5, "2"),
    ]


def test_page_labels_fixture_reader_matches_lookup_truth():
    """Every fixture doc (all five layouts, UTF-16BE prefixes, no-
    label and poison tiers): the reader's expansion equals the
    lookup-table ground truth computed encode-side."""
    from pdf_parser_spark.ops.spans import fixture_labeled_pages
    from pdf_parser_spark.pdfio.tokenizer import extract_pdf_page_labels

    n_nonempty = 0
    for url, pdf, exp in fixture_labeled_pages():
        assert extract_pdf_page_labels(pdf) == exp, url
        n_nonempty += bool(exp)
    assert n_nonempty >= 20


def test_pdf_metadata_precedence_and_dates():
    """XMP-vs-/Info precedence (XMP wins title/author where present,
    /Info keeps producer + created), §7.9.4 date normalization at the
    edge forms (offset, Z, date-only, malformed-passthrough), entity
    unescaping, and the xref-stream trailer's /Info discovery."""
    from pdf_parser_spark.pdfio.tokenizer import (
        _pdf_date_iso, extract_pdf_metadata)
    from pdf_parser_spark.pdfio.writer import text_to_pdf

    assert _pdf_date_iso("D:20240117103000+01'00'") == \
        "2024-01-17T10:30:00+01:00"
    assert _pdf_date_iso("D:20231105221500Z") == \
        "2023-11-05T22:15:00+00:00"
    assert _pdf_date_iso("D:2019") == "2019-01-01T00:00:00"
    assert _pdf_date_iso("D:202401171030-05'00'") == \
        "2024-01-17T10:30:00-05:00"
    assert _pdf_date_iso("last tuesday") == "last tuesday"

    pdf = text_to_pdf(
        "x", doc_info={"Title": "Stale", "Author": "Stale A",
                       "Producer": "p9", "CreationDate": "D:2020"},
        xmp={"title": "Fresh <&>", "creator": "Fresh C"},
        xref_stream=True, objstm=True)
    assert extract_pdf_metadata(pdf) == [
        ("title", "Fresh <&>", "xmp"),
        ("author", "Fresh C", "xmp"),
        ("producer", "p9", "info"),
        ("created", "2020-01-01T00:00:00", "info"),
    ]


def test_pdf_metadata_fixture_reader_matches_request():
    """Every fixture doc (five layouts, UTF-16BE titles, XMP-only,
    Info-only, divergent, none, poison): reader output equals the
    encode-side expected rows."""
    from pdf_parser_spark.ops.spans import fixture_meta_pages
    from pdf_parser_spark.pdfio.tokenizer import extract_pdf_metadata

    n_xmp = n_info = 0
    for url, pdf, exp in fixture_meta_pages():
        assert extract_pdf_metadata(pdf) == exp, url
        n_xmp += sum(1 for _, _, s in exp if s == "xmp")
        n_info += sum(1 for _, _, s in exp if s == "info")
    assert n_xmp >= 5 and n_info >= 20


def test_table_grid_from_shuffled_stream_order():
    """The writer emits cells in shuffled stream order; the grid must
    come back row-major from COORDINATES alone, with ragged tails and
    empty-cell column skips preserved."""
    from pdf_parser_spark.pdfio.tokenizer import extract_pdf_table_grid
    from pdf_parser_spark.pdfio.writer import text_to_pdf

    rows = [["Date", "Desc", "Amount"],
            ["01/02", "", "3.50"],          # empty mid-cell: col skip
            ["01/03", "Rent", "1200.00"],
            ["Subtotal"]]                   # ragged one-cell row
    pdf = text_to_pdf("prose\nlines", table_rows=rows,
                      xref_stream=True, objstm=True)
    got = extract_pdf_table_grid(pdf)
    want = [(1, 0, 0, "Date"), (1, 0, 1, "Desc"), (1, 0, 2, "Amount"),
            (1, 1, 0, "01/02"), (1, 1, 2, "3.50"),
            (1, 2, 0, "01/03"), (1, 2, 1, "Rent"),
            (1, 2, 2, "1200.00"),
            (1, 3, 0, "Subtotal")]
    assert got == want
    # the raw content stream is NOT row-major (shuffle is real)
    # and prose-only pages yield nothing
    assert extract_pdf_table_grid(text_to_pdf("only prose")) == []


def test_table_grid_kern_splits_are_not_columns():
    """Prose pages whose lines render as kerned TJ arrays (two runs
    per line) must NOT classify as tables — the end-to-start gap
    rule: a kern resumes within a word's width, a column does not."""
    from pdf_parser_spark.ops.spans import fixture_table_pages
    from pdf_parser_spark.pdfio.tokenizer import extract_pdf_table_grid

    # fixture corpus contains kern-heavy statement pages (every 3rd
    # line is a tj_kern op) — all its non-table docs must yield []
    for url, pdf, exp in fixture_table_pages():
        if not exp:
            assert extract_pdf_table_grid(pdf) == [], url


def test_table_grid_fixture_reader_matches_request():
    from pdf_parser_spark.ops.spans import fixture_table_pages
    from pdf_parser_spark.pdfio.tokenizer import extract_pdf_table_grid

    n = 0
    for url, pdf, exp in fixture_table_pages():
        assert extract_pdf_table_grid(pdf) == exp, url
        n += len(exp)
    assert n >= 150


_WS_BOMB_CHILD = r"""
import json, resource, sys, zlib
sys.path.insert(0, %(repo)r)
from pdf_parser_spark.pdfio.extract import extract_document
from pdf_parser_spark.pdfio.writer import _Builder

# one page whose content stream inflates, through two Flate passes,
# to 8 MiB of spaces
data = zlib.compress(zlib.compress(b" " * (8 << 20), 9), 9)
b = _Builder()
root, pages, content, page = (b.reserve() for _ in range(4))
b.set(root, b"<< /Type /Catalog /Pages %%d 0 R >>" %% pages)
b.set(pages, b"<< /Type /Pages /Kids [%%d 0 R] /Count 1 >>" %% page)
b.set(content, b"<< /Length %%d /Filter [/FlateDecode /FlateDecode] >>\n"
      b"stream\n" %% len(data) + data + b"\nendstream")
b.set(page, b"<< /Type /Page /Parent %%d 0 R /MediaBox [0 0 612 792]"
      b" /Contents %%d 0 R >>" %% (pages, content))
pdf = b.render(compress=False)
pre = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
doc = extract_document(pdf)
print(json.dumps({"bytes": len(pdf), "chars": len(doc.text), "pre": pre,
    "rss": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}))
"""


def test_whitespace_bomb_bounded_memory():
    """A 543-byte PDF whose content stream is 8 MiB of spaces: the
    lexer's whitespace/comment skip must not keep regex backtracking
    state per byte (it once grew RSS by ~976 MB here)."""
    import json
    import pathlib
    import subprocess
    import sys

    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    out = subprocess.run([sys.executable, "-c",
                          _WS_BOMB_CHILD % {"repo": repo}],
                         capture_output=True, text=True, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["bytes"] < 1024 and got["chars"] == 0, got
    assert got["rss"] - got["pre"] < 64, got
