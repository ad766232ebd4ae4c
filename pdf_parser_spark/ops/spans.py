"""Span offsets per url — the BASELINE north star asks extraction to
"emit main-content text AND span offsets per document".

``extract_spans`` runs the same payload extraction as the fidelity
pipeline and emits one row per non-empty line of the extracted text
with its exact character interval [start, end) into that text, plus a
line digest.  Invariants (pinned by tests and by the parquet-golden
oracle, whose expected rows are derived from the canonical fixture
text INDEPENDENTLY of the extractor):

* ``text[start:end]`` is exactly the span's content (no trimming);
* spans are non-overlapping, strictly increasing, and cover every
  non-empty line once — the original text is reconstructible from the
  spans plus newline positions;
* the per-line sha256 makes spans addressable for span-level lineage
  (training-data attribution, span-dedup) without shipping the text.

Every operator here is one ``pipeline.flat_map_rows`` pass
(``mapInArrow``; flatMap-shaped, ≫1 row out per doc) and keeps only its
per-document body; same single-scan/no-per-row-Python rules as the
pipeline.  The PDF sidecars share one fixture skeleton (``_pdf_corpus``
over the five sibling-writer ``_LAYOUTS``) and one pages frame
(``pdf_pages_df``).
"""

from __future__ import annotations

import hashlib
from typing import Callable, List, Tuple

from pyspark.sql import DataFrame

from ..pipeline import flat_map_rows

SPANS_SCHEMA = (
    "url string, span_no int, start bigint, end bigint,"
    " n_chars int, line_sha256 string"
)


def line_spans(text: str) -> List[Tuple[int, int]]:
    """[start, end) intervals of the non-empty lines of ``text``
    (lines split on \\n; interval excludes the newline)."""
    out: List[Tuple[int, int]] = []
    pos = 0
    for line in text.split("\n"):
        end = pos + len(line)
        if line:
            out.append((pos, end))
        pos = end + 1  # the '\n'
    return out


def extract_spans(pages: DataFrame) -> DataFrame:
    """pages(url, html, text) → one row per non-empty extracted line."""
    from ..pdfio.extract import extract_document

    def rows_of(url, html, text):
        if html is not None:
            text = extract_document(html).text
        else:
            text = text or ""
        for k, (s, e) in enumerate(line_spans(text)):
            yield (url, k, s, e, e - s,
                   hashlib.sha256(text[s:e].encode("utf-8")).hexdigest())

    return flat_map_rows(pages.select("url", "html", "text"),
                         SPANS_SCHEMA, rows_of)


# ------------------------------------------------- PDF sidecar skeleton

# the five sibling-writer layouts every PDF fixture corpus cycles through
_LAYOUTS = [
    dict(),
    dict(objstm=True),
    dict(xref_stream=True, objstm=True),
    dict(xref_stream=True, xref_predictor=True),
    dict(cid_font=True),
]


def _pdf_corpus(tag: str, poison: bytes,
                build: Callable[[int, str, dict], tuple]) -> List[tuple]:
    """The skeleton of every PDF fixture corpus: the fixture docs under
    100k chars in order, url ``doc["url"] + tag``; every 10th row is
    ``(url, poison, [])`` (the extractor must yield zero rows, not fail
    the batch), every other row ``(url, *build(i, text, layout))`` with
    ``layout`` cycled through ``_LAYOUTS`` by doc index."""
    from ..fixtures import fixture_docs

    out = []
    for i, doc in enumerate(d for d in fixture_docs()
                            if len(d["text"]) < 100_000):
        url = doc["url"] + tag
        if i % 10 == 9:
            out.append((url, poison, []))
        else:
            lay = _LAYOUTS[i % len(_LAYOUTS)]
            out.append((url, *build(i, doc["text"], lay)))
    return out


def pdf_pages_df(spark, corpus: List[tuple]) -> DataFrame:
    """pages(url, html) of a PDF fixture corpus (the ``fixture_*_pages``
    triples; the expected rows stay on the driver)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("html", T.BinaryType(), True),
    ])
    rows = [(u, bytearray(p)) for u, p, _ in corpus]
    return spark.createDataFrame(rows, schema=schema)


def _pdf_sidecar(pages: DataFrame, schema: str, extract,
                 numbered: bool) -> DataFrame:
    """pages(url, html) → one row per item ``extract(pdf_bytes)``
    returns, as (url, [item_no,] *item); NULL payloads yield no rows
    (poison payloads yield none either: the readers never raise)."""

    def rows_of(url, html):
        for k, item in enumerate(extract(html) if html is not None
                                 else ()):
            yield (url, k, *item) if numbered else (url, *item)

    return flat_map_rows(pages.select("url", "html"), schema, rows_of)


# ------------------------------------------------- PDF link annotations

LINKS_SCHEMA = ("url string, page_no int, link_no int, uri string,"
                " uri_host string")


def uri_host(uri: str) -> str:
    """Lower-cased authority of an absolute URI ('' when relative) —
    string slicing only, same derivation on the encode side."""
    if "://" not in uri:
        return ""
    rest = uri.split("://", 1)[1]
    return rest.split("/", 1)[0].split("?", 1)[0].lower()


def fixture_linked_pages() -> List[tuple]:
    """Deterministic PDF corpus WITH link-annotation ground truth:
    every fixture doc renders through one of the five sibling-writer
    layouts (cycled), pages carry construction-time URI links (page 0
    two, page 1 one more on multi-page docs), every 6th doc has no
    links at all, and every 10th row is a poison payload (the
    extractor must yield zero rows, not fail the batch).  Returns
    (url, pdf_bytes, expected_links) with expected_links the ENCODE-
    side request — ground truth independent of the reader."""
    from ..pdfio.writer import PAGE_LINES, text_to_pdf

    def build(i, text, lay):
        n_pages = 0
        for ptext in text.split("\f"):
            n_lines = max(1, len(ptext.split("\n")))
            n_pages += (n_lines + PAGE_LINES - 1) // PAGE_LINES
        links = {}
        if i % 6 != 5:
            links[0] = ["https://h%d.example/p%d" % ((i * 7 + 1) % 40, i),
                        "https://H%d.EXAMPLE/q%d?s=1" % ((i * 3 + 2) % 40, i)]
            if n_pages > 1:
                links[1] = ["https://h%d.example/r%d" % ((i * 11 + 5) % 40, i)]
        return (text_to_pdf(text, links=links, **lay),
                [(pno, k, uri) for pno in sorted(links)
                 for k, uri in enumerate(links[pno])])

    return _pdf_corpus("#links", b"%PDF-1.4 poison " + b"\xff" * 64, build)


def extract_links(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per URI link annotation: (url,
    page_no, link_no, uri, uri_host).  The outlink sidecar of PDF
    extraction — what feeds the link graph when the corpus is PDF
    rather than HTML (anchor hrefs).

    One ``flat_map_rows`` pass, flatMap-shaped, zero per-row Python on
    the Spark side; poison payloads yield no rows (the reader never
    raises).  At 10^12 docs this rides the same single-scan
    partitioning as the text pass — in production the two extractors
    share one scan of the payload column."""
    from ..pdfio.tokenizer import extract_pdf_links

    def rows_of(url, html):
        last_page, k = None, 0
        for pno, uri in extract_pdf_links(html) if html is not None else ():
            k = k + 1 if pno == last_page else 0
            last_page = pno
            yield url, pno, k, uri, uri_host(uri)

    return flat_map_rows(pages.select("url", "html"), LINKS_SCHEMA, rows_of)


# ------------------------------------------------- PDF outline tree

OUTLINE_SCHEMA = ("url string, item_no int, level int, title string,"
                  " page_no int")


def fixture_outlined_pages() -> List[tuple]:
    """Deterministic PDF corpus WITH outline ground truth: fixture
    docs render through the five sibling layouts (cycled) carrying a
    depth-varying bookmark tree derived from the doc index — levels
    1-3, a UTF-16BE title on every 4th doc, no outline on every 6th,
    poison payload on every 10th.  Returns (url, pdf_bytes,
    expected_items) with expected the ENCODE-side request."""
    from ..pdfio.writer import text_to_pdf

    def build(i, text, lay):
        if i % 6 == 5:
            return text_to_pdf(text, **lay), []
        bms = [(1, "Chapter %d" % i, 0),
               (2, "Section %d.1" % i, 0)]
        if i % 2 == 0:
            bms.append((3, "Sub %d.1.a" % i, 0))
        if i % 4 == 0:
            bms.append((2, "Résumé — 概 %d" % i, 0))   # UTF-16BE leg
        bms.append((1, "Chapter %d+" % i, 0))
        return (text_to_pdf(text, bookmarks=bms, **lay),
                [(k,) + bm for k, bm in enumerate(bms)])

    return _pdf_corpus("#outline", b"%PDF-1.4 poison " + b"\x00" * 48,
                       build)


def extract_bookmarks(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per outline item: (url, item_no,
    level, title, page_no) in depth-first document order — the PDF
    twin of the HTML ``headings_outline`` (section-aware chunkers key
    on either).  Poison payloads yield no rows."""
    from ..pdfio.tokenizer import extract_pdf_bookmarks

    return _pdf_sidecar(pages, OUTLINE_SCHEMA, extract_pdf_bookmarks,
                        numbered=True)


# ------------------------------------------------- AcroForm fields

FORM_SCHEMA = "url string, field_no int, name string, value string"


def fixture_form_pages() -> List[tuple]:
    """Deterministic PDF corpus WITH AcroForm ground truth: fixture
    docs render through the five sibling layouts carrying text fields
    derived from the doc index — a flat field, a dotted-name nested
    field (inherited /V), a UTF-16BE value on every 3rd doc, no form
    on every 6th, poison on every 10th."""
    from ..pdfio.writer import text_to_pdf

    def build(i, text, lay):
        if i % 6 == 5:
            return text_to_pdf(text, **lay), []
        fields = [("account_no", "%07d-%02d" % (i * 991, i % 97)),
                  ("holder.name", "Holder (%d)" % i)]
        if i % 3 == 0:
            fields.append(("city", "São Paulo — 都 %d" % i))
        return (text_to_pdf(text, form_fields=fields, **lay),
                [(k,) + f for k, f in enumerate(fields)])

    return _pdf_corpus("#form", b"%PDF-1.4 poison form " + b"\x7f" * 40,
                       build)


def extract_form_fields(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per AcroForm text field: (url,
    field_no, name, value) in field-tree order — the structured-data
    sidecar of PDF extraction (filled statements, applications,
    invoices all carry their key facts in the form layer, not the
    glyph layer).  Poison payloads yield no rows."""
    from ..pdfio.tokenizer import extract_pdf_form_fields

    return _pdf_sidecar(pages, FORM_SCHEMA, extract_pdf_form_fields,
                        numbered=True)


# ------------------------------------------------- page labels

LABELS_SCHEMA = "url string, page_no int, label string"

# ground-truth formatters as LOOKUP TABLES (pages per fixture doc are
# few) — deliberately NOT the reader's algorithmic formatter, so the
# golden is an independent statement of §12.4.2, not a mirror
_ROMANS = ["", "i", "ii", "iii", "iv", "v", "vi", "vii", "viii",
           "ix", "x", "xi", "xii"]
_LETTERS = ["", "a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
            "k", "l"]


def fixture_labeled_pages() -> List[tuple]:
    """Deterministic PDF corpus WITH page-label ground truth: fixture
    docs render multi-page (4-6 pages, text re-split on lines)
    through the five sibling layouts, carrying a /PageLabels tree
    derived from the doc index — roman front matter, a decimal body
    restarting at 1, an ``App-``-prefixed letter appendix on every
    2nd doc (uppercase on every 4th; three ranges trigger the
    writer's split /Kids form), a UTF-16BE prefix on every 5th, a
    prefix-only (no /S) range on every 7th, no labels on every 6th
    doc, poison on every 10th.  Returns (url, pdf_bytes,
    expected_labels) with expected computed from the request via the
    lookup tables above."""
    from ..pdfio.writer import text_to_pdf

    def build(i, text, lay):
        lines = text.split("\n")
        n_pages = 4 + i % 3
        per = max(1, (len(lines) + n_pages - 1) // n_pages)
        chunks = ["\n".join(lines[k:k + per])
                  for k in range(0, len(lines), per)][:n_pages]
        while len(chunks) < n_pages:
            chunks.append("filler %d" % len(chunks))
        text = "\f".join(chunks)
        if i % 6 == 5:
            return text_to_pdf(text, **lay), []
        front = 2
        labels = [(0, {"S": "r"}), (front, {"S": "D", "St": 1})]
        expect = [(p, _ROMANS[p + 1]) for p in range(front)]
        body_end = n_pages
        if i % 2 == 0:
            body_end = n_pages - 1
            style = "A" if i % 4 == 0 else "a"
            pre = "附-" if i % 5 == 0 else "App-"
            labels.append((body_end, {"S": style, "P": pre, "St": 3}))
        if i % 7 == 0 and i % 2 == 1:   # odd ⇒ no appendix range to
            # collide with at the same start key
            labels.append((n_pages - 1, {"P": "insert"}))
        for p in range(front, n_pages):
            cover, spec = max((x for x in labels if x[0] <= p),
                              key=lambda x: x[0])
            ctr = spec.get("St", 1) + (p - cover)
            pre = spec.get("P", "")
            if spec.get("S") == "D":
                lab = pre + str(ctr)
            elif spec.get("S") == "a":
                lab = pre + _LETTERS[ctr]
            elif spec.get("S") == "A":
                lab = pre + _LETTERS[ctr].upper()
            else:
                lab = pre
            expect.append((p, lab))
        return text_to_pdf(text, page_labels=labels, **lay), expect

    return _pdf_corpus("#labels", b"%PDF-1.4 poison " + b"\x00" * 48,
                       build)


def extract_page_labels(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per physical page carrying a
    DECLARED label: (url, page_no, label) — §12.4.2 number-tree
    expansion (see pdfio.tokenizer.extract_pdf_page_labels).  Poison
    and label-free documents yield no rows."""
    from ..pdfio.tokenizer import extract_pdf_page_labels

    return _pdf_sidecar(pages, LABELS_SCHEMA, extract_pdf_page_labels,
                        numbered=False)


# ------------------------------------------------- document metadata

META_SCHEMA = "url string, field string, value string, source string"


def fixture_meta_pages() -> List[tuple]:
    """Deterministic PDF corpus WITH metadata ground truth: fixture
    docs through the five sibling layouts carrying /Info and/or XMP —
    Info-only (tz-offset, Z, and date-only §7.9.4 variants), Info+XMP
    with DIVERGENT titles (XMP must win title/author, Info must keep
    producer/created), XMP-only on every 5th, UTF-16BE Info title on
    every 3rd, an entity-escaped XMP title on every 4th, neither on
    every 6th, poison on every 10th.  Expected rows are the
    encode-side request with the ISO date written out literally (not
    via the reader's parser)."""
    from ..pdfio.writer import text_to_pdf

    def build(i, text, lay):
        if i % 6 == 5:
            return text_to_pdf(text, **lay), []
        title = ("Résumé — 概 %d" % i) if i % 3 == 0 else "Doc %d" % i
        author = "Writer %d" % i
        producer = "engine %d.1" % i
        dates = [
            ("D:20240%d17103000+01'00'" % (i % 9 + 1),
             "2024-0%d-17T10:30:00+01:00" % (i % 9 + 1)),
            ("D:20231%d05221500Z" % (i % 2),
             "2023-1%d-05T22:15:00+00:00" % (i % 2)),
            ("D:201%d" % (i % 10), "201%d-01-01T00:00:00" % (i % 10)),
        ]
        raw_date, iso_date = dates[i % 3]
        if i % 5 == 0:
            xmp_t = ("<New & Better> %d" % i if i % 4 == 0
                     else "XMP Title %d" % i)
            pdf = text_to_pdf(text,
                              xmp={"title": xmp_t,
                                   "creator": "XMP Writer %d" % i},
                              **lay)
            exp = [("title", xmp_t, "xmp"),
                   ("author", "XMP Writer %d" % i, "xmp")]
        elif i % 5 == 1:
            xmp_t = "Maintained %d" % i
            pdf = text_to_pdf(
                text,
                doc_info={"Title": title, "Author": author,
                          "Producer": producer,
                          "CreationDate": raw_date},
                xmp={"title": xmp_t, "creator": "New Writer %d" % i},
                **lay)
            exp = [("title", xmp_t, "xmp"),
                   ("author", "New Writer %d" % i, "xmp"),
                   ("producer", producer, "info"),
                   ("created", iso_date, "info")]
        else:
            pdf = text_to_pdf(
                text,
                doc_info={"Title": title, "Author": author,
                          "Producer": producer,
                          "CreationDate": raw_date},
                **lay)
            exp = [("title", title, "info"),
                   ("author", author, "info"),
                   ("producer", producer, "info"),
                   ("created", iso_date, "info")]
        return pdf, exp

    return _pdf_corpus("#meta", b"%PDF-1.4 poison " + b"\x00" * 48, build)


def extract_doc_metadata(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per resolved metadata field:
    (url, field, value, source) with the documented /Info-vs-XMP
    precedence (pdfio.tokenizer.extract_pdf_metadata).  Poison and
    metadata-free documents yield no rows."""
    from ..pdfio.tokenizer import extract_pdf_metadata

    return _pdf_sidecar(pages, META_SCHEMA, extract_pdf_metadata,
                        numbered=False)


# ------------------------------------------------- PDF table grids

GRID_SCHEMA = ("url string, page_no int, row_no int, col_no int,"
               " cell string")


def fixture_table_pages() -> List[tuple]:
    """Deterministic PDF corpus WITH table-grid ground truth: fixture
    docs through the five sibling layouts carrying one table page —
    3-5 rows × 2-3 columns of doc-derived cells, a RAGGED final row
    on every 3rd doc, an empty-string mid-cell on every 4th (absent
    glyphs ⇒ the column must be SKIPPED in that row, not shifted),
    cells emitted in the writer's shuffled stream order always; no
    table on every 6th, poison on every 10th.  Expected rows are the
    request grid (empty cells dropped)."""
    from ..pdfio.tokenizer import extract_pdf_text
    from ..pdfio.writer import text_to_pdf

    def build(i, text, lay):
        if i % 6 == 5:
            return text_to_pdf(text, **lay), []
        n_rows, n_cols = 3 + i % 3, 2 + i % 2
        rows = [["R%dC%d-%d" % (r, c, i) for c in range(n_cols)]
                for r in range(n_rows)]
        rows[0] = ["Col%d" % c for c in range(n_cols)]
        if i % 3 == 0:
            rows[-1] = rows[-1][:-1]          # ragged tail
        if i % 4 == 0 and n_cols == 3:
            rows[1][1] = ""                   # absent mid-cell
        # the table page follows the text pages
        n_text_pages = extract_pdf_text(text_to_pdf(text, **lay)).pages
        return (text_to_pdf(text, table_rows=rows, **lay),
                [(n_text_pages, r, c, cell)
                 for r, row in enumerate(rows)
                 for c, cell in enumerate(row) if cell != ""])

    return _pdf_corpus("#grid", b"%PDF-1.4 poison " + b"\x00" * 48, build)


def extract_table_grids(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per recovered table cell:
    (url, page_no, row_no, col_no, cell) by y-sweep row clustering +
    x-sweep column clustering over glyph positions (stream order
    carries nothing — see pdfio.tokenizer.extract_pdf_table_grid).
    Prose-only and poison documents yield no rows."""
    from ..pdfio.tokenizer import extract_pdf_table_grid

    return _pdf_sidecar(pages, GRID_SCHEMA, extract_pdf_table_grid,
                        numbered=False)
