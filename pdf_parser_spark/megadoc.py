"""Worst-case-document handling (SURVEY §4, round-2 verdict ask #3).

One pathological multi-hundred-MB document lands in ONE Python worker
under the normal pipeline.  Measured bound (tools/megadoc_bench.py,
BENCH/MEGADOC.md): the whole-document engine path costs ~13.6 MB RSS
per MB of document — a 4 GB worker tops out near a 290 MB document and
a 512 MB one both OOMs and stalls its task for minutes.  Two fixes:

* ``parse_document_columnar`` — same worker, bounded memory: the line
  list is parsed in chunks whose boundaries are PROVABLY safe split
  points, per-chunk record dicts are folded into columnar arrays (with
  date/direction interning) immediately, and one global stable
  date-sort reproduces ``finalize_records`` order exactly.
* ``parse_pages_mega`` — bounded memory AND wall: oversized payloads
  are extracted once, their line arrays exploded into chunk ROWS that
  shuffle across the cluster, each chunk parsed in its own task, and
  transaction order re-established by a window (date, chunk, emission)
  — the stable-sort key the engine uses, so output is byte-identical.

Why chunking at block-opening date lines is EXACT for the date-sweep
family (generic/ifb/pnb/mercury/valley — engine/banks._date_block_sweep):
a block opens at a date line and absorbs only forward, non-date lines;
any date line therefore terminates the previous block, so no block ever
spans a split placed AT a date line, and the sweep carries no other
cross-block state.  chase additionally carries a section state and a
noise classification: its split points are lines that would OPEN a
block (chase-date, non-noise, non-section — such a line always breaks
any gather in progress), and the carried section is re-established by
prefixing the chunk with the last section-marker LINE seen before the
split (section lines set state and emit nothing).  truist is a
single-line machine with the same section carry.

Round 4 extends the same construction to wf/bofa/citi (see the
CHUNKABLE note): wf gathers break at ANY date line before the
cand/noise checks, so date-opener splits are exact with no carry; citi
is the same opener argument plus a chase-style carried section line;
bofa is a single-line machine whose (in_daily, section) state is
carried as a CANONICAL marker line simulated over _bofa_split_long
parts; bofa_relationship's open/close section machine is simulated the
same way over _rel_split_glued parts.  EVERY parser now decomposes —
no bank remains on the whole-document-only path.
"""

from __future__ import annotations

import hashlib
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .engine.banks import (
    ALL_PARSERS, TRUIST_SECTION_IN, TRUIST_SECTION_OUT, WF_NOISE,
    _REL_DATE_LINE_RE, _REL_SEC_DEPOSITS_RE, _REL_SEC_TOTAL_RE,
    _REL_SEC_WITHDRAWALS_RE, _bofa_daily_header, _bofa_section,
    _bofa_split_long, _chase_date_low, _chase_noise_low,
    _chase_section_low, _citi_date, _citi_noise, _citi_section,
    _rel_split_glued, _wf_candidate_line, parse_generic,
)
from .engine.detect import detect_issuer
from .engine.direction import classify_direction
from .engine.textrules import (
    any_date, mmm_first_date, slash_date, split_lines, year_of,
)
from .pipeline import flat_map_rows, stage_width

# banks whose state decomposes across the split points above.
# wf/bofa/citi added in round 4 (verdict ask #4):
#   wf   — blocks open at candidate+non-noise+date lines and ANY date
#          line terminates a gather (parse_wf's `if dates[j]: break`
#          runs before the cand/noise checks), so date-opener splits
#          are exact and no state crosses blocks;
#   citi — same opener argument (dates[j] breaks the gather first);
#          the only cross-line state is the checking/savings section,
#          re-established chase-style by prefixing the last section
#          LINE (section lines set state and emit nothing);
#   bofa — a single-line machine (any boundary splits); its
#          (in_daily, section) state is re-established by a CANONICAL
#          marker line derived from simulating the state over
#          _bofa_split_long parts — the raw last marker line cannot be
#          carried because a >200-char glued line may CONTAIN the
#          marker plus transaction text that the re-split would
#          re-emit, duplicating the previous chunk's rows.
#   bofa_relationship — same construction: its gather breaks at ANY
#          date line (checked first), and the open/close section state
#          (deposits/withdrawals open, 'Total …' closes ONLY while
#          open) is a per-line machine simulated over _rel_split_glued
#          parts; state None carries no prefix, open states carry a
#          canonical section line.  No parser remains on the
#          whole-document-only path.
CHUNKABLE = {"generic", "ifb", "pnb", "mercury", "valley", "chase",
             "truist", "wf", "bofa", "citi", "bofa_relationship", None}

DEFAULT_CHUNK_LINES = 200_000


def _date_gate(bank: Optional[str]):
    if bank == "mercury":
        return lambda ln, y: mmm_first_date(ln, y) is not None
    if bank in ("valley", "truist"):
        return lambda ln, y: slash_date(ln, y) is not None
    if bank == "chase":
        def gate(ln, y):
            stripped = ln.strip()
            if not stripped:
                return False
            low = stripped.lower()
            return (_chase_section_low(low) is None
                    and not _chase_noise_low(ln, low)
                    and _chase_date_low(stripped, low, y) is not None)
        return gate
    if bank == "wf":
        def gate(ln, y):
            # a line parse_wf would OPEN a block at; any date line also
            # TERMINATES a gather (checked before cand/noise), so these
            # are exact split points
            if not ln.strip() or not _wf_candidate_line(ln):
                return False
            if WF_NOISE.search(ln):
                return False
            return any_date(ln, y) is not None
        return gate
    if bank == "citi":
        def gate(ln, y):
            if not ln or not ln.strip():
                return False
            if _citi_section(ln) or _citi_noise(ln):
                return False
            return _citi_date(ln, y) is not None
        return gate
    if bank == "bofa":
        # single-line machine: every line boundary is a safe split
        return lambda ln, y: True
    if bank == "bofa_relationship":
        # any date line breaks a gather (checked before noise); the
        # section state is handled by the carry, so date lines are
        # safe splits whether or not a section is open
        return lambda ln, y: bool(_REL_DATE_LINE_RE.match(ln))
    return lambda ln, y: any_date(ln, y) is not None


def _carries_section(bank: Optional[str]) -> bool:
    return bank in ("chase", "truist", "citi", "bofa",
                    "bofa_relationship")


def _section_line(bank: Optional[str], ln: str) -> bool:
    if bank == "chase":
        s = ln.strip()
        return bool(s) and _chase_section_low(s.lower()) is not None
    if bank == "truist":
        return bool(TRUIST_SECTION_IN.search(ln)
                    or TRUIST_SECTION_OUT.search(ln))
    if bank == "citi":
        return bool(ln) and bool(ln.strip()) \
            and _citi_section(ln) is not None
    return False


# canonical bofa state lines: classified by the engine as exactly the
# marker they stand for (daily header / section), emit nothing, and —
# unlike a raw >200-char glued marker line — cannot re-emit transaction
# text through _bofa_split_long
_BOFA_CANON = {
    "daily": "Daily Ledger Balances",
    "deposits": "Deposits and other additions",
    "withdrawals": "Withdrawals and other debits",
}

# canonical bofa_relationship section-open lines (state None → no
# prefix); same re-emission rationale as _BOFA_CANON
_REL_CANON = {
    "in": "Deposits and other credits",
    "out": "Withdrawals and other debits",
}
_REL_STATE = {v: k for k, v in _REL_CANON.items()}


def _update_carry(bank: Optional[str], span_lines: List[str],
                  prev: Optional[str]) -> Optional[str]:
    """The state-reestablishing prefix line for the NEXT chunk after
    this span (None = no state to carry)."""
    if bank == "bofa":
        cur = prev
        for part in _bofa_split_long(span_lines):
            if not part.strip():
                continue
            # engine order: daily header outranks section on one line
            if _bofa_daily_header(part):
                cur = _BOFA_CANON["daily"]
            else:
                sec = _bofa_section(part)
                if sec:
                    cur = _BOFA_CANON[sec]
        return cur
    if bank == "bofa_relationship":
        # true state simulation (engine check order): 'Total …' closes
        # ONLY while a section is open, so last-marker-wins is not
        # enough here
        state = _REL_STATE.get(prev)
        for part in _rel_split_glued(span_lines):
            if _REL_SEC_DEPOSITS_RE.search(part):
                state = "in"
            elif _REL_SEC_WITHDRAWALS_RE.search(part):
                state = "out"
            elif state and _REL_SEC_TOTAL_RE.search(part):
                state = None
        return _REL_CANON.get(state)
    cur = prev
    for ln in span_lines:
        if _section_line(bank, ln):
            cur = ln
    return cur


def chunk_spans(lines: List[str], year: int, bank: Optional[str],
                chunk_lines: int = DEFAULT_CHUNK_LINES,
                ) -> List[Tuple[int, int, Optional[str]]]:
    """Safe (start, end, carried_section_line) spans covering
    ``lines``.  Each boundary (except 0) sits on a line that opens a
    fresh block for ``bank``; the carried element is the raw text of
    the last section-marker line before the span (re-establishes the
    engine's section state when prefixed)."""
    gate = _date_gate(bank)
    n = len(lines)
    starts = [0]
    i = chunk_lines
    while i < n:
        while i < n and not gate(lines[i], year):
            i += 1
        if i >= n:
            break
        starts.append(i)
        i += chunk_lines
    spans = []
    carried = None
    for s_idx, start in enumerate(starts):
        end = starts[s_idx + 1] if s_idx + 1 < len(starts) else n
        spans.append((start, end, carried))
        if _carries_section(bank):
            carried = _update_carry(bank, lines[start:end], carried)
    return spans


class _Columnar:
    """Fold raw parse records into interned columnar arrays; finalize
    (abs, strip, direction backfill, ONE stable date-sort) at the end —
    order-identical to engine.direction.finalize_records."""

    def __init__(self):
        self.dates: List[str] = []
        self.descs: List[str] = []
        self.amounts: List[float] = []
        self.dirs: List[str] = []
        self._intern: dict = {}

    def _i(self, s: str) -> str:
        return self._intern.setdefault(s, s)

    def extend_raw(self, records) -> None:
        for rec in records:
            desc = rec.get("description", "").strip()
            self.dates.append(self._i(rec["date"]))
            self.descs.append(desc)
            self.amounts.append(abs(float(rec["amount"])))
            self.dirs.append(self._i(
                rec.get("direction") or classify_direction(desc)))

    def finalized(self):
        order = sorted(range(len(self.dates)),
                       key=self.dates.__getitem__)  # stable
        return ([self.dates[i] for i in order],
                [self.descs[i] for i in order],
                [self.amounts[i] for i in order],
                [self.dirs[i] for i in order])


def parse_document_columnar(
    text: str, fallback_year: int, tally: Optional[dict] = None,
    issuer: Optional[str] = None,
    chunk_lines: int = DEFAULT_CHUNK_LINES,
):
    """``parse_document`` semantics with bounded memory: returns
    ``(bank, (dates, descs, amounts, directions))`` columnar instead of
    one dict per transaction.  Chunking engages only above
    ``chunk_lines`` and only for CHUNKABLE banks; otherwise this is the
    plain path folded columnar."""
    lines = split_lines(text)
    year = year_of(text, fallback_year)
    key = issuer or detect_issuer(text)
    parse_fn = ALL_PARSERS.get(key) or parse_generic
    if tally is not None:
        tally["n_lines"] = len(lines)
    out = _Columnar()
    if len(lines) > chunk_lines and key in CHUNKABLE:
        for start, end, carried in chunk_spans(lines, year, key,
                                               chunk_lines):
            chunk = lines[start:end]
            if carried is not None:
                chunk = [carried] + chunk
            out.extend_raw(parse_fn(chunk, year, tally))
    else:
        out.extend_raw(parse_fn(lines, year, tally))
    return key, out.finalized()


# ------------------------------------------------------ distributed path
CHUNK_SCHEMA = (
    "url string, chunk_no int, prefix string, chunk_text string,"
    " year int, bank string"
)
DOCSKEL_SCHEMA = (
    "url string, bank string, kind string, pages int, n_lines int,"
    " n_chars bigint, text_sha256 string, error string"
)
CHUNK_TX_SCHEMA = (
    "url string, chunk_no int, within_no int, date string,"
    " description string, amount double, direction string,"
    " blocks_total int, blocks_kept int"
)


def _phase1(url, warc_ts, html, text):
    """One page row (flat_map_rows body) → extracted text → safe chunk
    rows, plus one doc-skeleton row carried in the same union via
    chunk_no = -1 (lineage fields packed into chunk_text)."""
    from .pdfio.extract import extract_document

    if html is not None:
        doc = extract_document(html)
        text, kind, pages, error = doc.text, doc.kind, doc.pages, doc.error
    else:
        kind, pages, error = "text", 1, None
    year = year_of(text, warc_ts.year if warc_ts is not None else 1970)
    bank = detect_issuer(text)
    lines = split_lines(text)
    skel = "%s\x01%d\x01%d\x01%d\x01%s\x01%s" % (
        kind, pages, len(lines), len(text),
        hashlib.sha256(text.encode("utf-8")).hexdigest(), error or "")
    yield url, -1, "", skel, year, bank or ""
    spans = (chunk_spans(lines, year, bank) if bank in CHUNKABLE
             else [(0, len(lines), None)])
    for no, (start, end, carried) in enumerate(spans):
        yield (url, no, carried or "", "\n".join(lines[start:end]), year,
               bank or "")


def _phase2(url, chunk_no, prefix, chunk_text, year, bank):
    """One chunk row (flat_map_rows body) → raw-parsed transactions
    (pre-sort; global order restored by the window downstream), the
    chunk's tally counters on its first row (aggregated later); a chunk
    with no transactions still emits one within_no = -1 tally row."""
    parse_fn = ALL_PARSERS.get(bank or None) or parse_generic
    lines = chunk_text.split("\n") if chunk_text else []
    if prefix:
        lines = [prefix] + lines
    tally: dict = {}
    recs = parse_fn(lines, year, tally)
    for w, rec in enumerate(recs):
        desc = rec.get("description", "").strip()
        yield (url, chunk_no, w, rec["date"], desc,
               abs(float(rec["amount"])),
               rec.get("direction") or classify_direction(desc),
               tally.get("blocks_total", 0) if w == 0 else 0,
               tally.get("blocks_kept", 0) if w == 0 else 0)
    if not recs:
        yield (url, chunk_no, -1, None, None, None, None,
               tally.get("blocks_total", 0), tally.get("blocks_kept", 0))


# persisted intermediates of parse_pages_mega runs, released by
# release_mega_cache() (executor storage would otherwise accumulate
# across repeated calls — ADVICE r4)
_MEGA_CACHE: list = []


def release_mega_cache() -> None:
    """Unpersist every intermediate cached by parse_pages_mega.  Call
    after the returned DataFrames are materialized (written/collected);
    lazy references held past this point recompute instead of reading
    cache."""
    while _MEGA_CACHE:
        _MEGA_CACHE.pop().unpersist()


def parse_pages_mega(pages: DataFrame,
                     partitions: Optional[int] = None,
                     ) -> tuple[DataFrame, DataFrame]:
    """Mega-document pipeline: (transactions, doc_metrics) for a pages
    DataFrame whose documents may individually exceed one worker.  The
    chunk explosion is the ONE payload shuffle; each chunk parses in
    its own task, so the straggler is bounded by chunk size instead of
    document size.  Output order/content matches the engine exactly:
    the window's (date, chunk_no, within_no) key IS finalize_records'
    stable date-sort."""
    pruned = pages.select("url", "warc_ts", "html", "text")
    chunks = flat_map_rows(pruned, CHUNK_SCHEMA, _phase1)
    chunks = chunks.repartition(stage_width(pages.sparkSession, partitions),
                                "url", "chunk_no")
    # persist BOTH intermediates (ADVICE r4): chunks feeds three
    # consumers (phase-2 parse, the bank join, the doc skeleton) across
    # the two returned DataFrames' separate actions — without this the
    # expensive _phase1 payload extraction reruns per action.  Tracked
    # in _MEGA_CACHE; callers release via release_mega_cache() once the
    # returned DataFrames are materialized.
    chunks = chunks.persist()
    _MEGA_CACHE.append(chunks)

    parsed = flat_map_rows(chunks.filter(F.col("chunk_no") >= 0),
                           CHUNK_TX_SCHEMA, _phase2)
    parsed = parsed.persist()
    _MEGA_CACHE.append(parsed)

    w = Window.partitionBy("url").orderBy("date", "chunk_no", "within_no")
    txs = (parsed.filter(F.col("within_no") >= 0)
           .withColumn("tx_index",
                       (F.row_number().over(w) - 1).cast("int"))
           .join(chunks.filter(F.col("chunk_no") == -1)
                 .select("url", "bank"), "url")
           .select("url", "tx_index", "bank", "date", "description",
                   "amount", "direction"))

    tallies = parsed.groupBy("url").agg(
        F.sum("blocks_total").cast("int").alias("blocks_total"),
        F.sum("blocks_kept").cast("int").alias("blocks_kept"),
        F.sum(F.when(F.col("within_no") >= 0, 1).otherwise(0))
        .cast("int").alias("tx_count"))
    skel = chunks.filter(F.col("chunk_no") == -1).select(
        "url", "bank",
        F.split("chunk_text", "\x01").alias("s"))
    docs = (skel.select(
        "url", "bank",
        F.col("s")[0].alias("kind"),
        F.col("s")[1].cast("int").alias("pages"),
        F.col("s")[2].cast("int").alias("n_lines"),
        F.col("s")[3].cast("bigint").alias("n_chars"),
        F.col("s")[4].alias("text_sha256"),
        F.nullif(F.col("s")[5], F.lit("")).alias("error"))
        .join(tallies, "url", "left")
        .select("url", "bank", "kind", "pages", "n_lines", "n_chars",
                F.coalesce("blocks_total", F.lit(0)).alias("blocks_total"),
                F.coalesce("blocks_kept", F.lit(0)).alias("blocks_kept"),
                F.coalesce("tx_count", F.lit(0)).alias("tx_count"),
                "text_sha256", "error"))
    return txs, docs
