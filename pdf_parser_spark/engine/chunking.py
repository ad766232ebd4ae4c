"""The engine's one parse: text → (issuer, columnar transactions),
chunked with bounded memory above ``DEFAULT_CHUNK_LINES`` lines.

The largest unit of state is one document's line list.  Parsing a
whole multi-hundred-MB document at once held every raw record dict
plus its finalized copy: ~13.4 MB RSS per MB of document
(BENCH/MEGADOC.md), so a 4 GB worker tops out near 300 MB.  Here the
line list is parsed in chunks whose boundaries are PROVABLY safe split
points, each chunk's raw records are folded into columnar arrays (with
date/direction interning) at once, and one global stable date-sort
reproduces ``direction.finalize_records`` order exactly.  Documents up
to ``DEFAULT_CHUNK_LINES`` lines parse as one chunk through the same
fold.  No Spark here: the extraction worker
(``pipeline._parse_arrow_batches``) and ``document.parse_document``
both call ``parse_document_columnar``.

Why chunking at block-opening date lines is EXACT for the date-sweep
family (generic/ifb/pnb/mercury/valley — banks._date_block_sweep): a
block opens at a date line and absorbs only forward, non-date lines;
any date line therefore terminates the previous block, so no block ever
spans a split placed AT a date line, and the sweep carries no other
cross-block state.  chase additionally carries a section state and a
noise classification: its split points are lines that would OPEN a
block (chase-date, non-noise, non-section — such a line always breaks
any gather in progress), and the carried section is re-established by
prefixing the chunk with the last section-marker LINE seen before the
split (section lines set state and emit nothing).  truist is a
single-line machine with the same section carry.

wf/bofa/citi/bofa_relationship follow the same construction (see the
CHUNKABLE note): wf gathers break at ANY date line before the
cand/noise checks, so date-opener splits are exact with no carry; citi
is the same opener argument plus a chase-style carried section line;
bofa is a single-line machine whose (in_daily, section) state is
carried as a CANONICAL marker line simulated over _bofa_split_long
parts; bofa_relationship's open/close section machine is simulated the
same way over _rel_split_glued parts.  Every parser decomposes.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from .banks import (
    ALL_PARSERS, TRUIST_SECTION_IN, TRUIST_SECTION_OUT, WF_NOISE,
    _REL_DATE_LINE_RE, _REL_SEC_DEPOSITS_RE, _REL_SEC_TOTAL_RE,
    _REL_SEC_WITHDRAWALS_RE, _bofa_daily_header, _bofa_section,
    _bofa_split_long, _chase_date_low, _chase_noise_low,
    _chase_section_low, _citi_date, _citi_noise, _citi_section,
    _rel_split_glued, _wf_candidate_line, parse_generic,
)
from .detect import detect_issuer
from .direction import classify_direction
from .textrules import (
    any_date, mmm_first_date, slash_date, split_lines, year_of,
)

# banks whose state decomposes across safe split points (module
# docstring); the notes cover the four beyond the sweep family, chase
# and truist:
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
    for ln in reversed(span_lines):  # the last marker line wins
        if _section_line(bank, ln):
            return ln
    return prev


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
    for start, end in zip(starts, starts[1:] + [n]):
        spans.append((start, end, carried))
        if end < n and _carries_section(bank):  # a next span exists
            carried = _update_carry(bank, lines[start:end], carried)
    return spans


class _Columnar:
    """Fold raw parse records into interned columnar arrays; finalize
    (abs, strip, direction backfill, ONE stable date-sort) at the end —
    value- and order-identical to direction.finalize_records."""

    def __init__(self):
        self.dates: List[str] = []
        self.descs: List[str] = []
        self.amounts: List[float] = []
        self.dirs: List[str] = []
        self._intern: dict = {}

    def extend_raw(self, records) -> None:
        intern = self._intern.setdefault
        dates, descs = self.dates, self.descs
        amounts, dirs = self.amounts, self.dirs
        for rec in records:
            date = rec["date"]
            desc = rec.get("description", "")
            dates.append(intern(date, date))
            descs.append(desc.strip())
            amounts.append(abs(float(rec["amount"])))
            # classified on the unstripped text, as finalize_records does
            direction = rec.get("direction") or classify_direction(desc)
            dirs.append(intern(direction, direction))

    def finalized(self):
        order = sorted(range(len(self.dates)),
                       key=self.dates.__getitem__)  # stable
        return ([self.dates[i] for i in order],
                [self.descs[i] for i in order],
                [self.amounts[i] for i in order],
                [self.dirs[i] for i in order])


def parse_document_columnar(
    text: Optional[str], fallback_year: int, issuer: Optional[str] = None,
    tally: Optional[dict] = None, chunk_lines: int = DEFAULT_CHUNK_LINES,
):
    """Parse one document's text: ``(issuer_key, (dates, descriptions,
    amounts, directions))``, the columns of ``finalize_records``'
    output.  ``fallback_year`` stands in for a document without a
    ``20\\d{2}`` token (pass ``warc_ts.year``); ``issuer`` overrides
    detection (the only way to reach ``bofa_relationship``); ``tally``
    accumulates ``n_lines``, ``blocks_total`` and ``blocks_kept``.
    Chunking engages above ``chunk_lines`` lines, for CHUNKABLE
    issuers."""
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
