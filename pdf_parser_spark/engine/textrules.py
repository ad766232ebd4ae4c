"""Lexical primitives: line normalization, money lexer, date lexers.

Semantics are a faithful re-expression of the reference's tokenizers
(reference: parsers/base.py:7-10 regex constants, :18-19 norm,
:52-85 date/amount helpers).  The regex *patterns* are the spec and are
kept verbatim; everything else is re-written from scratch.

One deliberate divergence (flagged in SURVEY.md §1.2): the reference
falls back to ``datetime.utcnow().year`` when a document contains no
``20\\d{2}`` token (base.py:54) — nondeterministic.  We require callers
to pass a deterministic fallback year (derived from ``warc_ts``).
"""

from __future__ import annotations

import re
from typing import List, Optional

# --- the money lexer (reference parsers/base.py:7, pattern verbatim) ---
AMOUNT_PATTERN = (
    r"(?:\$\d{1,3}(?:,\d{3})*(?:\.\d{2})?"
    r"|\(?-\d{1,3}(?:,\d{3})*(?:\.\d{2})?\)?"
    r"|\d{1,3}(?:,\d{3})*\.\d{2})"
)
AMOUNT_RE = re.compile(AMOUNT_PATTERN)

# --- date lexers (reference parsers/base.py:8-10, patterns verbatim) ---
SLASH_DATE_RE = re.compile(r"^\s*(\d{1,2})/(\d{1,2})(?:/(\d{2,4}))?\b")
LONG_DATE_RE = re.compile(r"\b([A-Za-z]{3,9})\s+(\d{1,2}),\s*(\d{4})\b", re.I)
MMM_DD_RE = re.compile(
    r"^\s*(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Sept|Oct|Nov|Dec)\s+(\d{1,2})\b", re.I
)

MONTH_INDEX = {
    "january": 1, "february": 2, "march": 3, "april": 4, "may": 5, "june": 6,
    "july": 7, "august": 8, "september": 9, "october": 10, "november": 11,
    "december": 12,
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "jun": 6, "jul": 7, "aug": 8,
    "sep": 9, "sept": 9, "oct": 10, "nov": 11, "dec": 12,
}

_WS_RE = re.compile(r"\s+")
_YEAR_RE = re.compile(r"\b(20\d{2})\b")

# NBSP -> space; en dash / em dash / minus sign -> ASCII hyphen
_DASH_TABLE = str.maketrans({"\u00a0": " ", "\u2013": "-", "\u2014": "-", "\u2212": "-"})


def normalize_line(s: Optional[str]) -> str:
    """NBSP→space, unicode dashes→'-', strip (reference base.py:18-19)."""
    return (s or "").translate(_DASH_TABLE).strip()


def split_lines(text: Optional[str]) -> List[str]:
    """Text → normalized non-empty line list (reference base.py:35-44)."""
    out: List[str] = []
    for raw in (text or "").split("\n"):
        ln = normalize_line(raw)
        if ln:
            out.append(ln)
    return out


def year_of(text: Optional[str], fallback_year: int) -> int:
    """First ``20\\d{2}`` token in the text, else the deterministic
    fallback (reference base.py:52-54, with the utcnow() fallback
    replaced — see module docstring)."""
    m = _YEAR_RE.search(text or "")
    return int(m.group(1)) if m else fallback_year


def slash_date(line: str, year: int) -> Optional[str]:
    """Anchored MM/DD[/YY[YY]] → ISO string (reference base.py:56-62)."""
    m = SLASH_DATE_RE.match(line)
    if not m:
        return None
    mm, dd = int(m.group(1)), int(m.group(2))
    ytok = m.group(3)
    yr = int(ytok) if ytok else year
    if yr < 100:
        yr += 2000
    return "%04d-%02d-%02d" % (yr, mm, dd)


def long_date(line: str) -> Optional[str]:
    """``Month D, YYYY`` anywhere in the line (reference base.py:64-68)."""
    m = LONG_DATE_RE.search(line)
    if not m:
        return None
    mon = MONTH_INDEX.get(m.group(1).lower())
    if not mon:
        return None
    return "%04d-%02d-%02d" % (int(m.group(3)), mon, int(m.group(2)))


def mmm_date(line: str, year: int) -> Optional[str]:
    """Anchored ``Mmm D`` with inferred year (reference base.py:70-74)."""
    m = MMM_DD_RE.match(line)
    if not m:
        return None
    mon = MONTH_INDEX.get(m.group(1).lower())
    if not mon:
        return None
    return "%04d-%02d-%02d" % (year, mon, int(m.group(2)))


def any_date(line: str, year: int) -> Optional[str]:
    """slash → long → mmm priority (generic family, base.py:109)."""
    return slash_date(line, year) or long_date(line) or mmm_date(line, year)


def mmm_first_date(line: str, year: int) -> Optional[str]:
    """mmm → slash → long priority (mercury, mercury.py:18)."""
    return mmm_date(line, year) or slash_date(line, year) or long_date(line)


def money_tokens(text: str) -> List[str]:
    """All money lexemes in order (reference ``RE_AMOUNT.findall``)."""
    return AMOUNT_RE.findall(text)


def token_to_signed(tok: str) -> Optional[float]:
    """One money lexeme → signed float.

    Negative iff trailing '-', leading '-', or leading '(' — then the
    sign/paren/$/comma characters are stripped and the remainder parsed
    as a binary float (reference base.py:76-85 ``pick_amount`` inner
    logic; float semantics must match exactly, hence ``float`` not
    Decimal)."""
    neg = tok.endswith("-") or tok.startswith("-") or tok.startswith("(")
    bare = (
        tok.replace("(", "").replace(")", "").replace("-", "")
        .replace("$", "").replace(",", "")
    )
    try:
        val = float(bare)
    except ValueError:
        return None
    return -val if neg else val


def first_amount(tokens: List[str], prefer_first: bool = True) -> Optional[float]:
    """Reference ``pick_amount`` (base.py:76-85): first token, or with
    ``prefer_first=False`` the first negative-looking token."""
    if not tokens:
        return None
    if prefer_first:
        tok = tokens[0]
    else:
        tok = next((t for t in tokens if "-" in t or "(" in t), tokens[0])
    return token_to_signed(tok)


_TRAILING_AMOUNT_RE = re.compile(r"\s*" + AMOUNT_PATTERN + r"\s*$")


def strip_trailing_amount(text: str) -> str:
    """Drop one trailing money lexeme (reference base.py:87-88)."""
    return _TRAILING_AMOUNT_RE.sub("", text).strip()


def squeeze(text: str) -> str:
    """Collapse whitespace runs and strip.  ``" ".join(split())`` is
    character-identical to ``re.sub(r"\\s+", " ").strip()`` — both are
    driven by Py_UNICODE_ISSPACE — and ~6x faster (round-6 hot loop:
    squeeze runs once per emitted block)."""
    return " ".join(text.split())
