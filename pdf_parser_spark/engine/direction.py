"""Global direction rule table + record normalizer.

Re-expression of reference parsers/common.py:5-57.  The rule table is
ordered, first-match-wins; the fallback is ``"unknown"``.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional

# (pattern, direction) in priority order — reference common.py:5-30.
DIRECTION_RULES = (
    (r"\bWIRE\s+OUT\b", "out"),
    (r"\bWIRE\s+FEE\b", "out"),
    (r"\bWIRE\s+TRANS\s+SVC\s+CHARGE\b", "out"),
    (r"\bACH\s+DEBIT\b", "out"),
    (r"\bACH\s+PULL\b", "out"),
    (r"\bBILL\s*(PAID|PMT)\b", "out"),
    (r"\bDEBIT\s+MEMO\b", "out"),
    (r"\bSERVICE CHARGE(S)?\b", "out"),
    (r"\bDBT\s+CRD\b", "out"),
    (r"\bPOS\s+DEB\b", "out"),
    (r"\bDEBIT\s+CARD\s+PURCH\b", "out"),
    (r"\bZELLE.*PAYMENT\s+TO\b", "out"),
    (r"\bPAYPAL\s+(?!.*CREDIT)", "out"),
    (r"\bCHECK\b", "out"),
    (r"\bWITHDRAWAL\b", "out"),
    (r"\bFEE\b", "out"),
    (r"\bWIRE\s+IN\b", "in"),
    (r"\bACH\s+CREDIT\b", "in"),
    (r"\bACH\s+IN\b", "in"),
    (r"\bELECTRONIC\s+CREDIT\b", "in"),
    (r"\bDEBIT\s+CARD\s+CREDIT\b", "in"),
    (r"\bZELLE.*PAYMENT\s+FROM\b", "in"),
    (r"\bINTEREST\s+PAYMENT\b", "in"),
    (r"\bWT\b(?!.*(CHARGE|FEE))", "in"),
    (r"\bPAYPAL.*CREDIT\b", "in"),
)

_COMPILED = tuple((re.compile(p, re.I), d) for p, d in DIRECTION_RULES)


def classify_direction(description: str) -> str:
    """First matching rule wins; else ``"unknown"`` (common.py:32-41).

    The reference uppercases the description *and* passes ``re.I`` —
    we keep both (harmless double case-folding, identical result)."""
    hay = description.upper()
    for rx, d in _COMPILED:
        if rx.search(hay):
            return d
    return "unknown"


def finalize_records(records: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
    """abs(amount), strip desc, backfill direction, stable date sort
    (reference common.py:43-57 ``normalize_transactions``), one dict per
    record.  The engine runs the same rule as a columnar fold
    (``chunking._Columnar``); this dict form is the reference the
    relational and chunked-parse tests compare against."""
    out = []
    for rec in records:
        amt = float(rec["amount"])
        desc = rec.get("description", "")
        direction = rec.get("direction") or classify_direction(desc)
        out.append({
            "date": rec["date"],
            "description": desc.strip(),
            "amount": abs(amt),
            "direction": direction,
        })
    # Python's sort is stable: ties keep emission order — tx_index
    # downstream relies on this (SURVEY.md G6).
    out.sort(key=lambda r: r["date"])
    return out
