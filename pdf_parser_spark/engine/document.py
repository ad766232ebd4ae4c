"""Document-level orchestration: text → (issuer, transactions, metrics).

This is the per-row semantic core that the Spark fidelity path batches
over Arrow.  Mirrors the reference request lifecycle (app.py:9-29):
extract → detect → parse → normalize — except the text is extracted
once and reused for both detection and parsing (the reference parses
the PDF twice, app.py:13 + chase.py:17 — a pure pessimization since
both calls produce identical text; SURVEY.md §4).
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

from .chunking import parse_document_columnar


def parse_document(
    text: Optional[str],
    fallback_year: int,
    issuer: Optional[str] = None,
    tally: Optional[dict] = None,
) -> Tuple[str, List[Dict[str, Any]]]:
    """Parse one document's extracted text into normalized transactions.

    ``fallback_year`` replaces the reference's nondeterministic
    utcnow-year fallback (base.py:54) — pass ``warc_ts.year``.
    ``issuer`` overrides detection (this is how the unregistered
    ``bofa_relationship`` layout is reached).

    Returns ``(issuer_key, records)`` where records are
    ``{date, description, amount, direction}`` stable-sorted by date:
    one dict per row of ``chunking.parse_document_columnar``, the parse
    the extraction worker runs.
    """
    key, cols = parse_document_columnar(text, fallback_year, issuer=issuer,
                                        tally=tally)
    return key, [{"date": d, "description": s, "amount": a, "direction": r}
                 for d, s, a, r in zip(*cols)]
