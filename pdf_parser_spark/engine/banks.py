"""Per-issuer statement parsers: line list → raw transaction records.

A faithful re-expression (NOT a translation) of the reference's eleven
parser classes (reference parsers/*.py) as pure functions over a
normalized line list.  Shared lexical machinery lives in
``textrules``; issuer keyword tables are module-level data; the block
state machines are small explicit loops.

Every function here takes ``(lines, year, tally=None)`` and returns raw
records ``{date, description, amount[, direction]}`` in emission order;
``chunking.parse_document_columnar`` applies abs/backfill/stable-sort.

``tally`` (optional dict) accumulates lineage counters for the metrics
sidecar: ``blocks_total`` (candidate blocks with a date), ``blocks_kept``
(records emitted).
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, List, Optional

from .textrules import (
    AMOUNT_PATTERN,
    AMOUNT_RE,
    any_date,
    first_amount,
    long_date,
    mmm_date,
    mmm_first_date,
    money_tokens,
    slash_date,
    squeeze,
    strip_trailing_amount,
)

Record = Dict[str, Any]


def _note(tally: Optional[dict], key: str, inc: int = 1) -> None:
    if tally is not None:
        tally[key] = tally.get(key, 0) + inc


# =====================================================================
# Generic family: generic / ifb / pnb / mercury / valley
# (reference base.py:107-121, ifb.py, pnb.py, mercury.py, valley.py)
# =====================================================================

def _date_block_sweep(
    lines: List[str],
    year: int,
    date_fn: Callable[[str, int], Optional[str]],
    tally: Optional[dict],
    long_line_cutoff: Optional[int] = None,
) -> List[tuple]:
    """Sweep the line list into (date, [block lines]) segments: a block
    opens at a date line and absorbs following non-date lines.  With
    ``long_line_cutoff`` (valley.py:26-28) a too-long line terminates
    the block *before* being absorbed."""
    segments = []
    i, n = 0, len(lines)
    while i < n:
        d = date_fn(lines[i], year)
        if not d:
            i += 1
            continue
        seg = [lines[i]]
        j = i + 1
        while j < n and not date_fn(lines[j], year):
            if long_line_cutoff is not None and len(lines[j]) > long_line_cutoff:
                break
            seg.append(lines[j])
            j += 1
        _note(tally, "blocks_total")
        segments.append((d, seg))
        i = j
    return segments


def _plain_emit(date: str, seg: List[str], tally: Optional[dict]) -> Optional[Record]:
    """first money token = amount; description = block text minus one
    trailing token (generic/ifb/pnb/mercury emission, base.py:115-120)."""
    text = " ".join(seg)
    amt = first_amount(money_tokens(text))
    if amt is None:
        return None
    _note(tally, "blocks_kept")
    return {"date": date, "description": strip_trailing_amount(text), "amount": amt}


def parse_generic(lines, year, tally=None) -> List[Record]:
    """reference base.py:103-121 (GenericParser)."""
    out = []
    for d, seg in _date_block_sweep(lines, year, any_date, tally):
        rec = _plain_emit(d, seg, tally)
        if rec:
            out.append(rec)
    return out


def parse_ifb(lines, year, tally=None) -> List[Record]:
    """reference ifb.py:8-34 — identical sweep/emission to generic."""
    return parse_generic(lines, year, tally)


def parse_pnb(lines, year, tally=None) -> List[Record]:
    """reference pnb.py:5-30 — identical sweep/emission to generic."""
    return parse_generic(lines, year, tally)


def parse_mercury(lines, year, tally=None) -> List[Record]:
    """reference mercury.py:5-32 — Mmm-D date priority, else generic."""
    out = []
    for d, seg in _date_block_sweep(lines, year, mmm_first_date, tally):
        rec = _plain_emit(d, seg, tally)
        if rec:
            out.append(rec)
    return out


def parse_valley(lines, year, tally=None) -> List[Record]:
    """reference valley.py:6-41 — slash dates only, >250-char block
    cutoff, sign-based direction, abs amount."""
    out = []
    sweep = _date_block_sweep(
        lines, year,
        lambda ln, y: slash_date(ln, y),
        tally, long_line_cutoff=250,
    )
    for d, seg in sweep:
        text = " ".join(seg)
        amt = first_amount(money_tokens(text))
        if amt is None:
            continue
        _note(tally, "blocks_kept")
        out.append({
            "date": d,
            "description": strip_trailing_amount(text),
            "amount": abs(amt),
            "direction": "out" if amt < 0 else "in",
        })
    return out


# =====================================================================
# Truist — per-line with section state (reference truist.py)
# =====================================================================

TRUIST_SECTION_IN = re.compile(r"Deposits.*credits", re.I)
TRUIST_SECTION_OUT = re.compile(r"(Other withdrawals|Debits|Service charges)", re.I)
TRUIST_KW_OUT = re.compile(r"(zelle|payment to|iat|debit|withdrawal|ach|bill pay)", re.I)
TRUIST_KW_IN = re.compile(r"(deposit|credit|interest|paypal\s+\d+)", re.I)


def parse_truist(lines, year, tally=None) -> List[Record]:
    """reference truist.py:12-66 — single-line txs, section carries
    direction, keyword/sign fallback (``unknown`` reachable at amt==0)."""
    out: List[Record] = []
    section = None
    for ln in lines:
        if TRUIST_SECTION_IN.search(ln):
            section = "in"
            continue
        if TRUIST_SECTION_OUT.search(ln):
            section = "out"
            continue
        d = slash_date(ln, year)
        if not d:
            continue
        amt = first_amount(money_tokens(ln))
        if amt is None:
            continue
        _note(tally, "blocks_total")
        desc = strip_trailing_amount(ln)
        if section == "in":
            direction = "in"
        elif section == "out":
            direction = "out"
        elif TRUIST_KW_OUT.search(desc):
            direction = "out"
        elif TRUIST_KW_IN.search(desc):
            direction = "in"
        elif amt < 0:
            direction = "out"
        elif amt > 0:
            direction = "in"
        else:
            direction = "unknown"
        _note(tally, "blocks_kept")
        out.append({
            "date": d,
            "description": desc,
            "amount": abs(amt),
            "direction": direction,
        })
    return out


# =====================================================================
# Wells Fargo (reference wf.py)
# =====================================================================

WF_WIRE_IN_TAG = re.compile(r"/org=", re.I)
WF_WIRE_OUT_TAG = re.compile(r"/bnf=", re.I)

WF_NOISE = re.compile(
    r"(?:totals\b|ending daily balance|important account information|service fee summary|"
    r"statement period|beginning balance|deposits/credits|withdrawals/debits|ending balance|"
    r"account number|page \d+ of \d+|account transaction fees|units used|units included|excess units|"
    r"service charge description|cash deposited|transactions|total service charges|"
    r"fee period|how to avoid|minimum required|this fee period|average ledger balance|minimum daily balance)",
    re.I,
)

_WF_HEADER_WORDS = (
    "wells fargo", "questions?", "available by phone", "online:", "write:",
    "your business and wells fargo", "account options", "business online banking",
    "overdraft protection", "important account information", "new york city customers",
    "updated limits", "effective october", "this notice", "watch for debit card scams",
)
_WF_SUMMARY_WORDS = (
    "statement period activity", "beginning balance", "ending balance",
    "deposits/credits", "withdrawals/debits", "totals",
    "account transaction fees", "service charge description",
    "units used", "units included", "excess units", "total service",
    "fee period", "how to avoid", "minimum required", "average ledger",
    "minimum daily balance", "standard monthly service fee",
)
_WF_META_RE = re.compile(
    r"page \d+ of \d+|account number:|for direct deposit|for wire transfers|routing number"
)
_WF_DOTTED_DATE_RE = re.compile(r"\b\d{1,2}\.\d{1,2}\.\d{2,4}\b")
_WF_MMM_IN_CTX_RE = re.compile(
    r"\b(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)\s+\d{1,2}\b", re.I
)
_WF_AMOUNTY_WORDS = (
    "interest payment", "interest credit", "fee", "charge",
    "payment", "credit", "debit", "service",
)

# the header/summary word batteries collapse into ONE alternation of
# escaped literals: identical substring semantics (both tuples return
# False on any hit, so order is immaterial), one scan of the line
# instead of 33 (measured ~2M generator steps per corpus pass)
_WF_NONCANDIDATE_RE = re.compile(
    "|".join(re.escape(w) for w in _WF_HEADER_WORDS + _WF_SUMMARY_WORDS)
)
_WF_AMOUNTY_RE = re.compile(
    "|".join(re.escape(w) for w in _WF_AMOUNTY_WORDS)
)
# the two False-gates of _wf_candidate_line OR-combined into one scan
# (identical boolean: both only ever return False on a hit)
_WF_NONCAND_OR_META_RE = re.compile(
    "(?:%s)|(?:%s)" % (_WF_NONCANDIDATE_RE.pattern, _WF_META_RE.pattern))


def _wf_candidate_line(line: str) -> bool:
    """Header/summary/metadata/short-line gate
    (reference wf.py:139-174 ``_is_valid_transaction_line``).
    Checks reordered cheapest-first — all are independent False
    gates, so order cannot change the result."""
    if len(line.strip()) < 10:
        return False
    low = line.lower()
    if _WF_NONCAND_OR_META_RE.search(low):
        return False
    return True


def _wf_date_fragment(tok: str, context: str,
                      low_context: Optional[str] = None,
                      ctx_flags: Optional[list] = None) -> bool:
    """Money lexeme that is really a date piece, e.g. ``11.8`` inside
    ``11.8.24`` (reference wf.py:44-87).  ``low_context`` lets the
    caller lowercase the (block-sized) context once instead of per
    token; ``ctx_flags`` (a caller-owned one-slot memo) caches the
    three context-level regex verdicts, which depend only on the BLOCK
    text, so multi-token blocks run them once (round-6 hot-loop trim).
    Check order rearranged result-identically: the function returns
    True iff (dotted OR mmm context) AND NOT amounty-context — so the
    date-context scans run first and an amounty scan only happens when
    one of them hit (all three are pure functions of the context)."""
    bare = (
        tok.replace("$", "").replace(",", "").replace("(", "")
        .replace(")", "").replace("-", "")
    )
    if "." in bare and len(bare.split(".")[1]) > 2:
        return False
    try:
        val = float(bare)
    except ValueError:
        return False
    if val > 31 or val < 1:
        return False
    if ctx_flags is not None and ctx_flags:
        datey, amounty = ctx_flags[0]
    else:
        datey = bool(_WF_DOTTED_DATE_RE.search(context)) or             bool(_WF_MMM_IN_CTX_RE.search(context))
        if datey:
            low = context.lower() if low_context is None else low_context
            amounty = bool(_WF_AMOUNTY_RE.search(low))
        else:
            amounty = False
        if ctx_flags is not None:
            ctx_flags.append((datey, amounty))
    return datey and not amounty


def _wf_amount_and_desc(text: str) -> Optional[Dict[str, Any]]:
    """First non-date-fragment money lexeme = amount; description is cut
    before the *next* lexeme (the balance column)
    (reference wf.py:89-137 ``_first_amount_and_cut``)."""
    hits = list(AMOUNT_RE.finditer(text))
    if not hits:
        return None
    low_text = text.lower()
    chosen, idx = None, 0
    ctx_flags: list = []
    for i, h in enumerate(hits):
        if _wf_date_fragment(h.group(), text, low_text, ctx_flags):
            continue
        chosen, idx = h, i
        break
    if chosen is None:
        chosen, idx = hits[0], 0
    if idx + 1 < len(hits):
        desc = text[: hits[idx + 1].start()].rstrip()
    else:
        desc = text
    raw = chosen.group()
    neg = raw.startswith("-") or raw.endswith("-") or raw.startswith("(")
    bare = (
        raw.replace("$", "").replace(",", "").replace("(", "")
        .replace(")", "").replace("-", "")
    )
    try:
        val = float(bare)
    except ValueError:
        return None
    return {"amount": -val if neg else val, "desc": desc}


_WF_FROM_RE = re.compile(r"\bfrom\s+\w+")
_WF_COMPANY_PMT_RE = re.compile(r"\w+\s+company\s+payment")
_WF_PMT_NUM_RE = re.compile(r"\bpayment\s+\w+\s+\d+")
_WF_WT_RE = re.compile(r"\bwt\s+\w+")


def _wf_direction(description: str) -> str:
    """Priority tiers (reference wf.py:176-227).  Round-6 hot-loop
    trim: each regex tier is gated by a C-level substring check for a
    literal the regex REQUIRES (e.g. _WF_FROM_RE can only match where
    "from" occurs) — a gate miss proves the regex cannot match, so the
    tier outcomes are identical."""
    low = description.lower()
    if "/org=" in low or "/bnf=" in low:
        org = WF_WIRE_IN_TAG.search(low)
        bnf = WF_WIRE_OUT_TAG.search(low)
        if org and not bnf:
            return "in"
        if bnf and not org:
            return "out"
    if any(w in low for w in (
        "online transfer from", "transfer from", "llc sender", "sender",
    )):
        return "in"
    if "from" in low and _WF_FROM_RE.search(low):
        return "in"
    if ("company" in low and _WF_COMPANY_PMT_RE.search(low)) or             ("payment" in low and _WF_PMT_NUM_RE.search(low)):
        return "in"
    if "zelle from" in low:
        return "in"
    if "zelle to" in low:
        return "out"
    if "morgan stanley" in low and _WF_WT_RE.search(low):
        return "in"
    if any(w in low for w in (
        "interest payment", "interest credit", "deposit", "credit",
    )) and "credit card" not in low:
        return "in"
    return "out"


def parse_wf(lines, year, tally=None) -> List[Record]:
    """reference wf.py:229-313 (WFParser.parse).

    Perf: per-line classification (candidate / noise / date) is pure,
    so it runs ONCE per line up front — the block-gather lookahead
    would otherwise re-classify every line a second time."""
    n = len(lines)
    nonempty = [False] * n
    cand = [False] * n
    noisy = [False] * n
    dates: List[Optional[str]] = [None] * n
    for idx, line in enumerate(lines):
        if not line.strip():
            continue
        nonempty[idx] = True
        cand[idx] = _wf_candidate_line(line)
        # noise only ever gates candidate lines (both loops check the
        # candidate flag in the same breath), so skip the expensive
        # WF_NOISE scan for non-candidates
        noisy[idx] = bool(WF_NOISE.search(line)) if cand[idx] else False
        dates[idx] = any_date(line, year)
    out: List[Record] = []
    i = 0
    while i < n:
        line = lines[i]
        if not nonempty[i] or not cand[i]:
            i += 1
            continue
        if noisy[i]:
            i += 1
            continue
        d = dates[i]
        if not d:
            i += 1
            continue
        block = [line]
        j = i + 1
        while j < n:
            if not nonempty[j]:
                j += 1
                continue
            if dates[j]:
                break
            if not cand[j] or noisy[j]:
                break
            block.append(lines[j])
            j += 1
        _note(tally, "blocks_total")
        body = " ".join(block)
        if not _wf_candidate_line(body):
            i = j
            continue
        parsed = _wf_amount_and_desc(body)
        if not parsed:
            i = j
            continue
        _note(tally, "blocks_kept")
        out.append({
            "date": d,
            "description": parsed["desc"],
            "amount": abs(parsed["amount"]),
            "direction": _wf_direction(parsed["desc"]),
        })
        i = j
    return out


# =====================================================================
# Chase (reference chase.py)
# =====================================================================

_CHASE_SECTIONS = (
    (("depósitos y adiciones", "deposits and additions"), "deposits"),
    (("retiros electrónicos", "electronic withdrawals", "retiros electrÃ³nicos"),
     "withdrawals"),
)
_CHASE_SECTION_EXACT_FEES = ("cargos", "charges")
_CHASE_SECTIONS_TAIL = (
    "atm & debit card withdrawals",
    "atm and debit card withdrawals",
    "card purchases",
)
_CHASE_NOISE_PREFIXES = (
    "jpmorgan chase bank", "página", "page",
    "número de cuenta", "account number",
    "total de depósitos", "total deposits",
    "total de retiros", "total withdrawals",
    "total comisiones", "total fees",
    "saldo inicial", "beginning balance",
    "saldo final", "ending balance",
    "duplicate statement", "customer service information",
    "checking summary", "how to avoid the monthly service fee",
    "daily ending balance",
)
_CHASE_LEGAL_MARKERS = (
    "llámenos al", "call us at",
    "en caso de errores", "in case of errors",
    "prepárese", "prepare to provide",
)
_CHASE_LEGAL_BLOCK = (
    "llámenos al 1-866-564-2262", "call us at 1-866-564-2262",
    "en caso de errores o preguntas", "in case of errors or questions",
    "prepárese para proporcionarnos", "be prepared to give us",
)

# round-6 hot-loop forms: escaped-literal alternations are semantically
# identical to the any(x in low) batteries they replace (both are plain
# substring presence; order immaterial for a boolean) — one C-level
# scan instead of a generator frame per needle
_CHASE_LEGAL_MARKERS_RE = re.compile(
    "|".join(re.escape(m) for m in _CHASE_LEGAL_MARKERS))
_CHASE_LEGAL_BLOCK_RE = re.compile(
    "|".join(re.escape(m) for m in _CHASE_LEGAL_BLOCK))

_STANDALONE_AMOUNT_RE = re.compile(r"^\s*\$[\d,]+\.\d{2}\s*$")
_LONG_DIGITS_RE = re.compile(r"^\s*\d{12,}\s*$")
_CHASE_DATE_RE = re.compile(r"^(\d{1,2})/(\d{1,2})(?:\s|$)")
_PHONE_RE = re.compile(r"\d{3}[-.\s]\d{3}[-.\s]\d{4}")
_HOTLINE_RE = re.compile(r"1-\d{3}-\d{3}-\d{4}")
_MONTH_THROUGH_RE = re.compile(
    r"\b(january|february|march|april|may|june|july|august|september|october"
    r"|november|december)\s+\d{1,2},\s+\d{4}\s+through\s+"
)
_MD_TOKEN_RE = re.compile(r"\b\d{1,2}/\d{1,2}\b")


def _chase_section_low(low: str) -> Optional[str]:
    """reference chase.py:70-89 (_detect_section); ``low`` is the
    stripped+lowered line."""
    for needles, sec in _CHASE_SECTIONS:
        if any(p in low for p in needles):
            return sec
    if low in _CHASE_SECTION_EXACT_FEES:
        return "fees"
    if any(p in low for p in _CHASE_SECTIONS_TAIL):
        return "withdrawals"
    return None


def _chase_noise_low(line: str, low: str) -> bool:
    """reference chase.py:94-118 (_is_basic_noise)."""
    if "*start*" in low or "*end*" in low:
        return True
    if low.startswith(_CHASE_NOISE_PREFIXES):
        return True
    if _STANDALONE_AMOUNT_RE.match(line):
        return True
    if _LONG_DIGITS_RE.match(line):
        return True
    if low.startswith("en caso de errores") or low.startswith("in case of errors"):
        return True
    return False


def _chase_date_low(stripped: str, low: str, year: int) -> Optional[str]:
    """MM/DD at line start, range-checked, minus legal-marker lines
    (reference chase.py:120-136).  The marker battery is ONE compiled
    alternation of escaped literals (identical substring semantics,
    one scan instead of six — round-6 hot-loop trim)."""
    if _CHASE_LEGAL_MARKERS_RE.search(low):
        return None
    m = _CHASE_DATE_RE.match(stripped)
    if not m:
        return None
    mm, dd = int(m.group(1)), int(m.group(2))
    if 1 <= mm <= 12 and 1 <= dd <= 31:
        return "%04d-%02d-%02d" % (year, mm, dd)
    return None


def _chase_legal_block(text: str, low: Optional[str] = None) -> bool:
    """reference chase.py:171-182.  ``low`` lets the caller lowercase
    the block body once for both block classifiers (same pattern as
    _wf_date_fragment)."""
    if low is None:
        low = text.lower()
    if _CHASE_LEGAL_BLOCK_RE.search(low):
        return True
    return len(text) > 500 and bool(_HOTLINE_RE.search(text))


def _chase_daily_balance(text: str, low: Optional[str] = None) -> bool:
    """reference chase.py:162-169."""
    if low is None:
        low = text.lower()
    if "daily ending balance" in low:
        return True
    if _MONTH_THROUGH_RE.search(low):
        if not any(w in low for w in (
            "payment", "deposit", "transfer", "purchase", "withdrawal", "fee",
        )):
            return True
    return False


def _chase_signed(tok: str) -> Optional[float]:
    """Chase's own sign rule: negative iff '-' anywhere or leading '('
    (reference chase.py:187-194) — differs from the base lexer."""
    bare = tok.replace("$", "").replace(",", "").replace("(", "").replace(")", "")
    neg = "-" in tok or tok.strip().startswith("(")
    try:
        val = float(bare)
    except ValueError:
        return None
    return -val if neg else val


def _chase_block_amount(block: List[str], body: str) -> Optional[float]:
    """$-prefixed tokens take priority, then max by value; tokens whose
    digit string sits in a phone-number context are excluded
    (reference chase.py:186-215)."""
    toks: List[str] = []
    for ln in block:
        toks.extend(money_tokens(ln))
    has_phone = bool(_PHONE_RE.search(body))

    def in_phone_ctx(tok: str) -> bool:
        digits = tok.replace(",", "").replace(".", "")
        return has_phone and digits in body

    pairs = []
    for t in toks:
        v = _chase_signed(t)
        if v is not None and not in_phone_ctx(t):
            pairs.append((t, v))
    if not pairs:
        return None
    dollar = [p for p in pairs if "$" in p[0]]
    pool = dollar if dollar else pairs
    return max(pool, key=lambda p: p[1])[1]


# each chain entry carries a required-literal gate: the regex can only
# match where the (case-folded) literal occurs, so a gate miss skips
# the regex scan outright; the lowercase view is recomputed after any
# sub that changed the string, so later gates stay exact (round 6)
_CHASE_CLEAN_CHAIN = (
    (re.compile(r"\bDAILY ENDING BALANCE\b", re.I), "",
     "daily ending balance"),
    (re.compile(r"\bFECHA\s+CANTIDAD\b", re.I), "", "fecha"),
    (re.compile(r"\bDATE\s+AMOUNT\b", re.I), "", "date"),
    (re.compile(r"\btrn:\s*", re.I), " Trn: ", "trn:"),
    (re.compile(r"\bssn:\s*", re.I), " Ssn: ", "ssn:"),
)


def _chase_clean_desc(text: str) -> str:
    """reference chase.py:219-230."""
    c = AMOUNT_RE.sub("", text)
    c = _MD_TOKEN_RE.sub("", c)
    low = c.lower()
    for rx, repl, gate in _CHASE_CLEAN_CHAIN:
        if gate in low:
            c2 = rx.sub(repl, c)
            if c2 is not c:
                c = c2
                low = c.lower()
    c = squeeze(c)
    if c:
        c = c[0].upper() + c[1:]
    return c


_CHASE_REVERSAL_RE = re.compile(r"\b(reversal|reversi[oó]n)\b")
_CHASE_DEPOSIT_RE = re.compile(
    r"\b(deposit|credit|incoming|ach credit|wire credit|zelle payment from)\b")
_CHASE_WISE_RE = re.compile(r"\bwise\b")
_CHASE_CAMARA_RE = re.compile(r"d[eé]bito de c[aá]mara")


def _chase_direction(description: str, section: str, amount: float) -> str:
    """Priority tiers (reference chase.py:234-258)."""
    d = description.lower()
    # round-6 hot-loop trim: substring gates for literals each regex
    # REQUIRES (identical tier outcomes; see _wf_direction note)
    if "revers" in d and _CHASE_REVERSAL_RE.search(d):
        return "in"
    if any(x in d for x in (" fee", "charge", "cargo", "comisión", "service charge")):
        return "out"
    if _CHASE_DEPOSIT_RE.search(d):
        return "in"
    if "card purchase" in d or "compra con tarjeta" in d or "recurring card purchase" in d:
        return "out"
    if "wise" in d and ("wise us inc" in d or " trnwise " in " %s " % d
                        or _CHASE_WISE_RE.search(d)):
        return "out"
    if any(x in d for x in (
        "payment to", "zelle payment to", "online payment",
        "transferencia a", "wire transfer", "online domestic wire transfer",
        "online international wire transfer",
    )):
        return "out"
    if "bito de c" in d and _CHASE_CAMARA_RE.search(d):
        return "out"
    if section == "deposits":
        return "in"
    if section in ("withdrawals", "fees"):
        return "out"
    return "in" if amount > 0 else "out"


def parse_chase(lines, year, tally=None) -> List[Record]:
    """reference chase.py:16-68 (ChaseParser.parse): section state,
    noise skip, block gather tolerating one no-content line.

    Perf: ONE classification pass per line up front (the per-line
    classifiers are pure) — the block-gather lookahead would otherwise
    re-classify every line a second time, and each classifier would
    re-strip/lower it (measured ~35% of this parser's time)."""
    n = len(lines)
    secs: List[Optional[str]] = [None] * n
    noises = [False] * n
    dates: List[Optional[str]] = [None] * n
    nonempty = [False] * n
    for idx, line in enumerate(lines):
        stripped = line.strip()
        if not stripped:
            continue
        nonempty[idx] = True
        low = stripped.lower()
        secs[idx] = _chase_section_low(low)
        noises[idx] = _chase_noise_low(line, low)
        dates[idx] = _chase_date_low(stripped, low, year)
    out: List[Record] = []
    section: Optional[str] = None
    i = 0
    while i < n:
        line = lines[i]
        if not nonempty[i]:
            i += 1
            continue
        if secs[i]:
            section = secs[i]
            i += 1
            continue
        if noises[i]:
            i += 1
            continue
        d = dates[i]
        if not d:
            i += 1
            continue
        block = [line]
        j = i + 1
        dry = 0
        while j < n:
            if dates[j] or secs[j] is not None:
                break
            if nonempty[j] and not noises[j]:
                block.append(lines[j])
                dry = 0
            else:
                dry += 1
                if dry >= 2:
                    break
            j += 1
        _note(tally, "blocks_total")
        body = " ".join(s.strip() for s in block if s).strip()
        rec = None
        low_body = body.lower()
        if body and not _chase_legal_block(body, low_body) \
                and not _chase_daily_balance(body, low_body):
            amt = _chase_block_amount(block, body)
            if amt is not None:
                desc = _chase_clean_desc(body)
                if desc and len(desc) >= 3:
                    rec = {
                        "date": d,
                        "description": desc,
                        "amount": amt,
                        "direction": _chase_direction(desc, section or "", amt),
                    }
        if rec:
            _note(tally, "blocks_kept")
            out.append(rec)
        i = j
    return out


# =====================================================================
# Bank of America (reference bofa.py)
# =====================================================================

_BOFA_EXACT_NOISE = (
    "bank of america",
    "your checking account",
    "account summary",
    "deposits and other credits",
    "withdrawals and other debits",
    "service fees",
    "daily ledger balances",
    "preferred rewards",
    "important information",
    "customer service",
    "date description amount",
    "total deposits",
    "total withdrawals",
    "total service fees",
    "beginning balance",
    "ending balance",
    "average ledger",
    "business advantage",
    "this page intentionally",
)
_BOFA_EXACT_SET = frozenset(_BOFA_EXACT_NOISE)
_BOFA_EXACT_PREFIXES = tuple(p + " " for p in _BOFA_EXACT_NOISE)
_BOFA_HEADER_PHRASES = (
    "this page intentionally left blank",
    "your checking account",
    "business advantage relationship",
    "business advantage fundamentals",
    "preferred rewards for bus",
    "account summary",
    "important information",
    "daily ledger balances",
)
_BOFA_TX_INDICATORS = (
    "wire type:", "online banking", "zelle", "transfer", "payment",
    "checkcard", "purchase", "fee", "deposit", "withdrawal", "ca tlr",
    "bkofamerica",
)
_BOFA_DATE_RE = re.compile(r"(\d{1,2})/(\d{1,2})/(\d{2})\b")
_BOFA_PAGE_RE = re.compile(r"^\s*page\s+\d+\s+of\s+\d+\s*$")
_BOFA_COLHDR_RE = re.compile(r"^\s*date\s+description\s+amount\s*$")
_BOFA_BAL_ROW_RE = re.compile(r"^\s*\d{1,2}/\d{1,2}\s+[\d,]+\.\d{2}\s*$")
_BOFA_BAL_ROW2_RE = re.compile(r"^\s*\d{1,2}/\d{1,2}\s+[\d,]+\.\d{2}\s+\d{1,2}/\d{1,2}")
_BOFA_DAILY_HDR_RE = re.compile(r"^\s*date\s+balance\s*\(\s*\$\s*\)")
_BOFA_YEARLESS_MD_RE = re.compile(r"\b\d{1,2}/\d{1,2}\b(?!/\d{2})")
_BOFA_ACCT_RE = re.compile(r"account\s*#\s*\d{4}\s+\d{4}\s+\d{4}")
_BOFA_SPLIT_SEP_RE = re.compile(r"(\d{1,2}/\d{1,2}/\d{2}\s+)")
_BOFA_SEP_FULL_RE = re.compile(r"^\d{1,2}/\d{1,2}/\d{2}\s+$")
_BOFA_LEAD_DATE_RE = re.compile(r"^\s*\d{1,2}/\d{1,2}/\d{2}\s+")
_BOFA_CONT_TAIL_RE = re.compile(r"\s*continued\s+on\s+the\s+next\s+page\s*$", re.I)


def _bofa_split_long(lines: List[str]) -> List[str]:
    """Re-split >200-char lines on MM/DD/YY tokens — the PDF text layer
    sometimes glues several single-line txs together
    (reference bofa.py:109-126 _split_concatenated_lines)."""
    out: List[str] = []
    for line in lines:
        if len(line) <= 200:
            out.append(line)
            continue
        acc = ""
        for part in _BOFA_SPLIT_SEP_RE.split(line):
            if _BOFA_SEP_FULL_RE.match(part):
                if acc.strip():
                    out.append(acc.strip())
                acc = part
            else:
                acc += part
        if acc.strip():
            out.append(acc.strip())
    return out


def _bofa_section(line: str) -> Optional[str]:
    """reference bofa.py:155-165."""
    low = line.lower().strip()
    if "deposits and other additions" in low or "deposits and other credits" in low:
        return "deposits"
    if "withdrawals and other debits" in low or "other subtractions" in low:
        return "withdrawals"
    if "atm and debit card subtractions" in low:
        return "withdrawals"
    if "service fees" in low:
        return "withdrawals"
    return None


def _bofa_noise(line: str) -> bool:
    """reference bofa.py:167-212."""
    low = line.lower()
    stripped = low.strip()
    # set + tuple-startswith: identical to the per-needle loop
    # (equality OR "needle + space" prefix), one hash + one C call
    if stripped in _BOFA_EXACT_SET or \
            stripped.startswith(_BOFA_EXACT_PREFIXES):
        return True
    if _BOFA_PAGE_RE.match(low):
        return True
    if "continued on" in low and "next page" in low:
        return True
    if _BOFA_COLHDR_RE.match(low):
        return True
    if _BOFA_BAL_ROW_RE.match(line):
        return True
    if _BOFA_BAL_ROW2_RE.match(line):
        return True
    return False


def _bofa_daily_header(line: str) -> bool:
    """reference bofa.py:147-153."""
    low = line.lower().strip()
    return "daily ledger balances" in low or bool(_BOFA_DAILY_HDR_RE.match(low))


def _bofa_date(line: str, year: int) -> Optional[str]:
    """MM/DD/YY with a 1950 pivot (reference bofa.py:214-220; the
    ``year`` argument is unused — kept for signature uniformity)."""
    m = _BOFA_DATE_RE.match(line.strip())
    if not m:
        return None
    mm, dd, yy = m.groups()
    full = int(yy) + 2000 if int(yy) < 50 else int(yy) + 1900
    return "%04d-%02d-%02d" % (full, int(mm), int(dd))


def _bofa_last_amount(line: str) -> Optional[float]:
    """Last money lexeme, magnitude only, bounds-checked
    (reference bofa.py:222-234)."""
    toks = money_tokens(line)
    if not toks:
        return None
    bare = (
        toks[-1].replace("$", "").replace(",", "").replace("(", "")
        .replace(")", "").replace("-", "")
    )
    try:
        val = float(bare)
    except ValueError:
        return None
    if val < 0.01 or val > 10000000:
        return None
    return val


def _bofa_clean_desc(line: str) -> str:
    """reference bofa.py:236-241."""
    c = _BOFA_LEAD_DATE_RE.sub("", line)
    c = AMOUNT_RE.sub("", c)
    c = _BOFA_CONT_TAIL_RE.sub("", c)
    return squeeze(c)


def _bofa_header_phrases(text: str) -> bool:
    """reference bofa.py:128-145."""
    low = text.lower()
    if any(p in low for p in _BOFA_HEADER_PHRASES):
        return True
    return bool(_BOFA_ACCT_RE.search(low))


def _bofa_balance_entry(text: str) -> bool:
    """reference bofa.py:95-107."""
    low = text.lower()
    yearless = _BOFA_YEARLESS_MD_RE.findall(text)
    if len(yearless) >= 2:
        return True
    if _BOFA_YEARLESS_MD_RE.search(text):
        if not any(w in low for w in _BOFA_TX_INDICATORS):
            return True
    return False


_BOFA_WIRE_IN_RE = re.compile(r"wire type:\s*(wire|intl|book|fx) in")
_BOFA_WIRE_OUT_RE = re.compile(r"wire type:\s*(wire|intl|fx|book) out")


def _bofa_direction(description: str, section: Optional[str]) -> str:
    """Priority tiers, default ``out`` (reference bofa.py:243-310)."""
    d = description.lower()
    if _BOFA_WIRE_IN_RE.search(d):
        return "in"
    if _BOFA_WIRE_OUT_RE.search(d):
        return "out"
    if "zelle payment from" in d:
        return "in"
    if "zelle payment to" in d:
        return "out"
    if "transfer" in d and "from" in d and "via wise" in d:
        return "in"
    if any(w in d for w in ("fee", "charge", "svc charge")):
        return "out"
    if any(w in d for w in ("checkcard", "purchase")):
        return "out"
    if any(w in d for w in ("deposit", "credit", "received", "cashreward")):
        return "in"
    if ("preferred rewards" in d or "prfd rwds" in d) and "waiver" in d:
        return "out"
    if "online banking transfer" in d or "online transfer" in d:
        if section:
            return "in" if section == "deposits" else "out"
    if "ca tlr transfer" in d:
        if section:
            return "in" if section == "deposits" else "out"
    if "bkofamerica bc" in d:
        if section:
            return "in" if section == "deposits" else "out"
    if section == "deposits":
        return "in"
    if section == "withdrawals":
        return "out"
    if "transfer" in d and "confirmation#" in d:
        return "out"
    if "online banking" in d and any(w in d for w in ("payment", "transfer")):
        return "out"
    if "wise inc" in d:
        return "out" if "-" in description else "in"
    if "ontop holdings" in d:
        return "in"
    if "bnf:" in d:
        return "out"
    return "out"


def parse_bofa(lines, year, tally=None) -> List[Record]:
    """reference bofa.py:14-93 (BOFAParser.parse): single-line txs with
    a daily-balance skip state and wire-fee multi-emit."""
    out: List[Record] = []
    work = _bofa_split_long(lines)
    section: Optional[str] = None
    in_daily = False
    for line in work:
        if not line.strip():
            continue
        if _bofa_daily_header(line):
            in_daily = True
            continue
        if in_daily:
            sec = _bofa_section(line)
            if sec:
                in_daily = False
                section = sec
            continue
        sec = _bofa_section(line)
        if sec:
            section = sec
            continue
        if _bofa_noise(line):
            continue
        if "wire transfer fee" in line.lower():
            d = _bofa_date(line, year)
            if not d:
                continue
            for tok in money_tokens(line):
                bare = (
                    tok.replace("$", "").replace(",", "").replace("(", "")
                    .replace(")", "").replace("-", "")
                )
                try:
                    val = float(bare)
                except ValueError:
                    continue
                if val > 0.01:
                    _note(tally, "blocks_total")
                    _note(tally, "blocks_kept")
                    out.append({
                        "date": d,
                        "description": "Wire Transfer Fee",
                        "amount": val,
                        "direction": "out",
                    })
            continue
        d = _bofa_date(line, year)
        if not d:
            continue
        _note(tally, "blocks_total")
        amt = _bofa_last_amount(line)
        if amt is None or amt == 0:
            continue
        desc = _bofa_clean_desc(line)
        if not desc or len(desc) < 5:
            continue
        if _bofa_header_phrases(desc) or _bofa_balance_entry(desc):
            continue
        direction = _bofa_direction(desc, section)
        if not direction:
            continue
        _note(tally, "blocks_kept")
        out.append({
            "date": d,
            "description": desc,
            "amount": amt,
            "direction": direction,
        })
    return out


# =====================================================================
# Citi (reference citi.py)
# =====================================================================

_CITI_NOISE_PATTERNS = tuple(re.compile(p) for p in (
    r"^citibank",
    r"^citibusiness",
    r"relationship summary",
    r"checking summary",
    r"customer service information",
    r"^page \d+",
    r"^account \d+",
    r"^statement period",
    r"service charge summary from",
    r"^important notice",
    r"^important disclosures",
    r"^fdic insurance",
    r"^apy and interest rate",
    r"billing rights summary",
    r"in case of errors",
    r"^messages from citi",
    r"value of accounts this period",
    r"earnings summary",
    r"we are notifying",
    r"^effective",
    r"^account as of",
    r"citibusiness® account as of",
    r"^\w+ \d+,? - \w+ \d+,? \d{4}",
    r"^\d{4} de citi",
))
_CITI_COLUMN_HEADERS = (
    "date description debits credits balance",
    "date description amount subtracted amount added balance",
    "beginning balance:", "ending balance:", "balance subject",
    "average daily collected balance",
    "type of charge", "charges debited from account",
    "total charges for services", "net service charge",
    "total debits/credits", "total subtracted/added",
)
_CITI_DATE_RE = re.compile(r"^(\d{1,2})/(\d{1,2})(?:\s|[A-Za-z])")
_CITI_META_INDICATORS = (
    "account as of",
    "statement period",
    "service charge summary",
    "average daily collected balance",
    "relationship summary",
    "checking summary",
)
_CITI_COMPANY_RE = re.compile(r"^\d{1,2}/\d{1,2}\s+[A-Z\s]+(?:LLC|INC|CORP|COMPANY)")
_CITI_TX_KEYWORDS = (
    "deposit", "credit", "debit", "wire", "transfer", "payment",
    "purchase", "withdrawal", "fee", "charge", "interest",
)
_CITI_LEGAL_INDICATORS = (
    "in case of errors", "customer service", "important disclosures",
    "fdic insurance", "apy and interest rate", "billing rights summary",
)
_CITI_BAL_KEYWORDS = (
    "deposit", "credit", "debit", "purchase", "withdrawal", "wire", "fee",
    "interest",
)


def _citi_section(line: str) -> Optional[str]:
    """checking vs savings column layouts (reference citi.py:74-88)."""
    low = line.lower().strip()
    if ("checking activity" in low or "checking account activity" in low
            or "citibusiness checking activity" in low):
        return "checking"
    if "streamlined checking" in low:
        return "checking"
    if "savings activity" in low:
        return "savings"
    if "citi® savings" in low and "account activity" in low:
        return "savings"
    if "citibank® savings" in low and "account activity" in low:
        return "savings"
    if ("account activity" in low and "amount subtracted" in low
            and "amount added" in low):
        return "savings"
    return None


def _citi_noise(line: str) -> bool:
    """reference citi.py:90-145."""
    low = line.lower().strip()
    for rx in _CITI_NOISE_PATTERNS:
        if rx.search(low):
            return True
    if any(h in low for h in _CITI_COLUMN_HEADERS):
        return True
    if _STANDALONE_AMOUNT_RE.match(line):
        return True
    if _LONG_DIGITS_RE.match(line):
        return True
    return False


def _citi_date(line: str, year: int) -> Optional[str]:
    """MM/DD followed by space-or-letter, range-checked
    (reference citi.py:149-157)."""
    m = _CITI_DATE_RE.match(line.strip())
    if not m:
        return None
    mm, dd = int(m.group(1)), int(m.group(2))
    if 1 <= mm <= 12 and 1 <= dd <= 31:
        return "%04d-%02d-%02d" % (year, mm, dd)
    return None


def _citi_signed(tok: str) -> Optional[float]:
    """Citi's sign rule: (…) pair or leading '-' (citi.py:267-278)."""
    s = tok.strip()
    neg = (s.startswith("(") and s.endswith(")")) or s.startswith("-")
    bare = (
        tok.replace("$", "").replace(",", "").replace("(", "")
        .replace(")", "").strip()
    )
    try:
        val = float(bare)
    except ValueError:
        return None
    return -val if neg else val


def _citi_metadata(text: str) -> bool:
    """reference citi.py:202-230."""
    low = text.lower()
    if any(ind in low for ind in _CITI_META_INDICATORS):
        return True
    if _CITI_COMPANY_RE.match(text):
        if not any(kw in low for kw in _CITI_TX_KEYWORDS):
            return True
    return False


def _citi_balance_block(text: str) -> bool:
    """reference citi.py:442-452."""
    low = text.lower()
    if "daily ending balance" in low:
        return True
    if _MONTH_THROUGH_RE.search(low):
        if not any(k in low for k in _CITI_BAL_KEYWORDS):
            return True
    return False


def _citi_legal(text: str) -> bool:
    """reference citi.py:454-460."""
    low = text.lower()
    return any(s in low for s in _CITI_LEGAL_INDICATORS)


_CITI_HDR_RE = re.compile(r"\bDATE\s+DESCRIPTION\s+.*BALANCE\b", re.I)
_CITI_BAL_WORDS_RE = re.compile(
    r"\bBEGINNING BALANCE\b|\bENDING BALANCE\b", re.I)


def _citi_clean_desc(text: str) -> str:
    """reference citi.py:464-472."""
    c = AMOUNT_RE.sub("", text)
    c = _MD_TOKEN_RE.sub("", c)
    c = _CITI_HDR_RE.sub("", c)
    c = _CITI_BAL_WORDS_RE.sub("", c)
    c = squeeze(c)
    if c:
        c = c[0].upper() + c[1:]
    return c


def _citi_checking_amount(text: str) -> Optional[Dict[str, Any]]:
    """Column layout Date|Description|Debits|Credits|Balance: pick the
    transaction amount (not the trailing balance) and cut the
    description before the following lexeme
    (reference citi.py:354-440 _extract_transaction_amount_and_desc)."""
    hits = list(AMOUNT_RE.finditer(text))
    vals = []
    for h in hits:
        v = _citi_signed(h.group())
        if v is not None:
            vals.append((v, h.start(), h.end()))
    if not vals:
        return None
    if len(vals) == 1:
        amount, desc = vals[0][0], text
    elif len(vals) == 2:
        amount = vals[0][0]
        desc = text[: vals[1][1]].rstrip()
    else:
        amount, cut = None, None
        for i in range(len(vals) - 1):
            if abs(vals[i][0]) >= 0.01:
                amount = vals[i][0]
                if i + 1 < len(vals):
                    cut = vals[i + 1][1]
                break
        if amount is None:
            amount = vals[0][0]
            if len(vals) > 1:
                cut = vals[1][1]
        desc = text[:cut].rstrip() if cut else text
    return {"amount": amount, "desc": _citi_clean_desc(desc)}


def _citi_savings_amounts(text: str) -> Optional[Dict[str, Any]]:
    """Column layout Date|Description|Subtracted|Added|Balance: drop the
    trailing balance, pick subtracted-vs-added, blank every lexeme out
    of the description (reference citi.py:258-352)."""
    hits = list(AMOUNT_RE.finditer(text))
    if not hits:
        return None
    vals = []
    for h in hits:
        v = _citi_signed(h.group())
        if v is not None:
            vals.append((v, h.start()))
    if not vals:
        return None
    body = vals[:-1] if len(vals) >= 2 else vals
    low = text.lower()
    if len(body) >= 2:
        sub_v, add_v = body[0][0], body[1][0]
        if abs(sub_v) > 0.01 and abs(add_v) < 0.01:
            amount, direction = abs(sub_v), "out"
        elif abs(add_v) > 0.01 and abs(sub_v) < 0.01:
            amount, direction = abs(add_v), "in"
        elif abs(add_v) > abs(sub_v):
            amount, direction = abs(add_v), "in"
        else:
            amount, direction = abs(sub_v), "out"
    elif len(body) == 1:
        amount = abs(body[0][0])
        if any(k in low for k in ("interest", "deposit", "credit", "reversal")):
            direction = "in"
        elif any(k in low for k in ("fee", "withdrawal", "debit", "withholding")):
            direction = "out"
        else:
            direction = "in" if body[0][0] > 0 else "out"
    else:
        return None
    desc = text
    for h in hits:
        desc = desc.replace(h.group(), " ")
    desc = _citi_clean_desc(squeeze(desc))
    return {"amount": amount, "direction": direction, "desc": desc}


def _citi_direction(description: str, amount: float) -> str:
    """Priority tiers with sign fallback (reference citi.py:476-518)."""
    d = description.lower()
    if "debit card credit" in d or "debit card credi" in d:
        return "in"
    if any(k in d for k in (
        "electronic credit", "deposit", "interest paid", "interest credit",
        "wire from", "funds transfer from", "misc deposit", "reversal",
    )):
        return "in"
    if any(k in d for k in (
        "service charge", "fee for", "incoming wire fee",
        "monthly maintenance fee", "foreign transaction fee",
        "acct analysis direct db", "federal withholding tax",
    )):
        return "out"
    if any(k in d for k in (
        "debit card purch",
        "ach debit", "funds trn out",
        "int'l wire out", "international wire out",
        "cbusol transfer debit", "cbusol international wire out",
        "cbol wire to", "cbusol wire to",
        "withdrawal", "instant payment debit", "other/withdrawal",
    )):
        return "out"
    if "wire to" in d:
        return "out"
    return "in" if amount > 0 else "out"


def parse_citi(lines, year, tally=None) -> List[Record]:
    """reference citi.py:13-70 (CitiParser.parse): section state
    (checking/savings), noise skipped mid-block without breaking.

    Perf: one pure classification pass per line up front (same
    rationale as parse_chase/parse_wf — the lookahead otherwise
    re-classifies every line)."""
    n = len(lines)
    nonempty = [False] * n
    secs: List[Optional[str]] = [None] * n
    noisy = [False] * n
    dates: List[Optional[str]] = [None] * n
    for idx, line in enumerate(lines):
        if not line or not line.strip():
            continue
        nonempty[idx] = True
        secs[idx] = _citi_section(line)
        noisy[idx] = _citi_noise(line)
        dates[idx] = _citi_date(line, year)
    out: List[Record] = []
    section: Optional[str] = None
    i = 0
    while i < n:
        line = lines[i]
        if not nonempty[i]:
            i += 1
            continue
        if secs[i]:
            section = secs[i]
            i += 1
            continue
        if noisy[i]:
            i += 1
            continue
        d = dates[i]
        if not d:
            i += 1
            continue
        block = [line]
        j = i + 1
        blanks = 0
        while j < n:
            if not nonempty[j]:
                blanks += 1
                if blanks >= 2:
                    break
                j += 1
                continue
            if dates[j]:
                break
            if secs[j]:
                break
            if noisy[j]:
                j += 1
                continue
            block.append(lines[j])
            blanks = 0
            j += 1
        _note(tally, "blocks_total")
        rec = _citi_block_tx(block, d, section)
        if rec:
            _note(tally, "blocks_kept")
            out.append(rec)
        i = j
    return out


def _citi_block_tx(block, date, section) -> Optional[Record]:
    """reference citi.py:159-200 (_process_block)."""
    if not block:
        return None
    full = " ".join(x.strip() for x in block if x).strip()
    if not full:
        return None
    if _citi_legal(full) or _citi_balance_block(full):
        return None
    if _citi_metadata(full):
        return None
    if section == "savings":
        parsed = _citi_savings_amounts(" ".join(block))
        if not parsed:
            return None
        if not parsed["desc"] or len(parsed["desc"]) < 3:
            return None
        return {
            "date": date,
            "description": parsed["desc"],
            "amount": parsed["amount"],
            "direction": parsed["direction"],
        }
    parsed = _citi_checking_amount(full)
    if parsed is None:
        return None
    if not parsed["desc"] or len(parsed["desc"]) < 3:
        return None
    return {
        "date": date,
        "description": parsed["desc"],
        "amount": abs(parsed["amount"]),
        "direction": _citi_direction(parsed["desc"], parsed["amount"]),
    }


# =====================================================================
# Bank of America "Relationship" layout (reference bofa_relationship.py)
#
# NOTE: the reference keeps this parser unregistered (its REGISTRY entry
# and detection patterns are commented out, __init__.py:26,43-48).  We
# implement it fully but, matching the reference, ``detect_issuer`` can
# never return it — it is reachable only via an explicit issuer
# override.
# =====================================================================

_REL_DATE_LINE_RE = re.compile(r"^\s*\d{1,2}/\d{1,2}/\d{2}\b")
_REL_HEADER_ROW_RE = re.compile(r"^\s*Date\s+Description\s+Amount\s*$", re.I)
_REL_SEC_DEPOSITS_RE = re.compile(r"\bDeposits and other credits\b", re.I)
_REL_SEC_WITHDRAWALS_RE = re.compile(r"\bWithdrawals and other debits\b", re.I)
_REL_SEC_TOTAL_RE = re.compile(r"^Total (deposits.*|withdrawals.*)$", re.I)
_REL_CONTINUED_RE = re.compile(r"continued on the next page", re.I)
_REL_SPLIT_AT_DATE_RE = re.compile(r"(?=(\d{1,2}/\d{1,2}/\d{2}\s))")
_REL_HAS_DATED_TAIL_RE = re.compile(r"\d{1,2}/\d{1,2}/\d{2}\s+\S")
_REL_LEAD_DATE_RE = re.compile(r"^\s*\d{1,2}/\d{1,2}/\d{2}\s+")
_REL_HEADER_YEAR_RE = re.compile(
    r"\b(?:for|to)\s+[A-Za-z]{3,9}\s+\d{1,2},\s*(\d{4})\b", re.I
)


def rel_header_year(full_text: str) -> Optional[int]:
    """Year from a 'for/to Month D, YYYY' statement-period header
    (reference bofa_relationship.py:173-181; SURVEY.md D19)."""
    m = _REL_HEADER_YEAR_RE.search(full_text or "")
    return int(m.group(1)) if m else None


def _rel_noise(line: str) -> bool:
    """reference bofa_relationship.py:94-108."""
    if not line:
        return True
    if _REL_HEADER_ROW_RE.match(line):
        return True
    if _REL_CONTINUED_RE.search(line):
        return True
    if line.startswith("Daily ledger balances"):
        return True
    if line.startswith("Important Messages"):
        return True
    if line.startswith("Your checking account"):
        return True
    return False


def _rel_split_glued(lines: List[str]) -> List[str]:
    """>220-char lines re-split at MM/DD/YY lookaheads
    (reference bofa_relationship.py:153-171)."""
    out: List[str] = []
    for ln in lines:
        if len(ln) > 220 and _REL_HAS_DATED_TAIL_RE.search(ln):
            acc = ""
            for part in _REL_SPLIT_AT_DATE_RE.split(ln):
                if _REL_DATE_LINE_RE.match(part.strip()):
                    if acc.strip():
                        out.append(acc.strip())
                    acc = part.strip()
                else:
                    acc += " " + part.strip()
            if acc.strip():
                out.append(acc.strip())
        else:
            out.append(ln)
    return out


def _rel_block_tx(block: List[str], date: str, section: str) -> Optional[Record]:
    """Last money lexeme = Amount column; magnitude only; the lexeme is
    also trimmed off the description tail
    (reference bofa_relationship.py:109-144 _block_to_tx)."""
    text = " ".join(block)
    wo_date = _REL_LEAD_DATE_RE.sub("", text).strip()
    toks = money_tokens(text)
    if not toks:
        return None
    last = toks[-1]
    bare = (
        last.replace("$", "").replace(",", "").replace("(", "")
        .replace(")", "").replace("-", "").strip()
    )
    try:
        amount = float(bare)
    except ValueError:
        return None
    desc = re.sub(re.escape(last) + r"\s*$", "", wo_date).strip()
    return {
        "date": date,
        "description": desc,
        "amount": amount,
        "direction": section,
    }


def parse_bofa_relationship(lines, year, tally=None) -> List[Record]:
    """reference bofa_relationship.py:31-90: section open/close state;
    blocks only parsed while inside a section."""
    work = _rel_split_glued(lines)
    out: List[Record] = []
    section: Optional[str] = None
    i, n = 0, len(work)
    while i < n:
        ln = work[i]
        if _REL_SEC_DEPOSITS_RE.search(ln):
            section = "in"
            i += 1
            continue
        if _REL_SEC_WITHDRAWALS_RE.search(ln):
            section = "out"
            i += 1
            continue
        if section and _REL_SEC_TOTAL_RE.search(ln):
            section = None
            i += 1
            continue
        if _rel_noise(ln):
            i += 1
            continue
        if section and _REL_DATE_LINE_RE.match(ln):
            date = (
                slash_date(ln, year)
                or long_date(ln)
                or mmm_date(ln, year)
            )
            block = [ln]
            i += 1
            while i < n:
                nxt = work[i]
                if (_REL_DATE_LINE_RE.match(nxt) or _REL_SEC_TOTAL_RE.search(nxt)
                        or _REL_SEC_DEPOSITS_RE.search(nxt)
                        or _REL_SEC_WITHDRAWALS_RE.search(nxt)):
                    break
                if not _rel_noise(nxt):
                    block.append(nxt)
                i += 1
            _note(tally, "blocks_total")
            rec = _rel_block_tx(block, date, section)
            if rec:
                _note(tally, "blocks_kept")
                out.append(rec)
            continue
        i += 1
    return out


# =====================================================================
# Registry & document entry point
# =====================================================================

# Issuers reachable via detection (reference __init__.py:16-28 REGISTRY).
PARSERS: Dict[str, Callable] = {
    "generic": parse_generic,
    "ifb": parse_ifb,
    "valley": parse_valley,
    "mercury": parse_mercury,
    "pnb": parse_pnb,
    "wf": parse_wf,
    "citi": parse_citi,
    "truist": parse_truist,
    "bofa": parse_bofa,
    "chase": parse_chase,
}

# Superset including the unregistered relationship layout (see note above).
ALL_PARSERS: Dict[str, Callable] = dict(PARSERS)
ALL_PARSERS["bofa_relationship"] = parse_bofa_relationship
