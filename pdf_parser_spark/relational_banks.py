"""Per-issuer relational parsers + the remaining SQL-expressible
operator showcases (SURVEY §2 rows not already covered by
relational.py) — same dialect-paired pattern, every query oracled.

Where the derived corpus lacks a trigger (section headers, long lines,
wire-fee lines, Month-name dates), the query injects it with a
deterministic in-plan transformation shared by both dialects, then the
REAL operator logic runs.  The truist/valley relational parsers are
additionally cross-checked against the Python engine in tests
(differential, SURVEY §5.3).
"""

from __future__ import annotations

from .relational import (
    DUCK, SPARK, AMOUNT_PATTERN, LEN, LET, ORD_CONCAT, PRINTF, REALL,
    REREPL, RLIKE, direction_case, lit, _signed_first_amount,
)
from .relational import with_lines as _with_lines


# a statement-period phrase ("march 3, 2024 through ..."): the Chase
# and Citi block gates drop the summary blocks that carry one
_MONTH_THROUGH = (r"\b(january|february|march|april|may|june|july|august"
                  r"|september|october|november|december)"
                  r"\s+\d{1,2},\s+\d{4}\s+through\s+")


def with_lines(body: str, d: str) -> str:
    """Every query here is a full parser (regex battery + doc_id
    windows): always take the anti-CollapseProject barrier — see
    relational.with_lines for the measured rationale."""
    return _with_lines(body, d, barrier=True)

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


def LAST_IGNULLS(col: str, order_by: str, part: str, d: str) -> str:
    """Carry-forward state: the window form of a mutable section
    variable (SURVEY §2.9)."""
    frame = ("PARTITION BY %s ORDER BY %s "
             "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
             % (part, order_by))
    if d == SPARK:
        return "last_value(%s) IGNORE NULLS OVER (%s)" % (col, frame)
    return "last_value(%s IGNORE NULLS) OVER (%s)" % (col, frame)


# ---------------------------------------------------------------------
# C9: section-context carry-forward
# ---------------------------------------------------------------------

_SECTION_HEADER = (
    "CASE WHEN line_no % 9 = 1 THEN "
    "(CASE WHEN (doc_id + line_no) % 2 = 0 "
    "THEN 'Deposits, credits and interest' "
    "ELSE 'Other withdrawals, debits and fees' END) ELSE line END"
)


def _sectioned_lines(d: str) -> str:
    """Derived lines with every 9th line replaced by a section header
    (the injection both engines compute identically)."""
    return ("sect_lines AS (SELECT doc_id, line_no, %s AS line "
            "FROM stmt_lines)" % _SECTION_HEADER)


def _truist_marker(d: str) -> str:
    return ("CASE WHEN %s THEN 'in' WHEN %s THEN 'out' ELSE NULL END"
            % (RLIKE("line", "(?i)Deposits.*credits", d),
               RLIKE("line", "(?i)(Other withdrawals|Debits|Service charges)",
                     d)))


@query("c9_section_window")
def q_section_window(d: str) -> str:
    """C9: per-line section state via last_value(IGNORE NULLS) — the
    window-function form of the reference's mutable current_section
    (truist.py:28-36 et al.)."""
    return with_lines("""
, {sect}
SELECT doc_id, line_no,
  {carry} AS section
FROM (SELECT doc_id, line_no, line, {marker} AS marker FROM sect_lines) t
""".format(sect=_sectioned_lines(d),
           carry=LAST_IGNULLS("marker", "line_no", "doc_id", d),
           marker=_truist_marker(d)), d)


# ---------------------------------------------------------------------
# Truist, fully relational (C7 + C9 + D2 + D6 + D7)
# ---------------------------------------------------------------------

@query("truist_relational")
def q_truist(d: str) -> str:
    """The COMPLETE Truist parser (truist.py:32-66) relationally:
    section window → date gate → first amount → strip-tail description
    → direction tiers (section > keywords > sign) → normalize."""
    toks = REALL("line", AMOUNT_PATTERN, d)
    date_pat = r"^\s*(\d{1,2})/(\d{1,2})(?:/(\d{2,4}))?\b"
    p = PRINTF(d)
    strip_tail = REREPL("line", r"\s*" + AMOUNT_PATTERN + r"\s*$", "", d)
    return with_lines("""
, {sect},
carried AS (
  SELECT doc_id, line_no, line,
    {carry} AS section
  FROM (SELECT doc_id, line_no, line, {marker} AS marker
        FROM sect_lines) t
),
dated AS (
  SELECT doc_id, line_no, line, section,
    regexp_extract(line, {dp}, 1) AS mm,
    regexp_extract(line, {dp}, 2) AS dd,
    regexp_extract(line, {dp}, 3) AS yy,
    {amt} AS amount,
    trim({strip_tail}) AS description
  FROM (SELECT doc_id, line_no, line, section, {toks} AS toks,
               {marker2} AS is_header
        FROM carried) x
  WHERE is_header IS NULL
),
parsed AS (
  SELECT doc_id, line_no,
    {p}('%04d-%02d-%02d',
        CASE WHEN yy = '' THEN 2024
             WHEN cast(yy as int) < 100 THEN 2000 + cast(yy as int)
             ELSE cast(yy as int) END,
        cast(mm as int), cast(dd as int)) AS date,
    description, abs(amount) AS amount,
    CASE WHEN section = 'in' THEN 'in'
         WHEN section = 'out' THEN 'out'
         WHEN {kw_out} THEN 'out'
         WHEN {kw_in} THEN 'in'
         WHEN amount < 0 THEN 'out'
         WHEN amount > 0 THEN 'in'
         ELSE 'unknown' END AS direction
  FROM dated WHERE mm <> '' AND amount IS NOT NULL
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY date, line_no)
       AS INT) - 1 AS tx_index,
  date, description, amount, direction
FROM parsed
""".format(sect=_sectioned_lines(d),
           carry=LAST_IGNULLS("marker", "line_no", "doc_id", d),
           marker=_truist_marker(d), marker2=_truist_marker(d),
           dp=lit(date_pat, d), toks=toks, p=p,
           amt=_signed_first_amount(d), strip_tail=strip_tail,
           kw_out=RLIKE("description",
                        "(?i)(zelle|payment to|iat|debit|withdrawal|ach"
                        "|bill pay)", d),
           kw_in=RLIKE("description",
                       r"(?i)(deposit|credit|interest|paypal\s+\d+)", d)), d)


# ---------------------------------------------------------------------
# Valley, fully relational (F13 long-line cutoff + sign direction)
# ---------------------------------------------------------------------

@query("valley_relational")
def q_valley(d: str) -> str:
    """The COMPLETE Valley parser (valley.py:6-41) relationally: slash
    dates only, blocks cut at a >250-char line BEFORE absorbing it
    (F13 — running long-line counter inside the block), first amount,
    sign-based direction, abs amount.  Long lines injected in-plan."""
    p = PRINTF(d)
    toks = REALL("block_text", AMOUNT_PATTERN, d)
    date_pat = r"^\s*(\d{1,2})/(\d{1,2})(?:/(\d{2,4}))?\b"
    return with_lines("""
, long_lines AS (
  SELECT doc_id, line_no,
    CASE WHEN line_no % 23 = 7 THEN line || repeat('x', 260)
         ELSE line END AS line
  FROM stmt_lines
),
marked AS (
  SELECT doc_id, line_no, line,
    CASE WHEN {isdate} THEN 1 ELSE 0 END AS is_date,
    CASE WHEN length(line) > 250 THEN 1 ELSE 0 END AS is_long
  FROM long_lines
),
blocked AS (
  SELECT doc_id, line_no, line, is_date, is_long,
    SUM(is_date) OVER (PARTITION BY doc_id ORDER BY line_no
                       ROWS UNBOUNDED PRECEDING) AS block_id,
    SUM(is_long) OVER (PARTITION BY doc_id ORDER BY line_no
                       ROWS UNBOUNDED PRECEDING) AS cum_long
  FROM marked
),
kept AS (
  -- a line survives while no long line has appeared in its block
  -- since the opening date line (which itself never breaks, even if
  -- long — the reference appends the date line before checking)
  SELECT b.doc_id, b.line_no, b.line, b.block_id
  FROM blocked b JOIN (
    SELECT doc_id, block_id, MIN(cum_long) AS base_long
    FROM blocked WHERE is_date = 1 GROUP BY doc_id, block_id
  ) h ON b.doc_id = h.doc_id AND b.block_id = h.block_id
  WHERE b.block_id > 0 AND b.cum_long = h.base_long
),
blocks AS (
  SELECT doc_id, block_id, {cat} AS block_text
  FROM kept GROUP BY doc_id, block_id
),
parsed AS (
  SELECT doc_id, block_id,
    {p}('%04d-%02d-%02d',
        CASE WHEN regexp_extract(block_text, {dp}, 3) = '' THEN 2024
             WHEN cast(regexp_extract(block_text, {dp}, 3) as int) < 100
             THEN 2000 + cast(regexp_extract(block_text, {dp}, 3) as int)
             ELSE cast(regexp_extract(block_text, {dp}, 3) as int) END,
        cast(regexp_extract(block_text, {dp}, 1) as int),
        cast(regexp_extract(block_text, {dp}, 2) as int)) AS date,
    trim({strip_tail}) AS description,
    {amt} AS amount
  FROM (SELECT doc_id, block_id, block_text, {toks} AS toks
        FROM blocks) x
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY date, block_id)
       AS INT) - 1 AS tx_index,
  date, description, abs(amount) AS amount,
  CASE WHEN amount < 0 THEN 'out' ELSE 'in' END AS direction
FROM parsed WHERE amount IS NOT NULL
""".format(isdate=RLIKE("line", r"^\s*\d{1,2}/\d{1,2}(/\d{2,4})?\b", d),
           cat=ORD_CONCAT("line", " ", "line_no", d),
           p=p, dp=lit(date_pat, d), toks=toks,
           strip_tail=REREPL("block_text",
                             r"\s*" + AMOUNT_PATTERN + r"\s*$", "", d),
           amt=_signed_first_amount(d)), d)


# ---------------------------------------------------------------------
# F-family: noise/validity predicate battery (F1/F4/F11/F13/F16 shapes)
# ---------------------------------------------------------------------

@query("f_noise_battery")
def q_noise_battery(d: str) -> str:
    """Per-line boolean noise predicates, one column per filter family:
    standalone-$ lines (chase F1), ≥12-digit account lines, BofA
    date+amount balance rows (F4), WF <10-char gate (F11), Valley
    >250-char cutoff (F13)."""
    def b(expr):
        return "CAST(CASE WHEN %s THEN 1 ELSE 0 END AS INT)" % expr
    return with_lines("""
SELECT doc_id, line_no,
  {f1} AS f1_standalone_amount,
  {f1b} AS f1_long_digits,
  {f4} AS f4_balance_row,
  {f11} AS f11_too_short,
  {f13} AS f13_mega_line
FROM stmt_lines
""".format(
        f1=b(RLIKE("line", r"^\s*\$[\d,]+\.\d{2}\s*$", d)),
        f1b=b(RLIKE("line", r"^\s*\d{12,}\s*$", d)),
        f4=b(RLIKE("line", r"^\s*\d{1,2}/\d{1,2}\s+[\d,]+\.\d{2}\s*$", d)),
        f11=b("length(trim(line)) < 10"),
        f13=b("length(line) > 250")), d)


# ---------------------------------------------------------------------
# D8: chase description cleaning chain
# ---------------------------------------------------------------------

@query("d8_clean_description")
def q_clean_desc(d: str) -> str:
    """Chase _clean_description (chase.py:219-230): strip all money
    lexemes and M/D tokens, drop header phrases, normalize Trn:/Ssn:
    casing, squeeze spaces, uppercase first char."""
    c = "line"
    c = REREPL(c, AMOUNT_PATTERN, "", d)
    c = REREPL(c, r"\b\d{1,2}/\d{1,2}\b", "", d)
    c = REREPL(c, r"(?i)\bDAILY ENDING BALANCE\b", "", d)
    c = REREPL(c, r"(?i)\btrn:\s*", " Trn: ", d)
    c = REREPL(c, r"(?i)\bssn:\s*", " Ssn: ", d)
    c = "trim(%s)" % REREPL(c, r"\s+", " ", d)
    return with_lines("""
SELECT doc_id, line_no,
  CASE WHEN cleaned = '' THEN cleaned
       ELSE upper(substring(cleaned, 1, 1)) || substring(cleaned, 2)
  END AS description
FROM (SELECT doc_id, line_no, {c} AS cleaned FROM stmt_lines) t
""".format(c=c), d)


# ---------------------------------------------------------------------
# D13: chase amount selection ($-priority max, phone-context exclusion)
# ---------------------------------------------------------------------

@query("d13_chase_amount")
def q_chase_amount(d: str) -> str:
    """Chase block-amount rule (chase.py:186-215): among a block's
    money lexemes, prefer $-prefixed tokens, then take max by signed
    value (negative iff '-' anywhere or leading paren); lexemes whose
    digit-string appears inside a phone-number context are excluded —
    expressed with max_by over an exploded token table."""
    toks = REALL("line", AMOUNT_PATTERN, d)
    # reference chase.py:187-194 quirk, kept faithfully: clean_to_float
    # strips $,() but NOT '-', so a leading-minus token parses negative
    # and the explicit negation flips it POSITIVE (-(-477.09) = 477.09);
    # stripping '-' here "fixed" the quirk and diverged from the engine
    # (found by tools/fuzz_relational.py)
    signed = ("CASE WHEN tok LIKE '%-%' OR tok LIKE '(%' "
              "THEN -cast({bare} as double) "
              "ELSE cast({bare} as double) END").format(
                  bare=REREPL("tok", r"[\(\)\$,]", "", d))
    has_phone = RLIKE("line", r"\d{3}[-.\s]\d{3}[-.\s]\d{4}", d)
    digits = "replace(replace(tok, ',', ''), '.', '')"
    if d == SPARK:
        expl = ("SELECT doc_id, line_no, line, tok FROM "
                "(SELECT doc_id, line_no, line, {t} AS toks "
                "FROM stmt_lines) x LATERAL VIEW explode(toks) e AS tok"
                .format(t=toks))
    else:
        expl = ("SELECT doc_id, line_no, line, unnest(toks) AS tok FROM "
                "(SELECT doc_id, line_no, line, {t} AS toks "
                "FROM stmt_lines) x".format(t=toks))
    return with_lines("""
, toks AS ({expl}),
vals AS (
  SELECT doc_id, line_no, tok, {signed} AS val,
    CASE WHEN tok LIKE '%$%' THEN 1 ELSE 0 END AS has_dollar
  FROM toks
  WHERE NOT ({has_phone} AND instr(line, {digits}) > 0)
)
SELECT doc_id, line_no,
  coalesce(max(val) FILTER (WHERE has_dollar = 1), max(val)) AS amount
FROM vals GROUP BY doc_id, line_no
""".format(expl=expl, signed=signed, has_phone=has_phone,
           digits=digits), d)


# ---------------------------------------------------------------------
# C11: wire-fee multi-emit (one output row per amount on the line)
# ---------------------------------------------------------------------

@query("c11_wire_fee_multiemit")
def q_wire_fee(d: str) -> str:
    """BofA wire-fee explode (bofa.py:46-65): a line carrying the
    wire-transfer-fee phrase emits ONE transaction per money lexeme
    with magnitude > 0.01 — the flatMap-shaped operator, native via
    explode.  Phrase injected in-plan on every 19th line."""
    toks = REALL("line", AMOUNT_PATTERN, d)
    bare = "cast(%s as double)" % REREPL("tok", r"[\(\)\-\$,]", "", d)
    if d == SPARK:
        expl = ("SELECT doc_id, line_no, tok FROM wired "
                "LATERAL VIEW explode({t}) e AS tok".format(t=toks))
    else:
        expl = ("SELECT doc_id, line_no, unnest({t}) AS tok FROM wired"
                .format(t=toks))
    return with_lines("""
, wired AS (
  SELECT doc_id, line_no,
    CASE WHEN line_no % 19 = 4
         THEN 'Wire Transfer Fee ' || line ELSE line END AS line
  FROM stmt_lines
  WHERE line_no % 19 = 4
),
toks AS ({expl})
SELECT doc_id, line_no, 'Wire Transfer Fee' AS description,
  {bare} AS amount, 'out' AS direction
FROM toks WHERE {bare} > 0.01
""".format(expl=expl, bare=bare), d)


# ---------------------------------------------------------------------
# D3/D4/D5: remaining date lexers + year detection
# ---------------------------------------------------------------------

_MONTH_CASE = (
    "CASE lower(mon) WHEN 'january' THEN 1 WHEN 'february' THEN 2 "
    "WHEN 'march' THEN 3 WHEN 'april' THEN 4 WHEN 'may' THEN 5 "
    "WHEN 'june' THEN 6 WHEN 'july' THEN 7 WHEN 'august' THEN 8 "
    "WHEN 'september' THEN 9 WHEN 'october' THEN 10 "
    "WHEN 'november' THEN 11 WHEN 'december' THEN 12 "
    "WHEN 'jan' THEN 1 WHEN 'feb' THEN 2 WHEN 'mar' THEN 3 "
    "WHEN 'apr' THEN 4 WHEN 'jun' THEN 6 WHEN 'jul' THEN 7 "
    "WHEN 'aug' THEN 8 WHEN 'sep' THEN 9 WHEN 'sept' THEN 9 "
    "WHEN 'oct' THEN 10 WHEN 'nov' THEN 11 WHEN 'dec' THEN 12 "
    "ELSE NULL END"
)


@query("d3_d4_d5_dates")
def q_other_dates(d: str) -> str:
    """D3 parse_long_date ('Month D, YYYY' anywhere), D4 parse_mmmdd
    (anchored 'Mmm D' + inferred year), D5 detect_year (first 20\\d{2}
    else deterministic fallback) — long/Mmm tokens injected in-plan
    (documents are ~9 lines, so injection moduli must be < 9)."""
    p = PRINTF(d)
    longp = r"\b([A-Za-z]{3,9})\s+(\d{1,2}),\s*(\d{4})\b"
    mmmp = r"^\s*((?i:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Sept|Oct|Nov|Dec))\s+(\d{1,2})\b"
    return with_lines("""
, dated AS (
  SELECT doc_id, line_no,
    CASE WHEN line_no % 7 = 1 THEN 'March 5, 2024 ' || line
         WHEN line_no % 7 = 3 THEN 'Feb 7 ' || line
         ELSE line END AS line
  FROM stmt_lines
),
extracted AS (
  SELECT doc_id, line_no, line,
    regexp_extract(line, {longp}, 1) AS lmon,
    regexp_extract(line, {longp}, 2) AS lday,
    regexp_extract(line, {longp}, 3) AS lyear,
    regexp_extract(line, {mmmp}, 1) AS mmon,
    regexp_extract(line, {mmmp}, 2) AS mday,
    coalesce(nullif(regexp_extract(line, {yearp}, 1), ''), '2024')
      AS detected_year
  FROM dated
)
SELECT doc_id, line_no,
  CASE WHEN lmon <> '' AND {lmonth} IS NOT NULL
       THEN {p}('%04d-%02d-%02d', cast(lyear as int), {lmonth},
                cast(lday as int)) END AS long_date,
  CASE WHEN mmon <> '' AND {mmonth} IS NOT NULL
       THEN {p}('%04d-%02d-%02d', cast(detected_year as int), {mmonth},
                cast(mday as int)) END AS mmm_date,
  cast(detected_year as int) AS year_of_doc
FROM extracted
""".format(longp=lit(longp, d), mmmp=lit(mmmp, d),
           yearp=lit(r"\b(20\d{2})\b", d), p=p,
           lmonth=_MONTH_CASE.replace("mon", "lmon"),
           mmonth=_MONTH_CASE.replace("mon", "mmon")), d)


# ---------------------------------------------------------------------
# §2.8 set operations
# ---------------------------------------------------------------------

@query("set_union_except")
def q_set_ops(d: str) -> str:
    """§2.8: UNION ALL to combine per-branch results + EXCEPT ALL as
    the golden-diff utility — pending lines = all lines minus the
    already-processed subset (multiset semantics)."""
    return with_lines("""
SELECT doc_id, line_no FROM stmt_lines
EXCEPT ALL
SELECT doc_id, line_no FROM stmt_lines WHERE doc_id % 3 = 0
""", d)


# ---------------------------------------------------------------------
# Chase, fully relational — the hardest state machine (G2 + C3 + C9 +
# C10 + D8 + D13 + F1/F2/F3) as windows + ordered CASE chains.
# ---------------------------------------------------------------------

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
    "llámenos al", "call us at", "en caso de errores",
    "in case of errors", "prepárese", "prepare to provide",
)
_CHASE_LEGAL_BLOCK = (
    "llámenos al 1-866-564-2262", "call us at 1-866-564-2262",
    "en caso de errores o preguntas", "in case of errors or questions",
    "prepárese para proporcionarnos", "be prepared to give us",
)
_CHASE_TX_WORDS = ("payment", "deposit", "transfer", "purchase",
                   "withdrawal", "fee")


def _contains_any(col: str, phrases) -> str:
    return "(" + " OR ".join(
        "instr(%s, '%s') > 0" % (col, p.replace("'", "''"))
        for p in phrases) + ")"


def _mindesc_sql(d: str) -> str:
    """F14 min-description gate, LET-bound so the WHERE holds ONE
    reference to the description expression instead of two (after
    filter pushdown each reference inlines the full cleaning chain —
    see relational.LET)."""
    return LET("description", lambda v:
               "%s <> '' AND length(%s) >= 3" % (v, v), d, var="_f")


def _chase_noise_sql(low: str, line: str, d: str) -> str:
    """F1 chase basic noise (chase.py:94-118)."""
    prefixes = " OR ".join(
        "%s LIKE '%s%%'" % (low, p.replace("'", "''"))
        for p in _CHASE_NOISE_PREFIXES)
    return ("(instr({low}, '*start*') > 0 OR instr({low}, '*end*') > 0 "
            "OR {prefixes} "
            "OR {amt_row} OR {digits_row} "
            "OR {low} LIKE 'en caso de errores%' "
            "OR {low} LIKE 'in case of errors%')").format(
        low=low, prefixes=prefixes,
        amt_row=RLIKE(line, r"^\s*\$[\d,]+\.\d{2}\s*$", d),
        digits_row=RLIKE(line, r"^\s*\d{12,}\s*$", d))


def _chase_section_sql(low: str) -> str:
    """Chase bilingual section detector (chase.py:70-89)."""
    return """CASE
  WHEN {dep} THEN 'deposits'
  WHEN {wdr} THEN 'withdrawals'
  WHEN {low} IN ('cargos', 'charges') THEN 'fees'
  WHEN {atm} THEN 'withdrawals'
  ELSE NULL END""".format(
        low=low,
        dep=_contains_any(low, ("depósitos y adiciones",
                                "deposits and additions")),
        wdr=_contains_any(low, ("retiros electrónicos",
                                "electronic withdrawals",
                                "retiros electrã³nicos")),
        atm=_contains_any(low, ("atm & debit card withdrawals",
                                "atm and debit card withdrawals",
                                "card purchases")))


def chase_clean_sql(col: str, d: str) -> str:
    """D8 chase description-cleaning chain as one nested expression
    (chase.py:219-230)."""
    c = col
    c = REREPL(c, AMOUNT_PATTERN, "", d)
    c = REREPL(c, r"\b\d{1,2}/\d{1,2}\b", "", d)
    c = REREPL(c, r"(?i)\bDAILY ENDING BALANCE\b", "", d)
    c = REREPL(c, r"(?i)\bFECHA\s+CANTIDAD\b", "", d)
    c = REREPL(c, r"(?i)\bDATE\s+AMOUNT\b", "", d)
    c = REREPL(c, r"(?i)\btrn:\s*", " Trn: ", d)
    c = REREPL(c, r"(?i)\bssn:\s*", " Ssn: ", d)
    c = "trim(%s)" % REREPL(c, r"\s+", " ", d)
    # capitalize-first via LET: the naive CASE references the whole
    # 8-regexp chain 3x in TEXT, which the optimizer multiplies again
    # (plan-size blowup — see relational.LET)
    return LET(c, lambda v: (
        "CASE WHEN %s = '' THEN '' ELSE upper(substring(%s, 1, 1)) "
        "|| substring(%s, 2) END" % (v, v, v)), d, var="_cd")


def _chase_direction_sql(desc: str, section: str, amount: str, d: str) -> str:
    """C3 chase direction tiers (chase.py:234-258).

    The lowered description is LET-bound: the tier battery references
    it ~15x, and each textual copy would otherwise carry the whole
    upstream cleaning chain after optimizer substitution (see
    relational.LET)."""
    return LET("lower(%s)" % desc,
               lambda v: _chase_direction_tiers(v, section, amount, d),
               d, var="_dl")


def _chase_direction_tiers(dl: str, section: str, amount: str,
                           d: str) -> str:
    return """CASE
  WHEN {rev} THEN 'in'
  WHEN {fee} THEN 'out'
  WHEN {dep} THEN 'in'
  WHEN {card} THEN 'out'
  WHEN (instr({dl}, 'wise us inc') > 0
        OR instr(' ' || {dl} || ' ', ' trnwise ') > 0
        OR {wise}) THEN 'out'
  WHEN {payto} THEN 'out'
  WHEN {camara} THEN 'out'
  WHEN {sec} = 'deposits' THEN 'in'
  WHEN {sec} IN ('withdrawals', 'fees') THEN 'out'
  WHEN {amt} > 0 THEN 'in' ELSE 'out' END""".format(
        dl=dl, sec=section, amt=amount,
        rev=RLIKE(dl, r"\b(reversal|reversi[oó]n)\b", d),
        fee=_contains_any(dl, (" fee", "charge", "cargo", "comisión",
                               "service charge")),
        dep=RLIKE(dl, r"\b(deposit|credit|incoming|ach credit|wire credit"
                      r"|zelle payment from)\b", d),
        card=_contains_any(dl, ("card purchase", "compra con tarjeta",
                                "recurring card purchase")),
        wise=RLIKE(dl, r"\bwise\b", d),
        payto=_contains_any(dl, ("payment to", "zelle payment to",
                                 "online payment", "transferencia a",
                                 "wire transfer",
                                 "online domestic wire transfer",
                                 "online international wire transfer")),
        camara=RLIKE(dl, r"d[eé]bito de c[aá]mara", d))


# the chase-flavored in-plan injections (documents are ≤9 lines: all
# moduli chosen to fire within line_no 0..8)
CHASE_INJECT_SQL = """CASE
  WHEN line_no % 9 = 1 THEN
    CASE (doc_id + line_no) % 3
      WHEN 0 THEN 'Depósitos y adiciones'
      WHEN 1 THEN 'Electronic Withdrawals'
      ELSE 'Cargos' END
  WHEN line_no % 7 = 5 THEN 'Page 3 of 9'
  WHEN line_no % 7 = 6 THEN 'Account Number: 000123456789'
  WHEN line_no % 9 = 4
    THEN 'Please call us at 1-866-564-2262 for assistance'
  WHEN line_no % 9 = 7 THEN line || ' daily ending balance summary'
  WHEN line_no % 9 = 8 THEN line || ' support 866.800.4656'
  ELSE line END"""


def chase_inject_py(doc_id: int, line_no: int, line: str) -> str:
    """The same injection in Python (for the engine differential)."""
    if line_no % 9 == 1:
        return ["Depósitos y adiciones", "Electronic Withdrawals",
                "Cargos"][(doc_id + line_no) % 3]
    if line_no % 7 == 5:
        return "Page 3 of 9"
    if line_no % 7 == 6:
        return "Account Number: 000123456789"
    if line_no % 9 == 4:
        return "Please call us at 1-866-564-2262 for assistance"
    if line_no % 9 == 7:
        return line + " daily ending balance summary"
    if line_no % 9 == 8:
        return line + " support 866.800.4656"
    return line


def _chase_block_ctes(d: str) -> tuple:
    """(blocks-CTE chain, gated-FROM source, opener gate) for the chase
    query.  DuckDB keeps the original openers⨝blocks join (frozen
    oracle text).  Spark folds the opener's date/section INTO the
    blocks aggregation: the grp counter increments exactly at date or
    section lines, so a group's FIRST line is its only possible
    is_date=1 row — MAX(CASE WHEN is_date…) is the opener value, and
    opener-less groups (section-started or noisy-date-cut) surface as
    NULL block_date and die at the gate exactly as they died at the
    inner join.  Halves the plan: both join sides re-derived the whole
    stmt_lines→classification pipeline under Catalyst CTE inlining
    (plans/r06/chase_relational_before.txt: 4 corpus scans)."""
    ordcat = ORD_CONCAT("line", " ", "line_no", d)
    if d == SPARK:
        chain = """runs AS (
  SELECT doc_id, grp, line_no, line, is_date, is_noise, is_sec,
    date_iso, section_ctx,
    CASE WHEN is_noise = 1
          AND coalesce(LAG(is_noise) OVER (PARTITION BY doc_id, grp
                                           ORDER BY line_no), 0) = 1
         THEN 1 ELSE 0 END AS pair_flag
  FROM grouped
),
members AS (
  SELECT r.doc_id, r.grp, r.line_no, r.line, r.is_date, r.date_iso,
         r.section_ctx
  FROM (SELECT *, SUM(pair_flag) OVER (PARTITION BY doc_id, grp
                                       ORDER BY line_no
                                       ROWS UNBOUNDED PRECEDING) AS stops
        FROM runs) r
  WHERE r.stops = 0
    AND (r.is_date = 1 OR (r.is_noise = 0 AND r.is_sec = 0))
),
blocks AS (
  SELECT m.doc_id, m.grp, {ordcat} AS body,
    MAX(CASE WHEN m.is_date = 1 THEN m.date_iso END) AS block_date,
    MAX(CASE WHEN m.is_date = 1
             THEN coalesce(m.section_ctx, '') END) AS block_section
  FROM members m GROUP BY m.doc_id, m.grp
)""".format(ordcat=ordcat)
        head = ("SELECT b.doc_id, b.grp, b.block_date, "
                "b.block_section, b.body\n  FROM blocks b")
        return chain, head, "b.block_date IS NOT NULL AND "
    chain = """openers AS (
  SELECT doc_id, grp, date_iso AS block_date,
    coalesce(section_ctx, '') AS block_section
  FROM grouped WHERE is_date = 1
),
runs AS (
  SELECT doc_id, grp, line_no, line, is_date, is_noise, is_sec,
    CASE WHEN is_noise = 1
          AND coalesce(LAG(is_noise) OVER (PARTITION BY doc_id, grp
                                           ORDER BY line_no), 0) = 1
         THEN 1 ELSE 0 END AS pair_flag
  FROM grouped
),
members AS (
  SELECT r.doc_id, r.grp, r.line_no, r.line
  FROM (SELECT *, SUM(pair_flag) OVER (PARTITION BY doc_id, grp
                                       ORDER BY line_no
                                       ROWS UNBOUNDED PRECEDING) AS stops
        FROM runs) r
  WHERE r.stops = 0
    AND (r.is_date = 1 OR (r.is_noise = 0 AND r.is_sec = 0))
),
blocks AS (
  SELECT m.doc_id, m.grp, {ordcat} AS body
  FROM members m GROUP BY m.doc_id, m.grp
)""".format(ordcat=ordcat)
    head = ("SELECT b.doc_id, b.grp, o.block_date, o.block_section,"
            " b.body\n  FROM blocks b JOIN openers o\n"
            "    ON b.doc_id = o.doc_id AND b.grp = o.grp")
    return chain, head, ""


@query("chase_relational")
def q_chase(d: str) -> str:
    """The COMPLETE Chase parser (chase.py:16-68) as one relational
    plan: section/noise/date three-way line classification (C10 date
    gate with legal-marker suppression), block opening via running sum
    over date+section markers, the two-consecutive-noise stop as a
    windowed pair flag (G2), order-preserving block assembly, F2/F3
    block filters, $-priority max-by amount with phone exclusion
    (D13), description cleaning (D8), direction tiers with carried
    section context (C3+C9), stable per-doc sort (G6).  Cross-checked
    against the Python engine on identical inputs."""
    dp = lit(r"^(\d{1,2})/(\d{1,2})(\s|$)", d)
    p = PRINTF(d)
    ordcat = ORD_CONCAT("line", " ", "line_no", d)
    toks = REALL("body", AMOUNT_PATTERN, d)
    _chase_blocks, _chase_gate_head, _chase_opener_gate = \
        _chase_block_ctes(d)

    # reference chase.py:187-194 quirk, kept faithfully: clean_to_float
    # strips $,() but NOT '-', so a leading-minus token parses negative
    # and the explicit negation flips it POSITIVE (-(-477.09) = 477.09);
    # stripping '-' here "fixed" the quirk and diverged from the engine
    # (found by tools/fuzz_relational.py)
    def signed(t):
        return ("CASE WHEN {t} LIKE '%-%' OR {t} LIKE '(%' "
                "THEN -cast({bare} as double) "
                "ELSE cast({bare} as double) END").format(
                    t=t, bare=REREPL(t, r"[\(\)\$,]", "", d))

    # D13 amount, fully IN-ARRAY: the old explode → filter → group-by
    # MAX → join-back re-instantiated the whole gated subtree (CTE
    # inlining) and paid a shuffle for a per-block reduction whose
    # input already sits in one array.  filter/transform/array_max
    # over the token array is the same math with zero extra shuffles;
    # blocks (not tokens) stay the unit of parallelism at any scale.
    phone = RLIKE("body", r"\d{3}[-.\s]\d{3}[-.\s]\d{4}", d)
    keep = ("NOT ({phone} AND instr(body, "
            "replace(replace({t}, ',', ''), '.', '')) > 0)")
    if d == SPARK:
        kept = "filter(%s, _t -> %s)" % (
            toks, keep.format(t="_t", phone=phone))
        amount = LET(kept, lambda a: (
            "coalesce("
            "array_max(transform(filter({a}, _t -> _t LIKE '%$%'), "
            "_t -> {sv})), "
            "array_max(transform({a}, _t -> {sv})))").format(
                a=a, sv=signed("_t")), d, var="_ka")
    else:
        kept = "[_t for _t in %s if %s]" % (
            toks, keep.format(t="_t", phone=phone))
        amount = LET(kept, lambda a: (
            "coalesce("
            "list_max([{sv} for _t in {a} if _t LIKE '%$%']), "
            "list_max([{sv} for _t in {a}]))").format(
                a=a, sv=signed("_t")), d, var="_ka")
    return with_lines("""
, chased AS (
  SELECT doc_id, line_no, {inject} AS line FROM stmt_lines
),
classed AS (
  SELECT doc_id, line_no, line, low,
    {section} AS sec_marker,
    CASE WHEN {noise} THEN 1 ELSE 0 END AS is_noise,
    CASE WHEN NOT {legal_marker}
              AND try_cast(regexp_extract(trim(line), {dp}, 1) as int)
                  BETWEEN 1 AND 12
              AND try_cast(regexp_extract(trim(line), {dp}, 2) as int)
                  BETWEEN 1 AND 31
         THEN {p}('%04d-%02d-%02d', 2024,
                  try_cast(regexp_extract(trim(line), {dp}, 1) as int),
                  try_cast(regexp_extract(trim(line), {dp}, 2) as int))
         ELSE NULL END AS date_iso
  FROM (SELECT doc_id, line_no, line, lower(trim(line)) AS low
        FROM chased) t
),
flagged AS (
  SELECT doc_id, line_no, line, date_iso, sec_marker,
    CASE WHEN sec_marker IS NOT NULL THEN 1 ELSE 0 END AS is_sec,
    CASE WHEN sec_marker IS NOT NULL THEN 0 ELSE is_noise END
      AS is_noise,
    CASE WHEN sec_marker IS NULL AND is_noise = 0
              AND date_iso IS NOT NULL THEN 1 ELSE 0 END AS is_date
  FROM classed
),
grouped AS (
  -- boundary on the RAW date (even when the line is also noise): the
  -- engine's gather loop breaks on dates[j] BEFORE checking noise, so
  -- a noisy date line terminates the open block yet cannot OPEN one
  -- (openers require is_date=1, i.e. date AND NOT noise) — groups cut
  -- by a noisy date have no opener and die at the inner join, exactly
  -- like the engine's skipped tail (tools/fuzz_relational.py)
  SELECT doc_id, line_no, line, date_iso, is_sec, is_noise, is_date,
    SUM(CASE WHEN date_iso IS NOT NULL OR is_sec = 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY line_no
            ROWS UNBOUNDED PRECEDING) AS grp,
    {carry} AS section_ctx
  FROM flagged
),
{chase_blocks},
gated AS (
  {chase_gate_head}
  WHERE {chase_opener_gate}NOT ({legal_block}
             OR (length(b.body) > 500 AND {hotline}))
    AND NOT (instr(lower(b.body), 'daily ending balance') > 0
             OR ({month_through} AND NOT {tx_words}))
),
emitted AS (
  -- $-priority max (D13) computed in-array over the block's token
  -- list: no explode, no group-by shuffle, no join-back
  SELECT doc_id, grp, block_date AS date,
    {clean} AS description, amount, block_section
  FROM (SELECT g.*, {amount} AS amount FROM gated g) t
  WHERE amount IS NOT NULL
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY date, grp)
       AS INT) - 1 AS tx_index,
  date, description, abs(amount) AS amount,
  {direction} AS direction
FROM emitted
WHERE {mindesc}
""".format(inject=CHASE_INJECT_SQL,
           mindesc=_mindesc_sql(d),
           section=_chase_section_sql("low"),
           noise=_chase_noise_sql("low", "line", d),
           legal_marker=_contains_any("low", _CHASE_LEGAL_MARKERS),
           dp=dp, p=p,
           carry=LAST_IGNULLS("sec_marker", "line_no", "doc_id", d),
           chase_blocks=_chase_blocks,
           chase_gate_head=_chase_gate_head,
           chase_opener_gate=_chase_opener_gate,
           legal_block=_contains_any("lower(b.body)", _CHASE_LEGAL_BLOCK),
           hotline=RLIKE("b.body", r"1-\d{3}-\d{3}-\d{4}", d),
           month_through=RLIKE("lower(b.body)", _MONTH_THROUGH, d),
           tx_words=_contains_any("lower(b.body)", _CHASE_TX_WORDS),
           amount=amount,
           clean=chase_clean_sql("body", d),
           direction=_chase_direction_sql(
               "description", "block_section", "amount", d)), d)


# ---------------------------------------------------------------------
# BofA, fully relational — single-line txs with a daily-balance skip
# state (two carry-forward windows) + wire-fee multi-emit (C4, C11,
# D14, F4-F6).
# ---------------------------------------------------------------------

_BOFA_EXACT_NOISE = (
    "bank of america", "your checking account", "account summary",
    "deposits and other credits", "withdrawals and other debits",
    "service fees", "daily ledger balances", "preferred rewards",
    "important information", "customer service",
    "date description amount", "total deposits", "total withdrawals",
    "total service fees", "beginning balance", "ending balance",
    "average ledger", "business advantage", "this page intentionally",
)
_BOFA_HDR_PHRASES = (
    "this page intentionally left blank", "your checking account",
    "business advantage relationship", "business advantage fundamentals",
    "preferred rewards for bus", "account summary",
    "important information", "daily ledger balances",
)
_BOFA_TX_WORDS = (
    "wire type:", "online banking", "zelle", "transfer", "payment",
    "checkcard", "purchase", "fee", "deposit", "withdrawal", "ca tlr",
    "bkofamerica",
)

BOFA_INJECT_SQL = """CASE
  WHEN line_no % 9 = 1 THEN
    CASE (doc_id + line_no) % 2
      WHEN 0 THEN 'Deposits and other additions'
      ELSE 'Withdrawals and other debits' END
  WHEN line_no % 9 = 7 THEN 'Daily ledger balances'
  WHEN line_no % 9 = 5 THEN {p}('%02d/%02d/24 Wire Transfer Fee 30.00 16.00',
                                (doc_id + line_no) % 12 + 1,
                                (doc_id * 5 + line_no) % 28 + 1)
  WHEN line_no % 3 = 0 THEN {p}('%02d/%02d/24 ',
                                (doc_id + line_no) % 12 + 1,
                                (doc_id * 5 + line_no) % 28 + 1) || line
  ELSE line END"""


def bofa_inject_py(doc_id: int, line_no: int, line: str) -> str:
    if line_no % 9 == 1:
        return ("Deposits and other additions"
                if (doc_id + line_no) % 2 == 0
                else "Withdrawals and other debits")
    if line_no % 9 == 7:
        return "Daily ledger balances"
    if line_no % 9 == 5:
        return "%02d/%02d/24 Wire Transfer Fee 30.00 16.00" % (
            (doc_id + line_no) % 12 + 1, (doc_id * 5 + line_no) % 28 + 1)
    if line_no % 3 == 0:
        return "%02d/%02d/24 %s" % (
            (doc_id + line_no) % 12 + 1, (doc_id * 5 + line_no) % 28 + 1,
            line)
    return line


def _bofa_section_sql(low: str) -> str:
    return """CASE
  WHEN {dep} THEN 'deposits'
  WHEN {wdr} THEN 'withdrawals'
  WHEN instr({low}, 'atm and debit card subtractions') > 0
    THEN 'withdrawals'
  WHEN instr({low}, 'service fees') > 0 THEN 'withdrawals'
  ELSE NULL END""".format(
        low=low,
        dep=_contains_any(low, ("deposits and other additions",
                                "deposits and other credits")),
        wdr=_contains_any(low, ("withdrawals and other debits",
                                "other subtractions")))


def _bofa_noise_sql(low: str, line: str, d: str) -> str:
    exacts = " OR ".join(
        "(trim({low}) = '{p}' OR trim({low}) LIKE '{p} %')".format(
            low=low, p=p) for p in _BOFA_EXACT_NOISE)
    return ("({exacts} OR {page} OR (instr({low}, 'continued on') > 0 "
            "AND instr({low}, 'next page') > 0) OR {colhdr} OR {bal1} "
            "OR {bal2})").format(
        exacts=exacts, low=low,
        page=RLIKE(low, r"^\s*page\s+\d+\s+of\s+\d+\s*$", d),
        colhdr=RLIKE(low, r"^\s*date\s+description\s+amount\s*$", d),
        bal1=RLIKE(line, r"^\s*\d{1,2}/\d{1,2}\s+[\d,]+\.\d{2}\s*$", d),
        bal2=RLIKE(line, r"^\s*\d{1,2}/\d{1,2}\s+[\d,]+\.\d{2}\s+"
                         r"\d{1,2}/\d{1,2}", d))


def _bofa_direction_sql(desc: str, section: str, d: str) -> str:
    """C4 tiers (bofa.py:243-310), default 'out'.

    Lowered description LET-bound — the 18-tier battery references it
    ~25x; the RAW description (the case-sensitive '-' check of the
    wise-inc tier) is referenced once and passes through unbound (see
    relational.LET)."""
    return LET("lower(%s)" % desc,
               lambda v: _bofa_direction_tiers(v, desc, section, d),
               d, var="_dl")


def _bofa_direction_tiers(dl: str, desc: str, section: str,
                          d: str) -> str:
    sec_dep = "%s = 'deposits'" % section
    return """CASE
  WHEN {win} THEN 'in'
  WHEN {wout} THEN 'out'
  WHEN instr({dl}, 'zelle payment from') > 0 THEN 'in'
  WHEN instr({dl}, 'zelle payment to') > 0 THEN 'out'
  WHEN instr({dl}, 'transfer') > 0 AND instr({dl}, 'from') > 0
       AND instr({dl}, 'via wise') > 0 THEN 'in'
  WHEN {fee} THEN 'out'
  WHEN instr({dl}, 'checkcard') > 0 OR instr({dl}, 'purchase') > 0
    THEN 'out'
  WHEN {dep} THEN 'in'
  WHEN (instr({dl}, 'preferred rewards') > 0
        OR instr({dl}, 'prfd rwds') > 0)
       AND instr({dl}, 'waiver') > 0 THEN 'out'
  WHEN (instr({dl}, 'online banking transfer') > 0
        OR instr({dl}, 'online transfer') > 0)
       AND {sec} IS NOT NULL
    THEN CASE WHEN {secdep} THEN 'in' ELSE 'out' END
  WHEN instr({dl}, 'ca tlr transfer') > 0 AND {sec} IS NOT NULL
    THEN CASE WHEN {secdep} THEN 'in' ELSE 'out' END
  WHEN instr({dl}, 'bkofamerica bc') > 0 AND {sec} IS NOT NULL
    THEN CASE WHEN {secdep} THEN 'in' ELSE 'out' END
  WHEN {secdep} THEN 'in'
  WHEN {sec} = 'withdrawals' THEN 'out'
  WHEN instr({dl}, 'transfer') > 0 AND instr({dl}, 'confirmation#') > 0
    THEN 'out'
  WHEN instr({dl}, 'online banking') > 0
       AND (instr({dl}, 'payment') > 0 OR instr({dl}, 'transfer') > 0)
    THEN 'out'
  WHEN instr({dl}, 'wise inc') > 0
    THEN CASE WHEN instr({desc}, '-') > 0 THEN 'out' ELSE 'in' END
  WHEN instr({dl}, 'ontop holdings') > 0 THEN 'in'
  WHEN instr({dl}, 'bnf:') > 0 THEN 'out'
  ELSE 'out' END""".format(
        dl=dl, desc=desc, sec=section, secdep=sec_dep,
        win=RLIKE(dl, r"wire type:\s*(wire|intl|book|fx) in", d),
        wout=RLIKE(dl, r"wire type:\s*(wire|intl|fx|book) out", d),
        fee=_contains_any(dl, ("fee", "charge", "svc charge")),
        dep=_contains_any(dl, ("deposit", "credit", "received",
                               "cashreward")))


@query("bofa_relational")
def q_bofa(d: str) -> str:
    """The COMPLETE BofA parser (bofa.py:14-93) relationally:
    single-line txs; TWO carry-forward windows (section context and
    the daily-ledger skip state, which a section header clears);
    wire-fee multi-emit via explode; last-lexeme amount with bounds;
    header-phrase/balance-entry filters applied to the CLEANED
    description; C4 direction tiers with default 'out'."""
    p = PRINTF(d)
    datep = lit(r"^(\d{1,2})/(\d{1,2})/(\d{2})\b", d)
    toks = REALL("line", AMOUNT_PATTERN, d)
    last_tok = "toks[-1]" if d == DUCK else "element_at(toks, -1)"
    clean = "line"
    clean = REREPL(clean, r"^\s*\d{1,2}/\d{1,2}/\d{2}\s+", "", d)
    clean = REREPL(clean, AMOUNT_PATTERN, "", d)
    clean = REREPL(clean, r"(?i)\s*continued\s+on\s+the\s+next\s+page\s*$",
                   "", d)
    clean = "trim(%s)" % REREPL(clean, r"\s+", " ", d)
    bare_last = REREPL("last_tok", r"[\(\)\-\$,]", "", d)
    if d == SPARK:
        fee_expl = ("SELECT doc_id, line_no, date_iso, pos, tok FROM "
                    "(SELECT doc_id, line_no, date_iso, {t} AS tokarr "
                    "FROM fee_lines) f "
                    "LATERAL VIEW posexplode(tokarr) e AS pos, tok"
                    .format(t=toks))
    else:
        fee_expl = ("SELECT doc_id, line_no, date_iso, "
                    "generate_subscripts({t}, 1) AS pos, "
                    "unnest({t}) AS tok FROM fee_lines".format(t=toks))
    bare_tok = REREPL("tok", r"[\(\)\-\$,]", "", d)
    return with_lines("""
, bofad AS (
  SELECT doc_id, line_no, {inject} AS line FROM stmt_lines
),
classed AS (
  SELECT doc_id, line_no, line, low,
    {section} AS sec_marker,
    CASE WHEN instr(low, 'daily ledger balances') > 0
              OR {dailyhdr} THEN 1 ELSE 0 END AS is_daily_hdr,
    CASE WHEN {noise} THEN 1 ELSE 0 END AS is_noise,
    CASE WHEN try_cast(regexp_extract(trim(line), {datep}, 1) as int)
              IS NOT NULL
         THEN {p}('%04d-%02d-%02d',
            CASE WHEN try_cast(regexp_extract(trim(line), {datep}, 3)
                      as int) < 50
                 THEN 2000 + try_cast(regexp_extract(trim(line),
                                      {datep}, 3) as int)
                 ELSE 1900 + try_cast(regexp_extract(trim(line),
                                      {datep}, 3) as int) END,
            try_cast(regexp_extract(trim(line), {datep}, 1) as int),
            try_cast(regexp_extract(trim(line), {datep}, 2) as int))
         ELSE NULL END AS date_iso
  FROM (SELECT doc_id, line_no, line, lower(line) AS low FROM bofad) t
),
carried AS (
  SELECT *,
    {sec_carry} AS section_ctx,
    coalesce({state_carry}, 'live') AS skip_state
  FROM (
    SELECT *,
      CASE WHEN is_daily_hdr = 1 THEN 'daily'
           WHEN sec_marker IS NOT NULL THEN 'live'
           ELSE NULL END AS state_ev
    FROM classed
  ) t
),
live AS (
  -- the reference consumes daily-header and section lines themselves,
  -- and while in the daily state everything is skipped
  SELECT * FROM carried
  WHERE is_daily_hdr = 0 AND sec_marker IS NULL
    AND skip_state = 'live' AND is_noise = 0
),
fee_lines AS (
  SELECT doc_id, line_no, line, date_iso FROM live
  WHERE instr(low, 'wire transfer fee') > 0 AND date_iso IS NOT NULL
),
fee_toks AS ({fee_expl}),
fee_txs AS (
  SELECT doc_id, line_no, pos AS tok_pos, date_iso AS date,
    'Wire Transfer Fee' AS description,
    cast({bare_tok} as double) AS amount, 'out' AS direction
  FROM fee_toks WHERE cast({bare_tok} as double) > 0.01
),
normal AS (
  SELECT doc_id, line_no, date_iso AS date,
    {clean} AS description,
    CASE WHEN {ntok} = 0 THEN NULL
         WHEN cast({bare_last} as double) < 0.01
              OR cast({bare_last} as double) > 10000000 THEN NULL
         ELSE cast({bare_last} as double) END AS amount,
    section_ctx
  FROM (SELECT *, {toks} AS toks, {lt} AS last_tok FROM live
        WHERE instr(low, 'wire transfer fee') = 0
          AND date_iso IS NOT NULL) t
),
kept AS (
  SELECT doc_id, line_no, 0 AS tok_pos, date, description, amount,
    {direction} AS direction
  FROM normal
  WHERE amount IS NOT NULL AND amount <> 0
    AND {mindesc5}
    AND NOT {hdr_phrases}
    AND NOT (
      {yearless2}
      OR ({yearless1} AND NOT {tx_words})
    )
),
unioned AS (
  SELECT * FROM fee_txs
  UNION ALL
  SELECT * FROM kept
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY date, line_no, tok_pos)
       AS INT) - 1 AS tx_index,
  date, description, amount, direction
FROM unioned
""".format(inject=BOFA_INJECT_SQL.format(p=p),
           section=_bofa_section_sql("low"),
           dailyhdr=RLIKE("low", r"^\s*date\s+balance\s*\(\s*\$\s*\)", d),
           noise=_bofa_noise_sql("low", "line", d),
           datep=datep, p=p,
           sec_carry=LAST_IGNULLS("sec_marker", "line_no", "doc_id", d),
           state_carry=LAST_IGNULLS("state_ev", "line_no", "doc_id", d),
           fee_expl=fee_expl, bare_tok=bare_tok, clean=clean,
           ntok=LEN("toks", d), bare_last=bare_last, toks=toks,
           lt=last_tok,
           direction=_bofa_direction_sql("description", "section_ctx", d),
           mindesc5=LET("description", lambda v:
                        "%s <> '' AND length(%s) >= 5" % (v, v),
                        d, var="_f"),
           # F5 header phrases, LET-bound: ~8 references to
           # lower(description) (see relational.LET)
           hdr_phrases=LET(
               "lower(description)",
               lambda v: "(" + " OR ".join(
                   "instr(%s, '%s') > 0" % (v, q2)
                   for q2 in _BOFA_HDR_PHRASES) + " OR " + RLIKE(
                       v, r"account\s*#\s*\d{4}\s+\d{4}\s+\d{4}", d) + ")",
               d, var="_hp"),
           # reference uses (?!/\d{2}) — no lookahead in RE2, so the
           # yearless count is all-M/D minus dated-M/D (each dated form
           # consumes exactly one M/D match in both scans)
           yearless2="(%s - %s) >= 2" % (
               LEN(REALL("description", r"\b\d{1,2}/\d{1,2}\b", d), d),
               LEN(REALL("description", r"\b\d{1,2}/\d{1,2}/\d{2}", d),
                   d)),
           yearless1="(%s - %s) >= 1" % (
               LEN(REALL("description", r"\b\d{1,2}/\d{1,2}\b", d), d),
               LEN(REALL("description", r"\b\d{1,2}/\d{1,2}/\d{2}", d),
                   d)),
           tx_words=_contains_any("lower(description)", _BOFA_TX_WORDS)),
        d)


# ---------------------------------------------------------------------
# BofA Relationship, fully relational — section OPEN/CLOSE state (the
# C9 variant with a close marker), blocks only inside sections,
# last-lexeme amount trimmed off the description tail (D15, F12).
# ---------------------------------------------------------------------

REL_INJECT_SQL = """CASE
  WHEN line_no % 9 = 1 THEN
    CASE (doc_id + line_no) % 2
      WHEN 0 THEN 'Deposits and other credits'
      ELSE 'Withdrawals and other debits' END
  WHEN line_no % 9 = 6 AND doc_id % 3 = 0
    THEN 'Total deposits and other credits 99.00'
  WHEN line_no % 9 = 7 THEN 'continued on the next page'
  WHEN line_no % 3 = 0 THEN {p}('%02d/%02d/24 ',
                                (doc_id + line_no) % 12 + 1,
                                (doc_id * 5 + line_no) % 28 + 1) || line
  ELSE line END"""


def rel_inject_py(doc_id: int, line_no: int, line: str) -> str:
    if line_no % 9 == 1:
        return ("Deposits and other credits"
                if (doc_id + line_no) % 2 == 0
                else "Withdrawals and other debits")
    if line_no % 9 == 6 and doc_id % 3 == 0:
        return "Total deposits and other credits 99.00"
    if line_no % 9 == 7:
        return "continued on the next page"
    if line_no % 3 == 0:
        return "%02d/%02d/24 %s" % (
            (doc_id + line_no) % 12 + 1, (doc_id * 5 + line_no) % 28 + 1,
            line)
    return line


def _bofa_rel_block_tail(d: str) -> str:
    """The openers/blocks/parsed tail of bofa_rel_relational.

    DuckDB keeps the original double openers self-join (the oracle
    text is frozen).  Spark folds the opener INTO the blocks
    aggregation: ``grp`` increments on every ``is_dateline OR is_ev``
    row, so each group contains exactly ONE such row — its first — and
    ``is_opener`` can only be 1 there; ``MAX(CASE WHEN is_opener…)``
    therefore recovers the opener's line_no/section exactly, and
    groups without an opener (event-started, or dateline outside a
    section) die at the NULL-gate exactly as they died at the inner
    join.  Same fold the generic/chase queries got this round
    (_opener_block_tail/_chase_block_ctes): Catalyst inlines each CTE
    reference, so the two openers joins re-derived the whole
    stmt_lines + section-carry pipeline twice more."""
    p = PRINTF(d)
    dparts = lit(r"^\s*(\d{1,2})/(\d{1,2})(?:/(\d{2,4}))?\b", d)
    toks = REALL("body", AMOUNT_PATTERN, d)
    last_tok = "toks[-1]" if d == DUCK else "element_at(toks, -1)"
    wo_date = REREPL("body", r"^\s*\d{1,2}/\d{1,2}/\d{2}\s+", "", d)
    bare_last = REREPL("last_tok", r"[\(\)\-\$,]", "", d)
    ntok = LEN("toks", d)
    if d == SPARK:
        return """blocks AS (
  SELECT doc_id, grp,
    concat_ws(' ', transform(array_sort(collect_list(
      CASE WHEN is_noise = 0 OR is_opener = 1
           THEN struct(line_no as o, line as v) END)), x -> x.v))
      AS body,
    MAX(CASE WHEN is_opener = 1 THEN line_no END) AS opener_line,
    MAX(CASE WHEN is_opener = 1 THEN section END) AS block_section
  FROM grouped GROUP BY doc_id, grp
),
parsed AS (
  SELECT b.doc_id, b.grp, b.block_section,
    CASE WHEN yy < 100 THEN {p}('%04d-%02d-%02d', 2000 + yy, mm, dd)
         ELSE {p}('%04d-%02d-%02d', yy, mm, dd) END AS date,
    wo AS wo_date, last_tok,
    cast({bare_last} as double) AS amount
  FROM (
    SELECT doc_id, grp, block_section, body, {toks} AS toks,
      {lt} AS last_tok,
      {wo} AS wo,
      try_cast(regexp_extract(trim(body), {dparts}, 1) as int) AS mm,
      try_cast(regexp_extract(trim(body), {dparts}, 2) as int) AS dd,
      coalesce(try_cast(regexp_extract(trim(body), {dparts}, 3) as int),
               2024) AS yy
    FROM blocks WHERE opener_line IS NOT NULL
  ) b
  WHERE {ntok} > 0
)""".format(p=p, dparts=dparts, toks=toks, lt=last_tok, wo=wo_date,
            bare_last=bare_last, ntok=ntok)
    ordcat = ORD_CONCAT("line", " ", "line_no", d)
    return """openers AS (
  SELECT doc_id, grp, line_no AS opener_line, section AS block_section
  FROM grouped WHERE is_opener = 1
),
blocks AS (
  SELECT g.doc_id, g.grp, {ordcat} AS body
  FROM grouped g JOIN openers o
    ON g.doc_id = o.doc_id AND g.grp = o.grp
  WHERE g.is_noise = 0 OR g.line_no = o.opener_line
  GROUP BY g.doc_id, g.grp
),
parsed AS (
  SELECT b.doc_id, b.grp, o.block_section,
    CASE WHEN yy < 100 THEN {p}('%04d-%02d-%02d', 2000 + yy, mm, dd)
         ELSE {p}('%04d-%02d-%02d', yy, mm, dd) END AS date,
    wo AS wo_date, last_tok,
    cast({bare_last} as double) AS amount
  FROM (
    SELECT doc_id, grp, body, {toks} AS toks, {lt} AS last_tok,
      {wo} AS wo,
      try_cast(regexp_extract(trim(body), {dparts}, 1) as int) AS mm,
      try_cast(regexp_extract(trim(body), {dparts}, 2) as int) AS dd,
      coalesce(try_cast(regexp_extract(trim(body), {dparts}, 3) as int),
               2024) AS yy
    FROM blocks
  ) b JOIN openers o ON b.doc_id = o.doc_id AND b.grp = o.grp
  WHERE {ntok} > 0
)""".format(ordcat=ordcat, p=p, dparts=dparts, toks=toks, lt=last_tok,
            wo=wo_date, bare_last=bare_last, ntok=ntok)


@query("bofa_rel_relational")
def q_bofa_rel(d: str) -> str:
    """The COMPLETE BofA Relationship parser
    (bofa_relationship.py:31-90) relationally: sections open on
    deposit/withdrawal headers and CLOSE on Total rows (carry-forward
    with a close sentinel); blocks are date lines INSIDE a section,
    absorbing non-noise lines until the next date/section/total;
    amount = last money lexeme (magnitude), trimmed off the
    description tail; direction = the section."""
    p = PRINTF(d)
    return with_lines("""
, reld AS (
  SELECT doc_id, line_no, {inject} AS line FROM stmt_lines
),
classed AS (
  SELECT doc_id, line_no, line,
    CASE WHEN {dep} THEN 'in'
         WHEN {wdr} THEN 'out'
         WHEN {total} THEN 'close'
         ELSE NULL END AS sec_ev,
    CASE WHEN line = '' OR {hdr_row} OR {contin}
              OR line LIKE 'Daily ledger balances%'
              OR line LIKE 'Important Messages%'
              OR line LIKE 'Your checking account%'
         THEN 1 ELSE 0 END AS is_noise,
    CASE WHEN {is_date} THEN 1 ELSE 0 END AS is_dateline
  FROM reld
),
carried AS (
  SELECT *,
    CASE WHEN {carry} = 'close' THEN NULL ELSE {carry} END AS section
  FROM classed
),
flagged AS (
  SELECT *,
    CASE WHEN sec_ev IS NOT NULL THEN 1 ELSE 0 END AS is_ev,
    CASE WHEN sec_ev IS NULL AND is_dateline = 1
              AND section IS NOT NULL THEN 1 ELSE 0 END AS is_opener
  FROM carried
),
grouped AS (
  SELECT *,
    SUM(CASE WHEN is_dateline = 1 OR is_ev = 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY line_no
            ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
),
{blocktail}
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY date, grp)
       AS INT) - 1 AS tx_index,
  date,
  CASE WHEN substring(trim(wo_date),
                      length(trim(wo_date)) - length(last_tok) + 1)
            = last_tok
       THEN trim(substring(trim(wo_date), 1,
                 length(trim(wo_date)) - length(last_tok)))
       ELSE trim(wo_date) END AS description,
  amount, block_section AS direction
FROM parsed
""".format(inject=REL_INJECT_SQL.format(p=p),
           dep=RLIKE("line", r"(?i)\bDeposits and other credits\b", d),
           wdr=RLIKE("line", r"(?i)\bWithdrawals and other debits\b", d),
           total=RLIKE("line", r"(?i)^Total (deposits.*|withdrawals.*)$",
                       d),
           hdr_row=RLIKE("line",
                         r"(?i)^\s*Date\s+Description\s+Amount\s*$", d),
           contin=RLIKE("line", r"(?i)continued on the next page", d),
           is_date=RLIKE("line", r"^\s*\d{1,2}/\d{1,2}/\d{2}\b", d),
           carry=LAST_IGNULLS("sec_ev", "line_no", "doc_id", d),
           blocktail=_bofa_rel_block_tail(d)), d)


# ---------------------------------------------------------------------
# Mercury (D4-first date priority) + IFB/PNB (verbatim generic)
# ---------------------------------------------------------------------

_SLASH_ANCH = r"^\s*(\d{1,2})/(\d{1,2})(?:/(\d{2,4}))?\b"
# \b on both ends, as the engine/reference has: "Mar 1, 20199"
# must NOT parse as year 2019 (tools/fuzz_relational.py)
_LONG_SEARCH = r"\b([A-Za-z]{3,9})\s+(\d{1,2}),\s*(\d{4})\b"
_MMM_ANCH = (r"^\s*((?i:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Sept|Oct|Nov"
             r"|Dec))\s+(\d{1,2})\b")


def _date_value_sql(line: str, order: str, d: str) -> str:
    """Date value with the issuer's priority: 'slash_first' (generic,
    base.py:109) or 'mmm_first' (mercury.py:18).

    The whole battery (3 anchored extracts x ~4 regexp_extract calls
    each) is gated behind ONE combined candidate rlike — the exact
    alternation of the three shapes, so the gate is a strict superset
    of the extracts and cannot change results (round-4 ask #1; fuzz
    9,000 docs x 9 plans x 3 seeds clean).  Measured honestly
    (interleaved A/B at sf0.1): NEUTRAL on Spark (0.97x — codegen
    subexpression elimination already dedupes the repeated
    regexp_extract calls, so the battery was never ~10 regex execs
    there), ~8% on DuckDB (no CSE).  Kept for the oracle side and as
    insurance for engines without CSE; generic_relational itself
    measures 1.9-2.0 s median at sf0.1 either way (r2 parity — the
    r3 '1.9x regression' reading was dominated by co-tenant wobble,
    as the r3 verdict itself suspected of the suite total)."""
    p = PRINTF(d)
    gate = RLIKE(line, "(?:%s)|(?:%s)|(?:%s)" % (
        _SLASH_ANCH, _LONG_SEARCH, _MMM_ANCH), d)
    slash = ("""CASE WHEN try_cast(regexp_extract({l}, {sp}, 1) as int)
      IS NOT NULL THEN {p}('%04d-%02d-%02d',
      CASE WHEN regexp_extract({l}, {sp}, 3) = '' THEN 2024
           WHEN try_cast(regexp_extract({l}, {sp}, 3) as int) < 100
           THEN 2000 + try_cast(regexp_extract({l}, {sp}, 3) as int)
           ELSE try_cast(regexp_extract({l}, {sp}, 3) as int) END,
      try_cast(regexp_extract({l}, {sp}, 1) as int),
      try_cast(regexp_extract({l}, {sp}, 2) as int)) END"""
             .format(l=line, sp=lit(_SLASH_ANCH, d), p=p))
    longv = ("""CASE WHEN regexp_extract({l}, {lp}, 1) <> ''
      AND {lmon} IS NOT NULL THEN {p}('%04d-%02d-%02d',
      try_cast(regexp_extract({l}, {lp}, 3) as int), {lmon},
      try_cast(regexp_extract({l}, {lp}, 2) as int)) END"""
             .format(l=line, lp=lit(_LONG_SEARCH, d), p=p,
                     lmon=_MONTH_CASE.replace(
                         "mon", "regexp_extract(%s, %s, 1)"
                         % (line, lit(_LONG_SEARCH, d)))))
    mmmv = ("""CASE WHEN regexp_extract({l}, {mp}, 1) <> ''
      THEN {p}('%04d-%02d-%02d', 2024, {mmon},
      try_cast(regexp_extract({l}, {mp}, 2) as int)) END"""
            .format(l=line, mp=lit(_MMM_ANCH, d), p=p,
                    mmon=_MONTH_CASE.replace(
                        "mon", "regexp_extract(%s, %s, 1)"
                        % (line, lit(_MMM_ANCH, d)))))
    if order == "mmm_first":
        battery = "coalesce(%s, %s, %s)" % (mmmv, slash, longv)
    else:
        battery = "coalesce(%s, %s, %s)" % (slash, longv, mmmv)
    return "CASE WHEN %s THEN %s END" % (gate, battery)


def _opener_block_tail(d: str, ordcat: str, strip_tail: str, toks: str,
                       amt: str) -> str:
    """The blocks→parsed tail of the generic/mercury sweep.

    DuckDB keeps the original openers self-join (the oracle text is
    frozen).  Spark folds the opener date INTO the blocks aggregation:
    a non-null date_val is precisely what increments block_id, so every
    block_id > 0 group contains exactly ONE non-null date_val — its
    opener — and MAX(date_val) is that value.  This halves the plan:
    Catalyst inlines each CTE reference, so the openers⨝blocks join
    re-derived the whole stmt_lines + regex-battery pipeline twice
    (plans/r06/generic_relational_before.txt: two full scan→explode→
    window chains joined by BroadcastHashJoin)."""
    if d == SPARK:
        return """blocks AS (
  SELECT doc_id, block_id, {ordcat} AS body,
         MAX(date_val) AS block_date
  FROM blocked WHERE block_id > 0 GROUP BY doc_id, block_id
),
parsed AS (
  SELECT b.doc_id, b.block_id, b.block_date AS date,
    trim({strip_tail}) AS description,
    {amt} AS amount
  FROM (SELECT doc_id, block_id, block_date, body, {toks} AS toks
        FROM blocks) b
)""".format(ordcat=ordcat, strip_tail=strip_tail, toks=toks, amt=amt)
    return """openers AS (
  SELECT doc_id, block_id, date_val AS block_date
  FROM blocked WHERE date_val IS NOT NULL
),
blocks AS (
  SELECT doc_id, block_id, {ordcat} AS body
  FROM blocked WHERE block_id > 0 GROUP BY doc_id, block_id
),
parsed AS (
  SELECT b.doc_id, b.block_id, o.block_date AS date,
    trim({strip_tail}) AS description,
    {amt} AS amount
  FROM (SELECT doc_id, block_id, body, {toks} AS toks FROM blocks) b
  JOIN openers o ON b.doc_id = o.doc_id AND b.block_id = o.block_id
)""".format(ordcat=ordcat, strip_tail=strip_tail, toks=toks, amt=amt)


def _block_sweep_sql(d: str, date_order: str, src: str) -> str:
    """The marked→blocked→parsed sweep Mercury and Generic share: a
    line of ``src`` whose date (``date_order`` priority) parses opens
    a block, and each block's first amount becomes one transaction."""
    toks = REALL("body", AMOUNT_PATTERN, d)
    strip_tail = REREPL("body", r"\s*" + AMOUNT_PATTERN + r"\s*$", "", d)
    ordcat = ORD_CONCAT("line", " ", "line_no", d)
    return """marked AS (
  SELECT doc_id, line_no, line,
    {dval} AS date_val
  FROM {src}
),
blocked AS (
  SELECT doc_id, line_no, line, date_val,
    SUM(CASE WHEN date_val IS NOT NULL THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY line_no
            ROWS UNBOUNDED PRECEDING) AS block_id
  FROM marked
),
{blocktail}
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY date, block_id)
       AS INT) - 1 AS tx_index,
  date, description, abs(amount) AS amount,
  {dircase} AS direction
FROM parsed WHERE amount IS NOT NULL
""".format(dval=_date_value_sql("line", date_order, d), src=src,
           blocktail=_opener_block_tail(
               d, ordcat, strip_tail, toks, _signed_first_amount(d)),
           dircase=direction_case("description", d))


@query("mercury_relational")
def q_mercury(d: str) -> str:
    """The COMPLETE Mercury parser (mercury.py:5-32) relationally:
    generic block sweep but with Mmm-D date PRIORITY, date taken from
    the opener line (long dates match anywhere in it).  Mmm dates
    injected in-plan."""
    return with_lines("""
, mercd AS (
  SELECT doc_id, line_no,
    CASE WHEN line_no % 7 = 3 THEN 'Feb 7 ' || line ELSE line END AS line
  FROM stmt_lines
),
""" + _block_sweep_sql(d, "mmm_first", "mercd"), d)


@query("generic_relational")
def q_generic_parse(d: str) -> str:
    """The COMPLETE GenericParser (base.py:103-121) as one relational
    plan: full slash→long→Mmm date gate per line → block window (G1) →
    ordered concat (G4) → first amount (D1/D6) → strip trailing lexeme
    (D7) → direction (C2) → normalize + stable per-doc sort (D20/G6).
    Same marked/blocked/openers shape as mercury (which is this machine
    with Mmm-first priority); block date comes from the OPENER line, as
    the engine's sweep does.  Cross-checked against the Python engine
    in tests AND tools/fuzz_relational.py (the former slash-only gate
    diverged on month-name opener lines)."""
    return with_lines("\n, " + _block_sweep_sql(d, "slash_first",
                                                 "stmt_lines"), d)


def _alias_generic(name: str, ref: str):
    """IFB (ifb.py:8-34) and PNB (pnb.py:5-30) are line-for-line the
    same machine as GenericParser in the reference — registered as
    named queries for inventory completeness."""

    def q(d: str) -> str:
        return QUERIES["generic_relational"](d)
    q.__doc__ = ("Verbatim-identical to generic_relational "
                 "(reference %s)." % ref)
    QUERIES[name] = q


_alias_generic("ifb_relational", "ifb.py:8-34")
_alias_generic("pnb_relational", "pnb.py:5-30")


# ---------------------------------------------------------------------
# Wells Fargo, fully relational — validity/noise gated blocks (break,
# not skip), date-fragment-aware first-amount selection (D11), and the
# description cut before the NEXT lexeme via split-segment
# reassembly (D12) — the 'regex-position trick' SURVEY §2.3 called for.
# ---------------------------------------------------------------------

_WF_HEADER_WORDS = (
    "wells fargo", "questions?", "available by phone", "online:",
    "write:", "your business and wells fargo", "account options",
    "business online banking", "overdraft protection",
    "important account information", "new york city customers",
    "updated limits", "effective october", "this notice",
    "watch for debit card scams",
)
_WF_SUMMARY_WORDS = (
    "statement period activity", "beginning balance", "ending balance",
    "deposits/credits", "withdrawals/debits", "totals",
    "account transaction fees", "service charge description",
    "units used", "units included", "excess units", "total service",
    "fee period", "how to avoid", "minimum required", "average ledger",
    "minimum daily balance", "standard monthly service fee",
)
_WF_NO_TX = (
    r"(?i)(?:totals\b|ending daily balance|important account information"
    r"|service fee summary|statement period|beginning balance"
    r"|deposits/credits|withdrawals/debits|ending balance|account number"
    r"|page \d+ of \d+|account transaction fees|units used|units included"
    r"|excess units|service charge description|cash deposited"
    r"|transactions|total service charges|fee period|how to avoid"
    r"|minimum required|this fee period|average ledger balance"
    r"|minimum daily balance)"
)
_WF_CTX_WORDS = ("interest payment", "interest credit", "fee", "charge",
                 "payment", "credit", "debit", "service")

WF_INJECT_SQL = """CASE
  WHEN line_no % 9 = 1 THEN 'Statement period activity'
  WHEN line_no % 9 = 4 THEN 'short ln'
  WHEN line_no % 9 = 7
    THEN line || ' /Org=Acme Capital Srf# 210.00 18,400.00'
  WHEN line_no % 7 = 5 THEN line || ' paid on 11.8.24 ref'
  WHEN line_no % 7 = 6 THEN line || ' Zelle to Kim 55.00'
  ELSE line END"""


def wf_inject_py(doc_id: int, line_no: int, line: str) -> str:
    if line_no % 9 == 1:
        return "Statement period activity"
    if line_no % 9 == 4:
        return "short ln"
    if line_no % 9 == 7:
        return line + " /Org=Acme Capital Srf# 210.00 18,400.00"
    if line_no % 7 == 5:
        return line + " paid on 11.8.24 ref"
    if line_no % 7 == 6:
        return line + " Zelle to Kim 55.00"
    return line


def _wf_invalid_sql(low: str, line: str, d: str) -> str:
    """NOT _is_valid_transaction_line (wf.py:139-174)."""
    return ("({hdr} OR {summ} OR {meta} OR length(trim({line})) < 10)"
            .format(hdr=_contains_any(low, _WF_HEADER_WORDS),
                    summ=_contains_any(low, _WF_SUMMARY_WORDS),
                    meta=RLIKE(low, r"page \d+ of \d+|account number:"
                                    r"|for direct deposit"
                                    r"|for wire transfers|routing number",
                               d),
                    line=line))


def _wf_direction_sql(desc: str, d: str) -> str:
    """C6 tiers (wf.py:176-227).

    [\\p{L}\\p{N}_] instead of \\w: Python's \\w is unicode-aware
    while Java's and RE2's are ASCII-only -- 'from žluťoučký' must
    classify 'in' in every dialect (tools/fuzz_relational.py).

    Lowered description LET-bound — ~13 battery references (see
    relational.LET)."""
    return LET("lower(%s)" % desc,
               lambda v: _wf_direction_tiers(v, d), d, var="_dl")


def _wf_direction_tiers(dl: str, d: str) -> str:
    return """CASE
  WHEN {org} AND NOT {bnf} THEN 'in'
  WHEN {bnf} AND NOT {org} THEN 'out'
  WHEN {xfer} THEN 'in'
  WHEN {fromw} THEN 'in'
  WHEN {comp} OR {pnum} THEN 'in'
  WHEN instr({dl}, 'zelle from') > 0 THEN 'in'
  WHEN instr({dl}, 'zelle to') > 0 THEN 'out'
  WHEN {wt} AND instr({dl}, 'morgan stanley') > 0 THEN 'in'
  WHEN {dep} AND instr({dl}, 'credit card') = 0 THEN 'in'
  ELSE 'out' END""".format(
        dl=dl,
        org=RLIKE(dl, r"/org=", d), bnf=RLIKE(dl, r"/bnf=", d),
        xfer=_contains_any(dl, ("online transfer from", "transfer from",
                                "llc sender", "sender")),
        fromw=RLIKE(dl, r"\bfrom\s+[\p{L}\p{N}_]+", d),
        comp=RLIKE(dl, r"[\p{L}\p{N}_]+\s+company\s+payment", d),
        pnum=RLIKE(dl, r"\bpayment\s+[\p{L}\p{N}_]+\s+\d+", d),
        wt=RLIKE(dl, r"\bwt\s+[\p{L}\p{N}_]+", d),
        dep=_contains_any(dl, ("interest payment", "interest credit",
                               "deposit", "credit")))


@query("wf_relational")
def q_wf(d: str) -> str:
    """The COMPLETE Wells Fargo parser (wf.py:229-313) relationally.
    Blocks open at valid non-noise date lines and BREAK at the first
    noise/invalid line (running bad counter); the body re-passes the
    validity gate; the transaction amount is the first lexeme that is
    not a date fragment (D11: magnitude 1-31, no amount-context
    keyword, dotted-date or Mmm-D pattern in the body), and the
    description is everything before the NEXT lexeme, rebuilt from
    regexp-split segments (D12)."""
    p = PRINTF(d)
    toks = REALL("body", AMOUNT_PATTERN, d)
    segs = (("split(body, %s, -1)" % lit(AMOUNT_PATTERN, d))
            if d == SPARK else
            ("regexp_split_to_array(body, %s)" % lit(AMOUNT_PATTERN, d)))
    def datefrag(tok):
        bare = REREPL(tok, r"[\$,\(\)\-]", "", d)
        return """(
      NOT {longfrac}
      AND try_cast({bare} as double) BETWEEN 1 AND 31
      AND NOT {ctx}
      AND ({dotted} OR {mmmctx})
    )""".format(
            longfrac=RLIKE(bare, r"\.\d{3,}", d),
            bare=bare,
            ctx=_contains_any("lower(body)", _WF_CTX_WORDS),
            dotted=RLIKE("body", r"\b\d{1,2}\.\d{1,2}\.\d{2,4}\b", d),
            mmmctx=RLIKE("body",
                         r"(?i)\b(jan|feb|mar|apr|may|jun|jul|aug|sep"
                         r"|oct|nov|dec)\s+\d{1,2}\b", d))

    # D11's "first lexeme that is not a date fragment" IN-ARRAY (the
    # chase-D13 pattern): the old posexplode → MIN-over-positions →
    # join-back re-instantiated the gated subtree and shuffled tokens
    # for a per-block reduction over an array already in the row
    if d == SPARK:
        # try_element_at throughout: under ANSI mode Catalyst may
        # evaluate a projection on rows a later/earlier filter
        # removes (the q_citi lesson), and the filtered index list is
        # legitimately EMPTY when every token is a date fragment
        kexpr = ("coalesce(try_element_at(filter(transform(toks, "
                 "(_t, _i0) -> CASE WHEN NOT %s THEN _i0 + 1 END), "
                 "_x -> _x IS NOT NULL), 1), 1)" % datefrag("_t"))
        prefix = ("concat_ws('', transform(sequence(1, s.k), i -> "
                  "try_element_at(segs, i) || try_element_at(toks, i))) "
                  "|| try_element_at(segs, s.k + 1)")
        ktok = "try_element_at(toks, s.k)"
        ntok = "size(toks)"
    else:
        kexpr = ("coalesce(list_extract([_i for _i in "
                 "range(1, len(toks) + 1) if NOT %s], 1), 1)"
                 % datefrag("toks[_i]"))
        prefix = ("array_to_string([segs[i] || toks[i] "
                  "for i in range(1, s.k + 1)], '') || segs[s.k + 1]")
        ktok = "toks[s.k]"
        ntok = "len(toks)"
    kbare = REREPL(ktok, r"[\$,\(\)\-]", "", d)
    return with_lines("""
, wfd AS (
  SELECT doc_id, line_no, {inject} AS line FROM stmt_lines
),
classed AS (
  -- date_val (the three-extract date battery) is computed ONCE and
  -- is_dateish derived from it in the outer select: the old form
  -- inlined the battery twice in TEXT, and the optimizer multiplied
  -- it further (wf carried a 125 kB optimized plan; the re-analysis
  -- cost of every .count() scales with that)
  SELECT doc_id, line_no, line, is_invalid, is_noise,
    CASE WHEN date_val IS NOT NULL THEN 1 ELSE 0 END AS is_dateish,
    date_val
  FROM (SELECT doc_id, line_no, line,
          CASE WHEN {invalid} THEN 1 ELSE 0 END AS is_invalid,
          CASE WHEN {noise} THEN 1 ELSE 0 END AS is_noise,
          {dval} AS date_val
        FROM (SELECT doc_id, line_no, line, lower(line) AS low
              FROM wfd) t0) t
),
grouped AS (
  SELECT *,
    SUM(is_dateish) OVER (PARTITION BY doc_id ORDER BY line_no
                          ROWS UNBOUNDED PRECEDING) AS grp
  FROM classed
),
members AS (
  -- a group's opener IS its first line (grp increments exactly at
  -- dateish lines), so opener validity + block date ride a window
  -- over the group instead of a join against an openers CTE: the old
  -- two openers joins re-instantiated the whole classification
  -- subtree twice (CTE inlining — wf carried a 113 kB optimized
  -- plan), and the (doc_id, grp) windows reuse the doc_id
  -- partitioning with no extra exchange
  SELECT doc_id, grp, line_no, line, block_date
  FROM (SELECT *,
          SUM(is_invalid + is_noise)
            OVER (PARTITION BY doc_id, grp ORDER BY line_no
                  ROWS UNBOUNDED PRECEDING) AS cum_bad,
          MAX(CASE WHEN is_dateish = 1 AND is_invalid = 0
                    AND is_noise = 0 THEN date_val END)
            OVER (PARTITION BY doc_id, grp) AS block_date
        FROM grouped) g
  WHERE g.cum_bad = 0 AND g.block_date IS NOT NULL
),
blocks AS (
  SELECT doc_id, grp, block_date, {ordcat} AS body
  FROM members GROUP BY doc_id, grp, block_date
),
gated AS (
  SELECT doc_id, grp, block_date, body
  FROM blocks b
  WHERE NOT {body_invalid}
),
emitted AS (
  SELECT doc_id, grp, block_date AS date,
    CASE WHEN s.k < {ntok} THEN rtrim({prefix}) ELSE body END
      AS description,
    abs(CASE WHEN {ktok} LIKE '-%' OR {ktok} LIKE '%-'
              OR {ktok} LIKE '(%'
         THEN -cast({kbare} as double)
         ELSE cast({kbare} as double) END) AS amount
  FROM (
    SELECT *, {kexpr} AS k FROM
      (SELECT doc_id, grp, block_date, body, {toks} AS toks,
              {segs} AS segs FROM gated) g0
    -- the old explode → inner-join path implicitly dropped blocks
    -- with ZERO amount tokens (no exploded rows); keep that gate
    WHERE {ntok} > 0
  ) s
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY date, grp)
       AS INT) - 1 AS tx_index,
  date, description, amount, {direction} AS direction
FROM emitted
""".format(inject=WF_INJECT_SQL,
           invalid=_wf_invalid_sql("low", "line", d),
           noise=RLIKE("line", _WF_NO_TX, d),
           dval=_date_value_sql("line", "slash_first", d),
           ordcat=ORD_CONCAT("line", " ", "line_no", d),
           body_invalid=_wf_invalid_sql("lower(b.body)", "b.body", d),
           kexpr=kexpr,
           ntok=ntok, prefix=prefix, toks=toks, segs=segs,
           ktok=ktok, kbare=kbare,
           direction=_wf_direction_sql("description", d)), d)


# ---------------------------------------------------------------------
# Citi, fully relational — checking/savings section semantics, the
# positional amount-vs-balance selection with description cuts (D16),
# savings two-column arithmetic with fold-replace description blanking
# (D17), noise skipped mid-block without breaking (G3), C5 tiers.
# ---------------------------------------------------------------------

_CITI_NOISE_PATTERNS = (
    r"^citibank", r"^citibusiness", r"relationship summary",
    r"checking summary", r"customer service information", r"^page \d+",
    r"^account \d+", r"^statement period",
    r"service charge summary from", r"^important notice",
    r"^important disclosures", r"^fdic insurance",
    r"^apy and interest rate", r"billing rights summary",
    r"in case of errors", r"^messages from citi",
    r"value of accounts this period", r"earnings summary",
    r"we are notifying", r"^effective", r"^account as of",
    r"citibusiness® account as of",
    r"^[\p{L}\p{N}_]+ \d+,? - [\p{L}\p{N}_]+ \d+,? \d{4}",
    r"^\d{4} de citi",
)
_CITI_COLUMN_HEADERS = (
    "date description debits credits balance",
    "date description amount subtracted amount added balance",
    "beginning balance:", "ending balance:", "balance subject",
    "average daily collected balance", "type of charge",
    "charges debited from account", "total charges for services",
    "net service charge", "total debits/credits",
    "total subtracted/added",
)
_CITI_META_WORDS = (
    "account as of", "statement period", "service charge summary",
    "average daily collected balance", "relationship summary",
    "checking summary",
)
_CITI_TX_KEYWORDS = (
    "deposit", "credit", "debit", "wire", "transfer", "payment",
    "purchase", "withdrawal", "fee", "charge", "interest",
)
_CITI_LEGAL = (
    "in case of errors", "customer service", "important disclosures",
    "fdic insurance", "apy and interest rate", "billing rights summary",
)
_CITI_BAL_WORDS = ("deposit", "credit", "debit", "purchase",
                   "withdrawal", "wire", "fee", "interest")

CITI_INJECT_SQL = """CASE
  WHEN line_no % 9 = 1 THEN
    CASE (doc_id + line_no) % 2
      WHEN 0 THEN 'Checking Activity' ELSE 'Savings Activity' END
  WHEN line_no % 9 = 4 THEN 'Page 3'
  WHEN line_no % 9 = 3 THEN {p}('%02d/%02d ACME HOLDINGS LLC',
                                (doc_id + line_no) % 12 + 1,
                                (doc_id * 3 + line_no) % 28 + 1)
  WHEN line_no % 9 = 7 THEN line || ' 0.00 12.33 30,012.33'
  ELSE line END"""


def citi_inject_py(doc_id: int, line_no: int, line: str) -> str:
    if line_no % 9 == 1:
        return ("Checking Activity" if (doc_id + line_no) % 2 == 0
                else "Savings Activity")
    if line_no % 9 == 4:
        return "Page 3"
    if line_no % 9 == 3:
        return "%02d/%02d ACME HOLDINGS LLC" % (
            (doc_id + line_no) % 12 + 1, (doc_id * 3 + line_no) % 28 + 1)
    if line_no % 9 == 7:
        return line + " 0.00 12.33 30,012.33"
    return line


def _citi_section_sql(low: str) -> str:
    return """CASE
  WHEN {chk} THEN 'checking'
  WHEN instr({low}, 'streamlined checking') > 0 THEN 'checking'
  WHEN instr({low}, 'savings activity') > 0 THEN 'savings'
  WHEN instr({low}, 'citi® savings') > 0
       AND instr({low}, 'account activity') > 0 THEN 'savings'
  WHEN instr({low}, 'citibank® savings') > 0
       AND instr({low}, 'account activity') > 0 THEN 'savings'
  WHEN instr({low}, 'account activity') > 0
       AND instr({low}, 'amount subtracted') > 0
       AND instr({low}, 'amount added') > 0 THEN 'savings'
  ELSE NULL END""".format(
        low=low,
        chk=_contains_any(low, ("checking activity",
                                "checking account activity",
                                "citibusiness checking activity")))


def _citi_noise_sql(low: str, line: str, d: str) -> str:
    pats = " OR ".join(RLIKE(low, p, d) for p in _CITI_NOISE_PATTERNS)
    return ("({pats} OR {hdrs} OR {amt_row} OR {digits})".format(
        pats=pats, hdrs=_contains_any(low, _CITI_COLUMN_HEADERS),
        amt_row=RLIKE(line, r"^\s*\$[\d,]+\.\d{2}\s*$", d),
        digits=RLIKE(line, r"^\s*\d{12,}\s*$", d)))


def _citi_clean_sql(col: str, d: str) -> str:
    """D9 citi clean chain (citi.py:464-472)."""
    c = col
    c = REREPL(c, AMOUNT_PATTERN, "", d)
    c = REREPL(c, r"\b\d{1,2}/\d{1,2}\b", "", d)
    c = REREPL(c, r"(?i)\bDATE\s+DESCRIPTION\s+.*BALANCE\b", "", d)
    c = REREPL(c, r"(?i)\bBEGINNING BALANCE\b|\bENDING BALANCE\b", "", d)
    c = "trim(%s)" % REREPL(c, r"\s+", " ", d)
    # capitalize-first via LET — same plan-size rationale as
    # chase_clean_sql (see relational.LET)
    return LET(c, lambda v: (
        "CASE WHEN %s = '' THEN '' ELSE upper(substring(%s, 1, 1)) "
        "|| substring(%s, 2) END" % (v, v, v)), d, var="_cd")


def _citi_direction_sql(desc: str, amount: str, d: str) -> str:
    """C5 tiers (citi.py:476-518).

    Lowered description LET-bound — ~30 references in the battery,
    same plan-size rationale as _chase_direction_sql."""
    return LET("lower(%s)" % desc,
               lambda v: _citi_direction_tiers(v, amount, d),
               d, var="_dl")


def _citi_direction_tiers(dl: str, amount: str, d: str) -> str:
    return """CASE
  WHEN instr({dl}, 'debit card credit') > 0
       OR instr({dl}, 'debit card credi') > 0 THEN 'in'
  WHEN {inw} THEN 'in'
  WHEN {feew} THEN 'out'
  WHEN {outw} THEN 'out'
  WHEN instr({dl}, 'wire to') > 0 THEN 'out'
  WHEN {amt} > 0 THEN 'in' ELSE 'out' END""".format(
        dl=dl, amt=amount,
        inw=_contains_any(dl, ("electronic credit", "deposit",
                               "interest paid", "interest credit",
                               "wire from", "funds transfer from",
                               "misc deposit", "reversal")),
        feew=_contains_any(dl, ("service charge", "fee for",
                                "incoming wire fee",
                                "monthly maintenance fee",
                                "foreign transaction fee",
                                "acct analysis direct db",
                                "federal withholding tax")),
        outw=_contains_any(dl, ("debit card purch", "ach debit",
                                "funds trn out", "int'l wire out",
                                "international wire out",
                                "cbusol transfer debit",
                                "cbusol international wire out",
                                "cbol wire to", "cbusol wire to",
                                "withdrawal", "instant payment debit",
                                "other/withdrawal")))


@query("citi_relational")
def q_citi(d: str) -> str:
    """The COMPLETE Citi parser (citi.py:13-70) relationally."""
    p = PRINTF(d)
    datep = lit(r"^(\d{1,2})/(\d{1,2})(?:\s|[A-Za-z])", d)
    toks = REALL("body", AMOUNT_PATTERN, d)
    segs = (("split(body, %s, -1)" % lit(AMOUNT_PATTERN, d))
            if d == SPARK else
            ("regexp_split_to_array(body, %s)" % lit(AMOUNT_PATTERN, d)))
    if d == SPARK:
        bare_t = REREPL("t", r"[\$,\(\)]", "", d)
        sval = ("transform(toks, t -> CASE WHEN (trim(t) LIKE '(%' AND "
                "trim(t) LIKE '%)') OR trim(t) LIKE '-%' "
                "THEN -cast(trim({b}) as double) "
                "ELSE cast(trim({b}) as double) END)").format(b=bare_t)
        # try_element_at everywhere: under ANSI mode Catalyst may
        # evaluate a union branch's projection on rows destined for the
        # other branch (observed: plain element_at threw on empty
        # arrays only when the branches were UNIONed)
        prefix = ("rtrim(concat_ws('', transform(sequence(1, k), i -> "
                  "try_element_at(segs, i) || try_element_at(toks, i))) "
                  "|| try_element_at(segs, k + 1))")
        blanked = ("aggregate(toks, body, (acc, t) -> replace(acc, t, ' '))")
        first_k = ("coalesce(try_element_at(filter(sequence(1, greatest(n - 1, 1)), "
                   "i -> coalesce(abs(try_element_at(vals, i)) >= 0.01,"
                   " false)), 1), 1)")
        elem = "try_element_at(%s, %s)"
    else:
        sval = ("[CASE WHEN (trim(t) LIKE '(%' AND trim(t) LIKE '%)') "
                "OR trim(t) LIKE '-%' "
                "THEN -cast(trim({b}) as double) "
                "ELSE cast(trim({b}) as double) END for t in toks]"
                .format(b=REREPL("t", r"[\$,\(\)]", "", d)))
        prefix = ("rtrim(array_to_string([segs[i] || toks[i] "
                  "for i in range(1, k + 1)], '') || segs[k + 1])")
        blanked = ("list_reduce([body] || toks, "
                   "(acc, t) -> replace(acc, t, ' '))")
        first_k = ("coalesce(list_extract([i for i in range(1, n) "
                   "if abs(vals[i]) >= 0.01], 1), 1)")
        elem = "list_extract(%s, %s)"
    return with_lines("""
, citid AS (
  SELECT doc_id, line_no, {inject} AS line FROM stmt_lines
),
classed AS (
  SELECT doc_id, line_no, line,
    {section} AS sec_marker,
    CASE WHEN {noise} THEN 1 ELSE 0 END AS is_noise,
    CASE WHEN try_cast(regexp_extract(trim(line), {datep}, 1) as int)
              BETWEEN 1 AND 12
          AND try_cast(regexp_extract(trim(line), {datep}, 2) as int)
              BETWEEN 1 AND 31
         THEN {p}('%04d-%02d-%02d', 2024,
              try_cast(regexp_extract(trim(line), {datep}, 1) as int),
              try_cast(regexp_extract(trim(line), {datep}, 2) as int))
         ELSE NULL END AS date_iso
  FROM (SELECT doc_id, line_no, line, lower(trim(line)) AS low
        FROM citid) t
),
flagged AS (
  SELECT *,
    CASE WHEN sec_marker IS NOT NULL THEN 1 ELSE 0 END AS is_sec,
    CASE WHEN date_iso IS NOT NULL THEN 1 ELSE 0 END AS is_dateish
  FROM classed
),
grouped AS (
  SELECT *,
    SUM(CASE WHEN is_dateish = 1 OR is_sec = 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY line_no
            ROWS UNBOUNDED PRECEDING) AS grp,
    {carry} AS section_ctx
  FROM flagged
),
blocks AS (
  -- the wf lesson applied here: a group's opener IS its first line
  -- (every dateish/section line starts a new group), so opener
  -- validity + block date ride ONE window instead of two openers
  -- joins that re-instantiated the whole classification subtree
  -- (CTE inlining).  section_ctx is CONSTANT across an opener
  -- group's lines (section markers always start their own group), so
  -- MAX carries it through the group-by; it may be genuinely NULL,
  -- which block_date's NOT NULL (date_iso is never null on an
  -- opener) keeps distinguishable from "no opener".
  SELECT doc_id, grp, MAX(block_date) AS block_date,
    MAX(section_ctx) AS section_ctx, {ordcat} AS body
  FROM (SELECT *,
          MAX(CASE WHEN is_dateish = 1 AND is_sec = 0 AND is_noise = 0
                   THEN date_iso END)
            OVER (PARTITION BY doc_id, grp) AS block_date
        FROM grouped) m
  WHERE is_noise = 0 AND is_sec = 0 AND block_date IS NOT NULL
  GROUP BY doc_id, grp
),
gated AS (
  SELECT b.doc_id, b.grp, b.block_date, b.section_ctx, b.body
  FROM blocks b
  WHERE NOT {legal}
    AND NOT (instr(lower(b.body), 'daily ending balance') > 0
             OR ({month_through} AND NOT {bal_words}))
    AND NOT ({meta_words}
             OR ({meta_co} AND NOT {tx_words}))
),
withtoks AS (
  SELECT doc_id, grp, block_date, section_ctx, body,
    toks, {sval} AS vals, {segs} AS segs, {ntok} AS n
  FROM (SELECT *, {toks} AS toks FROM gated) t
  WHERE {ntok0} > 0
),
branched AS (
  -- ONE pass over withtoks for BOTH account kinds: the old
  -- checking/savings UNION ALL re-derived the whole upstream
  -- pipeline (inject -> classify -> windows -> block group-by ->
  -- tokenize) once per branch — the section filters differ, so
  -- Catalyst cannot reuse the subtree (measured: the union's heavy
  -- stage ran 2x64 tasks; merging halves it, 2.7 s -> under 2 s at
  -- sf0.1).  Branch-specific expressions ride CASE ... END on
  -- is_sav, so each row still evaluates only its own branch.
  SELECT *,
    CASE WHEN coalesce(section_ctx, '') = 'savings'
         THEN 1 ELSE 0 END AS is_sav,
    CASE WHEN n = 1 THEN 1
         WHEN n = 2 THEN 1
         ELSE {first_k} END AS k,
    CASE WHEN n >= 2 THEN n - 1 ELSE n END AS bn,
    {v1} AS v1,
    CASE WHEN n >= 2 THEN {v2} ELSE NULL END AS v2
  FROM withtoks
),
staged AS (
  SELECT doc_id, grp, block_date AS date, is_sav, body, bn, v1, v2,
    CASE WHEN is_sav = 1 THEN {sv_desc}
         ELSE {clean_desc} END AS description,
    CASE WHEN is_sav = 1 THEN
           CASE WHEN bn >= 2 THEN
             CASE WHEN abs(v1) > 0.01 AND abs(v2) < 0.01 THEN abs(v1)
                  WHEN abs(v2) > 0.01 AND abs(v1) < 0.01 THEN abs(v2)
                  WHEN abs(v2) > abs(v1) THEN abs(v2)
                  ELSE abs(v1) END
           ELSE abs(v1) END
         ELSE abs({elem_vk}) END AS amount,
    {elem_vk} AS signed_amount
  FROM branched
),
unioned AS (
  SELECT doc_id, grp, date, description, amount,
    CASE WHEN is_sav = 1 THEN
      CASE WHEN bn >= 2 THEN
             CASE WHEN abs(v1) > 0.01 AND abs(v2) < 0.01 THEN 'out'
                  WHEN abs(v2) > 0.01 AND abs(v1) < 0.01 THEN 'in'
                  WHEN abs(v2) > abs(v1) THEN 'in'
                  ELSE 'out' END
           WHEN {sv_in} THEN 'in'
           WHEN {sv_out} THEN 'out'
           WHEN v1 > 0 THEN 'in' ELSE 'out' END
    ELSE {c5} END AS direction
  FROM staged WHERE {mindesc}
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY date, grp)
       AS INT) - 1 AS tx_index,
  date, description, amount, direction
FROM unioned
""".format(inject=CITI_INJECT_SQL.format(p=p),
           mindesc=_mindesc_sql(d),
           section=_citi_section_sql("low"),
           noise=_citi_noise_sql("low", "line", d),
           datep=datep, p=p,
           carry=LAST_IGNULLS("sec_marker", "line_no", "doc_id", d),
           ordcat=ORD_CONCAT("trim(line)", " ", "line_no", d),
           legal=_contains_any("lower(b.body)", _CITI_LEGAL),
           month_through=RLIKE("lower(b.body)", _MONTH_THROUGH, d),
           bal_words=_contains_any("lower(b.body)", _CITI_BAL_WORDS),
           meta_words=_contains_any("lower(b.body)", _CITI_META_WORDS),
           meta_co=RLIKE("b.body", r"^\d{1,2}/\d{1,2}\s+[A-Z\s]+"
                                   r"(LLC|INC|CORP|COMPANY)", d),
           tx_words=_contains_any("lower(b.body)", _CITI_TX_KEYWORDS),
           sval=sval, segs=segs, toks=toks,
           ntok=LEN("toks", d), ntok0=LEN("%s" % toks, d),
           clean_desc=_citi_clean_sql(
               "(CASE WHEN n = 1 THEN body ELSE %s END)" % prefix, d),
           elem_vk=elem % ("vals", "k"), first_k=first_k,
           sv_desc=_citi_clean_sql(
               "trim(%s)" % REREPL(blanked, r"\s+", " ", d), d),
           sv_in=_contains_any("lower(body)",
                               ("interest", "deposit", "credit",
                                "reversal")),
           sv_out=_contains_any("lower(body)",
                                ("fee", "withdrawal", "debit",
                                 "withholding")),
           v1=elem % ("vals", "1"), v2=elem % ("vals", "2"),
           c5=_citi_direction_sql("description", "signed_amount", d)), d)


# Python mirrors of the remaining in-plan injections (shared by the
# differential tests and tools/fuzz_relational.py; the heavier mirrors
# chase/bofa/rel/wf/citi_inject_py live next to their SQL above).
def truist_inject_py(doc_id: int, line_no: int, line: str) -> str:
    if line_no % 9 == 1:
        return ("Deposits, credits and interest"
                if (doc_id + line_no) % 2 == 0
                else "Other withdrawals, debits and fees")
    return line


def valley_inject_py(doc_id: int, line_no: int, line: str) -> str:
    if line_no % 23 == 7:
        return line + "x" * 260
    return line


def mercury_inject_py(doc_id: int, line_no: int, line: str) -> str:
    if line_no % 7 == 3:
        return "Feb 7 " + line
    return line
