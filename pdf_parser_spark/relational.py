"""The relational path: every SURVEY §2 operator that is
SQL-expressible, written ONCE as a dialect-paired SQL generator —
``sql(name, 'spark')`` runs under Catalyst, ``sql(name, 'duckdb')`` is
the independent oracle the driver executes side-by-side.

Input tables are the driver's parquet fixtures (TESTDATA.md).  The
``documents`` prose has no dates/amounts, so a deterministic shared CTE
(``stmt_lines``) derives statement-shaped lines from it — 6-word
chunks with injected MM/DD prefixes, money lexemes, direction keywords
and issuer tokens, all pure integer arithmetic on (doc_id, line_no,
n_chars) so both engines derive byte-identical lines.  The real
operators (window segmentation, amount lexer, direction CASE,
detection CASE, normalization sort) then run on those lines.

Float policy: any SUM over doubles goes through DECIMAL(38,x) so the
result is independent of accumulation order (and therefore identical
across engines); per-row double arithmetic (ratio, cosine) is IEEE-
deterministic and needs no such treatment.

The two DIRECTION_RULES patterns using negative lookahead
(common.py:17,28 — RE2/SQL have no lookahead) are rewritten with exact
last-occurrence semantics (see ``direction_case``); since round 3 this
is a true equivalence, not the earlier single-occurrence approximation.
"""

from __future__ import annotations

import os
from typing import Callable, Dict

SPARK, DUCK = "spark", "duckdb"

# Parallelism for the CPU-heavy derived-lines stage (see with_lines):
# must be EXPLICIT in the REPARTITION hint — a bare REPARTITION(col)
# lets AQE coalesce the exchange down to 1-2 partitions (it optimizes
# for shuffle bytes, and the derived lines are small) which serializes
# the regex battery that follows.  2× cores, same rationale as the
# pipeline's salted over-partitioning; override via env on a cluster.
LINE_PARTITIONS = int(os.environ.get(
    "SPARK_GRAFT_LINE_PARTITIONS", str(2 * (os.cpu_count() or 16))))

AMOUNT_PATTERN = (
    r"(?:\$\d{1,3}(?:,\d{3})*(?:\.\d{2})?"
    r"|\(?-\d{1,3}(?:,\d{3})*(?:\.\d{2})?\)?"
    r"|\d{1,3}(?:,\d{3})*\.\d{2})"
)


# --------------------------------------------------------------- dialect
def lit(pattern: str, d: str) -> str:
    """Regex pattern → SQL string literal (Spark doubles backslashes)."""
    body = pattern.replace("\\", "\\\\") if d == SPARK else pattern
    return "'" + body.replace("'", "''") + "'"


def RLIKE(s: str, pattern: str, d: str) -> str:
    p = lit(pattern, d)
    return ("%s rlike %s" % (s, p)) if d == SPARK else (
        "regexp_matches(%s, %s)" % (s, p))


def TRIMS(x: str, d: str) -> str:
    """ASCII-space-only trim, identical across engines.

    Spark's ``trim()`` strips only 0x20; DuckDB's strips unicode
    spaces too (NBSP et al.), so bare ``trim()`` diverges whenever a
    value starts or ends with a non-ASCII space (found by
    tools/fuzz_textops.py on an NBSP-leading document).  Pinning the
    charset to ``' '`` makes both engines space-only."""
    return ("trim(%s)" % x) if d == SPARK else ("trim(%s, ' ')" % x)


def LEN(arr: str, d: str) -> str:
    return ("size(%s)" % arr) if d == SPARK else ("len(%s)" % arr)


def SLICE(arr: str, start: str, n: str, d: str) -> str:
    if d == SPARK:
        return "slice(%s, %s, %s)" % (arr, start, n)
    return "list_slice(%s, %s, (%s)+(%s)-1)" % (arr, start, start, n)


def JOINA(arr: str, sep: str, d: str) -> str:
    fn = "array_join" if d == SPARK else "array_to_string"
    return "%s(%s, '%s')" % (fn, arr, sep)


def SEQ0(n: str, d: str) -> str:
    """[0, n) as a list."""
    return ("sequence(0, (%s)-1)" % n) if d == SPARK else ("range(0, %s)" % n)


def TRANSFORM(arr: str, var: str, expr: str, d: str) -> str:
    if d == SPARK:
        return "transform(%s, %s -> %s)" % (arr, var, expr)
    return "[%s for %s in %s]" % (expr, var, arr)


def AMIN(arr: str, d: str) -> str:
    return ("array_min(%s)" % arr) if d == SPARK else ("list_min(%s)" % arr)


def REALL(sexpr: str, pattern: str, d: str) -> str:
    """All matches of a (group-free) pattern — Spark needs an explicit
    group index 0 (its default of 1 requires a capture group)."""
    p = lit(pattern, d)
    if d == SPARK:
        return "regexp_extract_all(%s, %s, 0)" % (sexpr, p)
    return "regexp_extract_all(%s, %s)" % (sexpr, p)


def REREPL(sexpr: str, pattern: str, repl: str, d: str) -> str:
    """Replace ALL occurrences (DuckDB needs the 'g' flag; Spark is
    global by default)."""
    p = lit(pattern, d)
    if d == SPARK:
        return "regexp_replace(%s, %s, '%s')" % (sexpr, p, repl)
    return "regexp_replace(%s, %s, '%s', 'g')" % (sexpr, p, repl)


def LET(val: str, body, d: str, var: str = "_v") -> str:
    """Single-evaluation let-binding: bind ``val`` to a lambda variable
    so the emitted SQL references it ONCE — ``body`` is a callable
    receiving the variable name and returning the expression text.

    Why this exists: SQL has no let, so macro helpers that need a
    subexpression k times (capitalize-first needs the cleaned string
    3x; direction batteries test a lowered description ~12x) textually
    duplicate the whole subexpression tree.  Catalyst then multiplies
    it again when CollapseProject/filter-pushdown substitute aliases —
    measured: citi_relational's optimized plan carried 125
    regexp_replace nodes for a query whose SOURCE has ~10, and the
    per-invocation analyze+optimize cost (re-paid by every
    DataFrame.count()) scaled with that tree.  Runtime was never the
    problem (codegen subexpression elimination dedupes execution);
    PLAN SIZE was.  A one-element higher-order transform is the
    let-expression both engines share: the bound value is evaluated
    once, the body references a lambda variable, and the optimizer
    has nothing to duplicate.  Use a distinct ``var`` when nesting."""
    if d == SPARK:
        return ("element_at(transform(array(%s), %s -> %s), 1)"
                % (val, var, body(var)))
    return ("list_extract(list_transform([%s], %s -> %s), 1)"
            % (val, var, body(var)))


def TOKS_CTE(d: str, cols: str = "doc_id", alias: str = "toks",
             src: str = "documents") -> str:
    """The single-space word-explode CTE ``alias(cols…, w)`` — ONE
    definition of the corpus tokenization shared by the retrieval
    (BM25), CCNet-LM, DSIR, and tf-idf tiers, so they can never
    silently tokenize differently.  Spark's split() takes a regex but
    a lone space has no metacharacters — literal-identical to
    DuckDB's string_split."""
    if d == SPARK:
        return """
{a} AS (
  SELECT {c}, w FROM {s}
  LATERAL VIEW explode(split(text, ' ')) t AS w
)""".format(a=alias, c=cols, s=src)
    return """
{a} AS (
  SELECT {c}, unnest(string_split(text, ' ')) AS w FROM {s}
)""".format(a=alias, c=cols, s=src)


def POS_TOKS_CTE(d: str, cols: str = "doc_id",
                 src: str = "documents") -> str:
    """The positional form of TOKS_CTE: ``toks(cols…, pos, w)`` with
    the 0-based token position (DuckDB's 1-based subscripts shifted
    down by one, so both engines number tokens alike)."""
    if d == SPARK:
        return """
toks AS (
  SELECT {c}, pos, w FROM {s}
  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
)""".format(c=cols, s=src)
    return """
ws AS (SELECT {c}, string_split(text, ' ') AS ws FROM {s}),
toks AS (SELECT {c}, unnest(ws) AS w,
                generate_subscripts(ws, 1) - 1 AS pos
         FROM ws)""".format(c=cols, s=src)


def WPOS_CTE(d: str, src: str = "documents") -> str:
    """``wpos(doc_id, pos, w)``: the tokens of ``src`` with their
    0-based positions, the one-CTE spelling of POS_TOKS_CTE."""
    if d == SPARK:
        return """wpos AS (
  SELECT doc_id, pos, w FROM {s}
  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
)""".format(s=src)
    return """wpos AS (
  SELECT doc_id, u.pos - 1 AS pos, u.w
  FROM (SELECT doc_id,
          unnest(string_split(text, ' ')) AS w,
          generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM {s}) u(doc_id, w, pos)
)""".format(s=src)


def PRINTF(d: str) -> str:
    return "format_string" if d == SPARK else "printf"


def ORD_CONCAT(col: str, sep: str, order_by: str, d: str) -> str:
    """Order-preserving string aggregation (G4)."""
    if d == DUCK:
        return "string_agg(%s, '%s' ORDER BY %s)" % (col, sep, order_by)
    return (
        "concat_ws('%s', transform(array_sort(collect_list("
        "struct(%s as o, %s as v))), x -> x.v))" % (sep, order_by, col)
    )


def ORD_ARRAY(col: str, order_by: str, d: str) -> str:
    """Order-preserving array aggregation (array analogue of
    ORD_CONCAT): collect ``col`` ordered by ``order_by``."""
    if d == DUCK:
        return "list(%s ORDER BY %s)" % (col, order_by)
    return ("transform(array_sort(collect_list("
            "struct(%s as o, %s as v))), x -> x.v)" % (order_by, col))


def EPOCH(ts: str, d: str) -> str:
    if d == SPARK:
        return "unix_timestamp(%s)" % ts
    # floor, not round: Spark unix_timestamp truncates sub-second
    return "cast(floor(epoch(%s)) as bigint)" % ts


def HEX2INT(hexpr: str, d: str) -> str:
    """First 15 hex chars of a digest → BIGINT (fits in 60 bits)."""
    if d == SPARK:
        return "cast(conv(substring(%s, 1, 15), 16, 10) as bigint)" % hexpr
    return "cast(('0x' || substring(%s, 1, 15)) as bigint)" % hexpr


def DECSUM(expr: str, d: str, scale: int = 6) -> str:
    """Order-independent SUM over doubles via decimal.

    Scale 6, not higher: Spark converts double→decimal through the
    SHORTEST decimal repr (BigDecimal.valueOf) while DuckDB expands the
    exact binary value — at scale ≥ 13 the two diverge in the last
    digits.  At scale 6 both quantize to the same decimal whenever the
    value's shortest repr has ≤ 6 fractional digits (all driver data)."""
    return ("cast(sum(cast(%s as decimal(38,%d))) as double)"
            % (expr, scale))


# ----------------------------------------------------------- derived CTE

_ISSUER_TOKEN = (
    "CASE doc_id % 10 WHEN 1 THEN 'chase.com ' WHEN 2 THEN 'Wells Fargo ' "
    "WHEN 3 THEN 'Bank of America ' WHEN 4 THEN 'CitiBusiness ' "
    "WHEN 5 THEN 'Truist ' WHEN 6 THEN 'Mercury ' WHEN 7 THEN 'Valley ' "
    "WHEN 8 THEN 'Pacific National Bank ' "
    "WHEN 9 THEN 'International Finance Bank ' ELSE '' END"
)


def stmt_lines_cte(d: str) -> str:
    """Derived statement lines: (doc_id, line_no, line).

    The outer trim(translate(...)) is the S4 normalization contract
    (reference base.py:18-19: NBSP→space, unicode dashes→'-', strip)
    applied in-plan: without it, hostile unicode in ``documents.text``
    diverges from the engine, whose Python regexes/strip() are
    unicode-aware while Java's and DuckDB's are ASCII-only (found by
    tools/fuzz_relational.py)."""
    p = PRINTF(d)
    ws = "split(text, ' ')" if d == SPARK else "string_split(text, ' ')"
    nlines = "cast(ceil(%s / 6.0) as int)" % LEN("ws", d)
    chunk = JOINA(SLICE("ws", "line_no*6+1", "6", d), " ", d)
    if d == SPARK:
        expl = (
            "SELECT doc_id, n_chars, ws, line_no FROM words "
            "LATERAL VIEW explode(%s) t AS line_no" % SEQ0(nlines, d)
        )
    else:
        expl = (
            "SELECT doc_id, n_chars, ws, unnest(%s) AS line_no FROM words"
            % SEQ0(nlines, d)
        )
    return """
words AS (SELECT doc_id, n_chars, {ws} AS ws FROM documents),
chunked AS ({expl}),
stmt_lines AS (
  SELECT * FROM (
  SELECT doc_id, line_no,
    trim(translate(
    CASE WHEN line_no % 3 = 0
         THEN {p}('%02d/%02d ', (doc_id + line_no) % 12 + 1,
                                (doc_id * 7 + line_no) % 28 + 1)
         ELSE '' END
    || CASE WHEN line_no = 0 THEN {issuer} ELSE '' END
    || {chunk}
    || CASE WHEN line_no % 7 = 2 THEN ' WIRE OUT'
            WHEN line_no % 7 = 4 THEN ' ACH CREDIT'
            WHEN line_no % 7 = 6 THEN ' ZELLE PAYMENT FROM ALEX'
            ELSE '' END
    || CASE WHEN line_no % 11 = 5 THEN ' 1,234.56'
            WHEN line_no % 13 = 6 THEN ' (-42.00)'
            WHEN line_no % 2 = 0
            THEN {p}(' $%d.%02d', (n_chars * (line_no + 1)) % 999 + 1,
                                  (doc_id + line_no) % 100)
            WHEN line_no % 5 = 4
            THEN {p}(' -%d.%02d', n_chars % 999 + 1, line_no % 100)
            ELSE '' END
    , '{nbsp}{endash}{emdash}{minus}', ' ---'))
    AS line
  FROM chunked WHERE {chunk} <> ''
) q WHERE line <> ''
)""".format(ws=ws, expl=expl, p=p, issuer=_ISSUER_TOKEN, chunk=chunk,
            nbsp="\u00a0", endash="\u2013", emdash="\u2014",
            minus="\u2212")


def with_lines(body: str, d: str, barrier: bool = False) -> str:
    """Prefix ``body`` with the derived-lines CTE.

    ``barrier=True`` (used by every full-parser query) re-exposes
    stmt_lines behind a REPARTITION(doc_id) hint on the Spark side:
    CollapseProject otherwise inlines the line-construction expression
    into EVERY downstream regex/CASE reference — measured 26 copies of
    the concat chain in the citi plan, 7.4s → 2.7s at sf0.1 with the
    barrier.  The exchange is NOT an extra shuffle for these queries:
    their windows partition by doc_id, so the explicit repartition just
    moves the doc_id exchange below the regex battery where rows are
    narrower.  Plain lexer queries (no window, single line reference)
    keep barrier=False — for them the exchange would be pure cost.
    DuckDB materializes CTEs by default; its passthrough is a no-op."""
    cte = stmt_lines_cte(d)
    if barrier:
        cte = cte.replace("stmt_lines AS (", "stmt_lines0 AS (", 1)
        hint = ("/*+ REPARTITION(%d, doc_id) */ " % LINE_PARTITIONS
                if d == SPARK else "")
        cte += ",\nstmt_lines AS (SELECT %s* FROM stmt_lines0)" % hint
    return "WITH %s %s" % (cte, body)


# ------------------------------------------------------------ queries

QUERIES: Dict[str, Callable[[str], str]] = {}


def query(name: str):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


@query("s3_lines")
def q_lines(d: str) -> str:
    """S3/S4 line scan: the derived line table itself (validates both
    dialect implementations against each other)."""
    return with_lines(
        "SELECT doc_id, line_no, line FROM stmt_lines", d)


@query("d2_slash_dates")
def q_slash_dates(d: str) -> str:
    """D2 ``parse_mmdd_token``: anchored MM/DD[/YY[YY]] → ISO string
    (no calendar validation, 2-digit year → 2000+yy; base.py:56-62).
    Fallback year pinned to 2024 (no year tokens in derived lines)."""
    pat = r"^\s*(\d{1,2})/(\d{1,2})(?:/(\d{2,4}))?\b"
    mm = "regexp_extract(line, %s, 1)" % lit(pat, d)
    dd = "regexp_extract(line, %s, 2)" % lit(pat, d)
    yy = "regexp_extract(line, %s, 3)" % lit(pat, d)
    p = PRINTF(d)
    return with_lines("""
SELECT doc_id, line_no,
  CASE WHEN {mm} = '' THEN NULL
       ELSE {p}('%04d-%02d-%02d',
                CASE WHEN {yy} = '' THEN 2024
                     WHEN cast({yy} as int) < 100
                     THEN 2000 + cast({yy} as int)
                     ELSE cast({yy} as int) END,
                cast({mm} as int), cast({dd} as int))
  END AS iso_date
FROM stmt_lines""".format(mm=mm, dd=dd, yy=yy, p=p), d)


@query("d1_amount_lexer")
def q_amount_lexer(d: str) -> str:
    """D1 money lexer: every RE_AMOUNT lexeme per line with position
    (base.py:7)."""
    toks = REALL("line", AMOUNT_PATTERN, d)
    if d == SPARK:
        body = ("SELECT doc_id, line_no, pos + 1 AS tok_pos, tok "
                "FROM (SELECT doc_id, line_no, %s AS toks FROM stmt_lines) t "
                "LATERAL VIEW posexplode(toks) x AS pos, tok" % toks)
    else:
        body = ("SELECT doc_id, line_no, "
                "generate_subscripts(toks, 1) AS tok_pos, "
                "unnest(toks) AS tok "
                "FROM (SELECT doc_id, line_no, %s AS toks FROM stmt_lines) t"
                % toks)
    return with_lines(body, d)


def _signed_first_amount(d: str, toks: str = "toks") -> str:
    """D6 pick_amount sign/parse logic as an expression over a token
    array (base.py:76-85): negative iff leading '-' or '('; strip
    '(',')','-','$',',' then cast."""
    first = ("element_at(%s, 1)" % toks) if d == SPARK else ("%s[1]" % toks)
    bare = ("cast(%s as double)"
            % REREPL(first, r"[\(\)\-\$,]", "", d))
    neg = RLIKE(first, r"^[\(\-]", d)
    return ("CASE WHEN %s = 0 THEN NULL WHEN %s THEN -%s ELSE %s END"
            % (LEN(toks, d), neg, bare, bare))


@query("d6_first_amount")
def q_first_amount(d: str) -> str:
    """D6 ``pick_amount(prefer_first=True)`` per line."""
    toks = REALL("line", AMOUNT_PATTERN, d)
    return with_lines("""
SELECT doc_id, line_no, {amt} AS amount
FROM (SELECT doc_id, line_no, {toks} AS toks FROM stmt_lines) t
""".format(toks=toks, amt=_signed_first_amount(d)), d)


def _is_date(d: str) -> str:
    return ("CASE WHEN %s THEN 1 ELSE 0 END"
            % RLIKE("line", r"^\s*\d{1,2}/\d{1,2}(/\d{2,4})?\b", d))


@query("g1_block_ids")
def q_block_ids(d: str) -> str:
    """G1 block segmentation: running sum of date-line markers per doc
    (the window-function formulation of the reference's line loop,
    base.py:107-121 / SURVEY §2.9)."""
    # CAST at the output boundary: DuckDB window SUM(int) is HUGEINT
    # (Arrow decimal128) while Spark is BIGINT — numerically equal,
    # hash-different (same policy as events_sessions below)
    return with_lines("""
SELECT doc_id, line_no, is_date,
  CAST(SUM(is_date) OVER (PARTITION BY doc_id ORDER BY line_no
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS block_id
FROM (SELECT doc_id, line_no, {isd} AS is_date FROM stmt_lines) t
""".format(isd=_is_date(d)), d)


@query("g4_block_text")
def q_block_text(d: str) -> str:
    """G4 order-preserving block text assembly (base.py:115)."""
    return with_lines("""
SELECT doc_id, block_id, {cat} AS block_text,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM (
  SELECT doc_id, line_no, line,
    CAST(SUM({isd}) OVER (PARTITION BY doc_id ORDER BY line_no
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS block_id
  FROM stmt_lines
) b WHERE block_id > 0
GROUP BY doc_id, block_id
""".format(cat=ORD_CONCAT("line", " ", "line_no", d), isd=_is_date(d)), d)


# ordered, lookahead-free rewrite of DIRECTION_RULES (common.py:5-30)
_DIR_CASES = [
    (r"\bWIRE\s+OUT\b", None, "out"),
    (r"\bWIRE\s+FEE\b", None, "out"),
    (r"\bWIRE\s+TRANS\s+SVC\s+CHARGE\b", None, "out"),
    (r"\bACH\s+DEBIT\b", None, "out"),
    (r"\bACH\s+PULL\b", None, "out"),
    (r"\bBILL\s*(PAID|PMT)\b", None, "out"),
    (r"\bDEBIT\s+MEMO\b", None, "out"),
    (r"\bSERVICE CHARGE(S)?\b", None, "out"),
    (r"\bDBT\s+CRD\b", None, "out"),
    (r"\bPOS\s+DEB\b", None, "out"),
    (r"\bDEBIT\s+CARD\s+PURCH\b", None, "out"),
    (r"\bZELLE.*PAYMENT\s+TO\b", None, "out"),
    (r"\bPAYPAL\s", ("tail", "CREDIT"), "out"),        # lookahead rewrite
    (r"\bCHECK\b", None, "out"),
    (r"\bWITHDRAWAL\b", None, "out"),
    (r"\bFEE\b", None, "out"),
    (r"\bWIRE\s+IN\b", None, "in"),
    (r"\bACH\s+CREDIT\b", None, "in"),
    (r"\bACH\s+IN\b", None, "in"),
    (r"\bELECTRONIC\s+CREDIT\b", None, "in"),
    (r"\bDEBIT\s+CARD\s+CREDIT\b", None, "in"),
    (r"\bZELLE.*PAYMENT\s+FROM\b", None, "in"),
    (r"\bINTEREST\s+PAYMENT\b", None, "in"),
    (r"\bWT\b", ("tail", "(CHARGE|FEE)"), "in"),       # lookahead rewrite
    (r"\bPAYPAL.*CREDIT\b", None, "in"),
]


def REEXTRACT(sexpr: str, pattern: str, group: int, d: str) -> str:
    """Group extract ('' on no-match in both dialects)."""
    return "regexp_extract(%s, %s, %d)" % (sexpr, lit(pattern, d), group)


def direction_case(expr: str, d: str) -> str:
    """C2 global direction rules as one ordered CASE chain.

    The two negative-lookahead rules (common.py:17,28; RE2/SQL have no
    lookahead) use EXACT last-occurrence semantics: Python's
    ``search(p(?!.*F))`` succeeds iff SOME occurrence of ``p`` has no
    ``F`` after it, and since "no F after position i" is monotone in i,
    that occurrence exists iff the tail after the LAST ``p`` (greedy
    ``^(.*p)(.*)$``) is F-free.  (The pre-round-3 rewrite
    ``rlike(p) AND NOT rlike(p.*F)`` was only equivalent for a single
    occurrence of ``p`` per line — found by tools/fuzz_relational.py.)

    The uppercased input is LET-bound: the 26-rule battery references
    it ~30x (2x per negative-lookahead rewrite), and callers pass a
    COMPUTED description whose whole expression tree would otherwise
    be duplicated into every reference by optimizer substitution (see
    LET)."""
    return LET("upper(%s)" % expr,
               lambda v: _direction_case_tiers(v, d), d, var="_du")


def _direction_case_tiers(up: str, d: str) -> str:
    whens = []
    for pat, neg, out in _DIR_CASES:
        if isinstance(neg, tuple):
            split = "^(.*%s)(.*)$" % pat
            cond = ("(%s <> '' AND NOT %s)"
                    % (REEXTRACT(up, split, 1, d),
                       RLIKE(REEXTRACT(up, split, 2, d), neg[1], d)))
        else:
            cond = RLIKE(up, pat, d)
            if neg:
                cond = "(%s AND NOT %s)" % (cond, RLIKE(up, neg, d))
        whens.append("WHEN %s THEN '%s'" % (cond, out))
    return "CASE %s ELSE 'unknown' END" % " ".join(whens)


@query("c2_direction_rules")
def q_direction(d: str) -> str:
    """C2 DIR_RULES ordered first-match classification per line."""
    return with_lines(
        "SELECT doc_id, line_no, %s AS direction FROM stmt_lines"
        % direction_case("line", d), d)


# ordered detection table (C1, parsers/__init__.py:31-96) — the regexes
# that matter for the derived corpus; full table kept for parity.
_DETECT_CASES = [
    ("bofa", [r"\bBank of America\b", r"bankofamerica\.com", r"\bBOFA\b",
              r"\bBusiness Advantage\b", r"1\.888\.BUSINESS"]),
    ("chase", [r"chase\.com", r"\bChase Mobile\b", r"\bChase Debit Card\b",
               r"\bChase Total Checking\b", r"\bChase Savings\b"]),
    ("ifb", [r"International\s+Finance\s+Bank", r"\bIFB Bus Checking\b",
             r"\bifbbank\.com\b"]),
    ("valley", [r"\bValley\b", r"Valley National Bank", r"\bvalley\.com\b"]),
    ("mercury", [r"\bMercury\b", r"Choice Financial Group",
                 r"help@mercury\.com"]),
    ("pnb", [r"Pacific National Bank", r"\bP\.O\. Box 012620, Miami\b",
             r"\bACCT ENDING\b"]),
    ("wf", [r"\bWells Fargo\b", r"wellsfargo\.com",
            r"\bNavigate Business Checking\b",
            r"\bInitiate Business Checking\b"]),
    ("citi", [r"\bCitiBusiness\b", r"\bCitibank\b", r"\bCiti\b"]),
    ("truist", [r"\bTruist\b", r"truist\.com",
                r"\bZELLE BUSINESS PAYMENT\b"]),
]


def detect_case(expr: str, d: str) -> str:
    """C1 ordered issuer detection over a 20k-char prefix (F16)."""
    prefix = "substring(%s, 1, 20000)" % expr
    whens = []
    for key, pats in _DETECT_CASES:
        conds = " OR ".join(RLIKE(prefix, "(?i)" + p, d) for p in pats)
        whens.append("WHEN (%s) THEN '%s'" % (conds, key))
    return "CASE %s ELSE 'generic' END" % " ".join(whens)


@query("c1_detect_issuer")
def q_detect(d: str) -> str:
    """C1+F16: per-document issuer over assembled statement text."""
    return with_lines("""
SELECT doc_id, {case_} AS bank FROM (
  SELECT doc_id, {cat} AS full_text FROM stmt_lines GROUP BY doc_id
) t""".format(case_=detect_case("full_text", d),
              cat=ORD_CONCAT("line", "\n", "line_no", d)), d)


# generic_relational (the COMPLETE GenericParser, base.py:103-121)
# lives in relational_banks.py since round 3: its block gate needs the
# full slash→long→Mmm date battery (_date_value_sql) — the former
# slash-only gate here diverged from the engine on lines opening with
# month-name dates (found by tools/fuzz_relational.py).


@query("g7_lineage_rollup")
def q_lineage(d: str) -> str:
    """G7 extraction-metrics rollup by language: docs, lines,
    date lines, money lexemes (partial+final hash agg)."""
    toks = REALL("line", AMOUNT_PATTERN, d)
    return with_lines("""
SELECT lang,
  CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS docs,
  CAST(COUNT(*) AS BIGINT) AS lines,
  CAST(SUM({isd}) AS BIGINT) AS date_lines,
  CAST(SUM({ntok}) AS BIGINT) AS money_tokens
FROM stmt_lines s JOIN documents dd ON s.doc_id = dd.doc_id
GROUP BY lang
""".format(isd=_is_date(d), ntok=LEN(toks, d)), d)


@query("resume_anti_join")
def q_resume(d: str) -> str:
    """Resume anti-join (SURVEY §2.6): pending docs = all minus the
    committed subset (simulated as doc_id %% 7 = 0)."""
    if d == SPARK:
        join = ("SELECT a.doc_id, a.lang FROM documents a LEFT ANTI JOIN "
                "(SELECT doc_id FROM documents WHERE doc_id % 7 = 0) c "
                "ON a.doc_id = c.doc_id")
    else:
        join = ("SELECT a.doc_id, a.lang FROM documents a ANTI JOIN "
                "(SELECT doc_id FROM documents WHERE doc_id % 7 = 0) c "
                "USING (doc_id)")
    return join


@query("validation_join")
def q_validation(d: str) -> str:
    """Validation full-outer join (SURVEY §2.6): documents vs
    embeddings keyed doc_id=vec_id with presence flags."""
    return """
SELECT
  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL AND b.vec_id IS NOT NULL
       THEN 1 ELSE 0 END) AS BIGINT) AS matched,
  CAST(SUM(CASE WHEN b.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       AS doc_only,
  CAST(SUM(CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       AS vec_only
FROM documents a FULL OUTER JOIN embeddings b ON a.doc_id = b.vec_id
"""


@query("events_sessions")
def q_sessions(d: str) -> str:
    """Sessionization (same run-length window machinery as G1): a >30
    min gap opens a new session; per-session rollup with exact sums."""
    return """
WITH ordered AS (
  SELECT user_id, event_id, value, {ep} AS es,
    LAG({ep}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
  FROM events
), marked AS (
  SELECT user_id, event_id, value, es,
    CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END
      AS is_new
  FROM ordered
), sessions AS (
  SELECT user_id, event_id, value, es,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {vsum} AS total_value,
  CAST(MAX(es) - MIN(es) AS BIGINT) AS span_sec
FROM sessions GROUP BY user_id, session_id
""".format(ep=EPOCH("ts", d), vsum=DECSUM("value", d))


@query("events_hourly_rollup")
def q_hourly(d: str) -> str:
    """Tumbling 1h windows per event type (pre-aggregation pattern —
    map-side partial agg at scale)."""
    return """
SELECT event_type, CAST(floor({ep} / 3600) AS BIGINT) AS hour_bucket,
  CAST(COUNT(*) AS BIGINT) AS events, {vsum} AS total_value
FROM events GROUP BY event_type, hour_bucket
""".format(ep=EPOCH("ts", d), vsum=DECSUM("value", d))


# funnel stage codes in tie-break order: on equal timestamps the
# EARLIER stage is processed first, which makes the greedy fold agree
# with the chained-min (>=) oracle on every tie (a click in the same
# second as the first view still advances the funnel)
_FUNNEL_STEPS = [(1, "view"), (2, "click"), (3, "signup"),
                 (4, "purchase")]


@query("events_funnel")
def q_funnel(d: str) -> str:
    """Ordered conversion funnel (view → click → signup → purchase),
    ClickHouse-windowFunnel-style: per user, the longest PREFIX of the
    step sequence matchable as a subsequence of that user's event
    stream in timestamp order.

    The two dialects deliberately take DIFFERENT routes to the same
    rows — that independence is the point of the oracle pair:

    * Spark (the at-scale shape): ONE groupBy(user_id) pass — collect
      the per-user stage codes sorted by (epoch, stage) and fold
      greedily (advance on exactly the next stage).  Greedy
      earliest-completion subsequence matching is optimal, so the
      fold equals the chained-min semantics; one shuffle total, and
      the per-user array is bounded by that user's event count (the
      same per-key bound sessionization already carries).
    * DuckDB (the verification form): the classic 4-level chained
      aggregation — first view per user, first click AT OR AFTER it,
      first signup at or after that, first purchase last; step n's
      user count is |s_n|.

    Output: 4 rows — step_no, step, users reached, and conversion
    ppm vs step 1 (floor of one IEEE division, bit-identical across
    engines; counts themselves stay exact BIGINTs).

    Drop-off injection: the raw fixture gives every user hundreds of
    events of every type, so everyone converts and the oracle would
    never see a partial funnel.  Each user's stream is therefore
    truncated to its first ``1 + user_id % 19`` funnel events (one
    ROW_NUMBER window, identical in both dialects) — short streams
    genuinely stall at early steps, exercising every verdict tier.
    """
    stage = ("CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 "
             "WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 END")
    step_name = ("CASE step_no " + " ".join(
        "WHEN %d THEN '%s'" % (n, s) for n, s in _FUNNEL_STEPS)
        + " END")
    conv = ("CAST(FLOOR(CAST(users * 1000000 AS DOUBLE) / "
            "CAST(MAX(CASE WHEN step_no = 1 THEN users END) "
            "OVER () AS DOUBLE)) AS BIGINT)")
    ev = """ev0 AS (
  SELECT user_id, {ep} AS es, {stage} AS stage,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS rn
  FROM events
  WHERE event_type IN ('view', 'click', 'signup', 'purchase')
),
ev AS (
  SELECT user_id, es, stage FROM ev0 WHERE rn <= 1 + user_id % 19
)""".format(ep=EPOCH("ts", d), stage=stage)
    if d == SPARK:
        return """
WITH {ev},
per_user AS (
  SELECT user_id,
    aggregate({arr}, 0,
              (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1
                          ELSE acc END) AS reached
  FROM ev GROUP BY user_id
),
steps AS (SELECT explode(sequence(1, 4)) AS step_no),
counts AS (
  SELECT s.step_no,
    CAST(COUNT(CASE WHEN p.reached >= s.step_no THEN 1 END) AS BIGINT)
      AS users
  FROM steps s JOIN per_user p GROUP BY s.step_no
)
SELECT CAST(step_no AS INT) AS step_no, {sname} AS step, users,
  {conv} AS conv_ppm
FROM counts
""".format(ev=ev, arr=ORD_ARRAY("stage", "es * 8 + stage", d),
           sname=step_name, conv=conv)
    chain = ["s1 AS (SELECT user_id, MIN(es) AS t FROM ev "
             "WHERE stage = 1 GROUP BY user_id)"]
    for n in (2, 3, 4):
        chain.append(
            "s{n} AS (SELECT e.user_id, MIN(e.es) AS t FROM ev e "
            "JOIN s{p} ON s{p}.user_id = e.user_id "
            "WHERE e.stage = {n} AND e.es >= s{p}.t "
            "GROUP BY e.user_id)".format(n=n, p=n - 1))
    reach = " UNION ALL ".join(
        "SELECT %d AS step_no, CAST(COUNT(*) AS BIGINT) AS users FROM s%d"
        % (n, n) for n in (1, 2, 3, 4))
    return """
WITH {ev},
{chain},
counts AS ({reach})
SELECT CAST(step_no AS INT) AS step_no, {sname} AS step, users,
  {conv} AS conv_ppm
FROM counts
""".format(ev=ev, chain=",\n".join(chain),
           reach=reach, sname=step_name, conv=conv)


@query("events_retention")
def q_retention(d: str) -> str:
    """Weekly cohort retention — the engagement-curve rollup behind
    every activity dashboard: users are cohorted by the ISO week of
    their FIRST event; for each (cohort, weeks-since-signup) cell,
    how many of that cohort were active, and what fraction of the
    cohort that is.

    Shape at scale: one DISTINCT (user, week) projection, one
    per-user MIN (both partial-agg friendly), one join back on
    user_id — every shuffle keys on user_id so AQE co-locates the
    chain; no window over the raw event stream.  Retention ppm is
    the floor of one IEEE division (cohort sizes stay exact
    BIGINTs); the offset-0 cell is the cohort size itself, so every
    row's denominator is in-result and auditable.

    Churn injection: the raw fixture has every user active every
    week (retention would be a flat 100%), so a deterministic
    (user, week)-keyed filter drops a quarter of the activity cells
    — cohort weeks now vary per user and every cohort shows a real
    decay curve for the oracle to check."""
    return """
WITH uw AS (
  SELECT DISTINCT user_id,
    CAST(FLOOR({ep} / 604800) AS BIGINT) AS wk
  FROM events
  WHERE (user_id * 31 + CAST(FLOOR({ep} / 604800) AS BIGINT)) % 4
        <> 0
),
cohort AS (SELECT user_id, MIN(wk) AS w0 FROM uw GROUP BY user_id),
cells AS (
  SELECT c.w0 AS cohort_week, uw.wk - c.w0 AS week_offset,
    CAST(COUNT(*) AS BIGINT) AS active_users
  FROM uw JOIN cohort c ON c.user_id = uw.user_id
  GROUP BY c.w0, uw.wk - c.w0
)
SELECT cohort_week, week_offset, active_users,
  CAST(FLOOR(CAST(active_users * 1000000 AS DOUBLE)
       / CAST(MAX(CASE WHEN week_offset = 0 THEN active_users END)
              OVER (PARTITION BY cohort_week) AS DOUBLE)) AS BIGINT)
    AS retention_ppm
FROM cells
""".format(ep=EPOCH("ts", d))
