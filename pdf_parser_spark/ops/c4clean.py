"""C4-style document cleaning (Raffel et al. 2020, the C4 corpus
rules) — the canonical webtext line/page filter battery:

* keep only lines ending in terminal punctuation;
* drop lines with fewer than 5 words;
* drop lines containing ``javascript``;
* remove any PAGE containing ``lorem ipsum`` or a curly brace;
* remove pages left with fewer than 3 sentences (kept terminal-punct
  lines are the sentence surrogate — in this synthesis every kept
  line is exactly one sentence).

(C4's remaining rule — corpus-wide dedup of repeated three-sentence
spans — is the exact-substring tier: see ops/dedup.q_exact_substring.)

The driver corpus has no line structure, so (same pattern as
``boilerplate_lines``) pages are synthesized in-plan: the doc's text
as 8-word sentences with terminal periods, plus injected chrome that
exercises every rule branch — a short non-terminal line (both line
rules), a long non-terminal line (punctuation rule alone), a
javascript notice on 1/4 of docs, a lorem-ipsum line on ~1/37
(page killer), and a curly-brace config line on ~1/41 (page killer).
Tail text segments shorter than 5 words exercise the word-count
boundary on real data.

Shape at 10^12 pages: explode to lines (narrow), per-line predicates
are pure string ops fused into the scan projection (whole-stage
codegen, no UDF), and the page verdict is one (doc_id) hash re-agg —
no joins, no shuffle beyond the single group-by.  Every page emits a
verdict row (kept or dropped-with-reason): at crawl scale the reason
histogram IS the pipeline's quality dashboard, so dropping rows here
would destroy the lineage the sidecar metrics contract requires.
"""

from __future__ import annotations

from ..relational import (
    DUCK, JOINA, LEN, ORD_CONCAT, POS_TOKS_CTE, REALL, SLICE, SPARK,
)

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


@query("c4_clean")
def q_c4_clean(d: str) -> str:
    """Per page: line tallies, the kept-sentence digest, the page
    verdict and its drop reason (precedence: lorem_ipsum > brace >
    few_sentences > kept)."""
    toks = POS_TOKS_CTE(d)
    n_words = "CAST(%s AS BIGINT)" % LEN(REALL("line", r"\S+", d), d)
    terminal = ("(line LIKE '%.' OR line LIKE '%!' OR line LIKE '%?' "
                "OR line LIKE '%\"')")
    kept_md5 = "CASE WHEN is_kept = 1 THEN md5(line) END"
    return """
WITH {toks},
content AS (
  SELECT doc_id, 10 + CAST(floor(pos / 8.0) AS BIGINT) AS line_no,
         {seg_line} || '.' AS line
  FROM toks GROUP BY doc_id, CAST(floor(pos / 8.0) AS BIGINT)
),
pages AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS line_no, 'Read more' AS line
  FROM documents
  UNION ALL
  SELECT doc_id, CAST(1 AS BIGINT),
         'Click here to subscribe to our newsletter today'
  FROM documents
  UNION ALL
  SELECT doc_id, CAST(2 AS BIGINT),
         'Please enable javascript to view this page properly.'
  FROM documents WHERE doc_id % 4 = 1
  UNION ALL
  SELECT doc_id, CAST(3 AS BIGINT),
         'Lorem ipsum dolor sit amet consectetur adipiscing elit.'
  FROM documents WHERE doc_id % 37 = 3
  UNION ALL
  SELECT doc_id, CAST(4 AS BIGINT),
         'var config = {{ mode: production }};'
  FROM documents WHERE doc_id % 41 = 5
  UNION ALL
  SELECT doc_id, line_no, line FROM content
),
judged AS (
  SELECT doc_id, line_no, line,
    CASE WHEN {terminal} AND {n_words} >= 5
          AND lower(line) NOT LIKE '%javascript%'
          AND lower(line) NOT LIKE '%lorem ipsum%'
          AND line NOT LIKE '%{{%'
         THEN 1 ELSE 0 END AS is_kept,
    CASE WHEN lower(line) LIKE '%lorem ipsum%' THEN 1 ELSE 0
         END AS has_lorem,
    CASE WHEN line LIKE '%{{%' THEN 1 ELSE 0 END AS has_brace
  FROM pages
),
verdict AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_lines,
    CAST(SUM(is_kept) AS BIGINT) AS n_kept_lines,
    CAST(MAX(has_lorem) AS BIGINT) AS page_lorem,
    CAST(MAX(has_brace) AS BIGINT) AS page_brace,
    md5(COALESCE(NULLIF({kept_cat}, ''), 'EMPTY')) AS kept_digest
  FROM judged GROUP BY doc_id
)
SELECT doc_id, n_lines, n_kept_lines, kept_digest,
  CASE WHEN page_lorem = 0 AND page_brace = 0 AND n_kept_lines >= 3
       THEN 1 ELSE 0 END AS page_kept,
  CASE WHEN page_lorem = 1 THEN 'lorem_ipsum'
       WHEN page_brace = 1 THEN 'brace'
       WHEN n_kept_lines < 3 THEN 'few_sentences'
       ELSE 'kept' END AS drop_reason
FROM verdict
""".format(toks=toks.strip(),
           seg_line=ORD_CONCAT("w", " ", "pos", d),
           terminal=terminal, n_words=n_words,
           kept_cat=ORD_CONCAT(kept_md5, "", "line_no", d))


_REP_K = 8         # repeated-window length (words)


@query("intradoc_dedup")
def q_intradoc_dedup(d: str) -> str:
    """WITHIN-document repeated-span removal — the FIX to go with the
    Gopher repetition SCORE (quality_repetition): generated/spammy
    pages repeat the same phrase dozens of times, and the cleaning
    tier keeps the first occurrence and strips the rest.

    Semantics (deterministic, order-based): over the document's word
    sequence, a position starts a REPEAT if its {k}-word window
    equals an earlier position's window (same doc).  Every word
    covered by some repeat-start's window is removed unless it is
    also covered by the FIRST occurrence — implemented with a single
    running-max window: covered(p) = max over repeat-starts s <= p of
    (s + {k} - 1) >= p.  First occurrences are never repeat-starts
    (min-pos rule), so originals survive.

    Twins: docs with doc_id % 9 = 5 get their first {k}+4 words
    appended again at the end (a verbatim repeated span); all other
    docs are word-soup with few organic 8-gram repeats.

    Shape at 10^12 docs: posexplode + two doc-partitioned windows
    (gram build, running max) + one (doc_id, gram) hash-agg for the
    min-pos rule + one per-doc re-agg — every exchange hash-partitions
    on doc_id or (doc_id, gram); no joins across documents, no
    all-pairs anything."""
    k = _REP_K
    ws = ("split(text, ' ')" if d == SPARK else "string_split(text, ' ')")
    probe = JOINA(SLICE("ws0", "1", str(k + 4), d), " ", d)
    if d == SPARK:
        toks = """
toks AS (
  SELECT doc_id, pos, w FROM twinned
  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
)"""
    else:
        toks = """
toks AS (
  SELECT doc_id, CAST(pos - 1 AS INT) AS pos, ws[pos] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM twinned) t
)"""
    leads = ", ".join("lead(w, %d) OVER wd" % i for i in range(1, k))
    grams = """
grams AS (
  SELECT doc_id, pos, w,
    CASE WHEN lead(w, {km1}) OVER wd IS NOT NULL
         THEN concat_ws(' ', w, {leads}) END AS g
  FROM toks
  WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)
)""".format(km1=k - 1, leads=leads)
    return """
WITH base AS (
  SELECT doc_id, text, {ws_expr} AS ws0 FROM documents
),
twinned AS (
  SELECT doc_id,
    CASE WHEN doc_id % 9 = 5 THEN text || ' ' || {probe}
         ELSE text END AS text
  FROM base
),{toks},{grams},
firsts AS (
  SELECT doc_id, g, MIN(pos) AS first_pos
  FROM grams WHERE g IS NOT NULL GROUP BY doc_id, g
),
marked AS (
  SELECT gr.doc_id, gr.pos, gr.w,
    CASE WHEN f.first_pos IS NOT NULL AND gr.pos > f.first_pos
         THEN gr.pos + {km1} END AS rep_end
  FROM grams gr
  LEFT JOIN firsts f ON f.doc_id = gr.doc_id AND f.g = gr.g
),
covered AS (
  SELECT doc_id, pos, w,
    CASE WHEN MAX(rep_end) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) >= pos
         THEN 1 ELSE 0 END AS removed
  FROM marked
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(removed) AS BIGINT) AS n_removed,
  md5({kept}) AS kept_digest
FROM covered
GROUP BY doc_id
""".format(ws_expr=ws, probe=probe, toks=toks.strip(), grams=grams.strip(),
           km1=k - 1,
           kept=ORD_CONCAT("CASE WHEN removed = 0 THEN w END",
                           " ", "pos", d))
