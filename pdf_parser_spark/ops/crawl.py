"""Crawl-politeness / frontier operators over ``documents``: robots.txt
longest-match filtering, anchor-text aggregation, and fetch-budget
apportionment.

The reference has no counterpart (training-data / web-curation tier,
same family as ops/webgraph.py); these are the stages between the
frontier and the fetcher in every Common-Crawl-style crawl:

* ``robots_filter`` — RFC 9309 rule matching: per-host Allow/Disallow
  prefix rules, the LONGEST matching rule wins, an Allow beats a
  Disallow of equal length, and a URL with no matching rule is
  fetchable.  (Scope: literal path prefixes — the original robots.txt
  dialect; ``*``/``$`` wildcard expansion is a per-rule preprocessing
  step, not a different join shape.)
* ``anchor_text_topk`` — the classic link-context signal: anchor
  strings aggregated per DESTINATION host, top-2 by count (this is
  what gives a page text evidence it never wrote itself — used both
  for ranking and for LLM-data quality priors).
* ``crawl_budget`` — largest-remainder (Hamilton) apportionment of a
  global fetch budget across hosts proportional to page counts:
  exact-integer quotas, so allocations sum to the budget EXACTLY —
  the politeness-quota math a frontier scheduler runs every cycle.

The driver corpus has no URLs (same pattern as ops/webgraph.py): each
doc derives a deterministic host + path / anchor snippet in-plan, so
both engines construct the identical input and the real operator runs
on top.

Cross-engine determinism: everything is integer or string compares —
no floats anywhere (the remainder sort is on exact ``%`` values).

Shape at 10^12 pages: robots rules are tiny per-host (a real crawl
holds ~10^7 hosts x ~10 rules) → the rules side is broadcast and the
match is a host equi-join + prefix compare, no shuffle of the URL
side beyond its existing partitioning; anchor aggregation partial-aggs
map-side before the (dst_host, anchor) shuffle; the budget step is one
hash agg to host granularity (~10^7 rows) + one global window over
HOSTS, not pages — driver-safe.  Hub skew (every doc links h0) lands
on grouped rows, not raw links, same as ops/webgraph.py.
"""

from __future__ import annotations

from ..relational import DUCK, SPARK, REALL, lit
from ..stages import scope
from .webgraph import CSTR, HOST, IDIV

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


_N_HOSTS = 40      # h0..h39, the webgraph host universe
_BUDGET = 97       # global fetch budget (prime → fractional quotas)


# ------------------------------------------------------------- robots

def _urls_cte(d: str) -> str:
    """documents → ``urls(doc_id, host, path)``: six path families
    chosen so every rule interaction below has true positives —
    ``/p<k>`` (hits the broad ``/p`` disallow), ``/private/x<k>``
    (the universal disallow), ``/public/a<k>`` (the Allow carve-out
    under a blanket disallow), ``/p/ok/<k>`` (longest-match Allow
    overriding the shorter ``/p`` Disallow), ``/dup/z<k>`` (the
    equal-length Allow-vs-Disallow tie), and bare ``/`` roots."""
    path = (
        "CASE doc_id % 5"
        " WHEN 0 THEN '/p' || {did}"
        " WHEN 1 THEN '/private/x' || {did}"
        " WHEN 2 THEN '/public/a' || {did}"
        " WHEN 3 THEN '/p/ok/' || {did}"
        " ELSE CASE WHEN doc_id % 10 = 4 THEN '/dup/z' || {did}"
        " ELSE '/' END END"
    ).format(did=CSTR("doc_id", d))
    return """
urls AS (
  SELECT doc_id, {host} AS host, {path} AS path
  FROM documents
)""".format(host=HOST("doc_id %% %d" % _N_HOSTS, d), path=path).strip()


def _rules_cte(d: str) -> str:
    """``rules(host, is_allow, prefix)`` — the parsed robots.txt corpus
    (one group per host).  Every host disallows ``/private/``; hosts
    ``hid%3=0`` disallow the broad ``/p`` but Allow ``/p/ok/``; hosts
    ``hid%7=0`` blanket-disallow ``/`` with a ``/public/`` Allow
    carve-out; hosts ``hid%5=4`` carry an equal-length ``/dup/``
    Allow AND Disallow (RFC 9309 §2.2.2: the least restrictive —
    Allow — wins a length tie)."""
    h = HOST("hid", d)
    rows = [
        ("0", "'/private/'", "1=1"),
        ("0", "'/p'", "hid % 3 = 0"),
        ("1", "'/p/ok/'", "hid % 3 = 0"),
        ("0", "'/'", "hid % 7 = 0"),
        ("1", "'/public/'", "hid % 7 = 0"),
        # hid%5=4 is exactly the class the /dup/z paths land on
        # (doc_id%10=4 → host doc_id%40 ∈ {4,14,24,34}, all ≡4 mod 5)
        ("0", "'/dup/'", "hid % 5 = 4"),
        ("1", "'/dup/'", "hid % 5 = 4"),
    ]
    selects = [
        "SELECT %s AS host, %s AS is_allow, %s AS prefix FROM hosts"
        " WHERE %s" % (h, a, p, w)
        for a, p, w in rows
    ]
    return """
hosts AS (SELECT DISTINCT doc_id % {n} AS hid FROM documents),
rules AS (
  {body}
)""".format(n=_N_HOSTS, body="\n  UNION ALL ".join(selects)).strip()


@query("robots_filter")
def q_robots_filter(d: str) -> str:
    """RFC 9309 robots filtering (module docstring): per URL, every
    host rule whose prefix starts the path competes; the winner is the
    longest prefix, Allow beating Disallow on equal length; no match
    → fetchable.  The prefix compare is ``substring(path,1,len(pfx)) =
    pfx`` — identical in both engines, sargable, no regex."""
    return """
WITH {urls},
{rules},
matched AS (
  SELECT u.doc_id, r.is_allow, r.prefix,
         CAST(length(r.prefix) AS BIGINT) AS plen
  FROM urls u
  JOIN rules r
    ON r.host = u.host
   AND substring(u.path, 1, length(r.prefix)) = r.prefix
),
winner AS (
  SELECT doc_id, is_allow, prefix,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY plen DESC, is_allow DESC, prefix) AS BIGINT) AS rk
  FROM matched
)
SELECT u.doc_id, u.host, u.path,
  CASE WHEN w.doc_id IS NULL THEN 1 ELSE w.is_allow END AS is_fetchable,
  CASE WHEN w.doc_id IS NULL THEN 'no_rule'
       WHEN w.is_allow = 1 THEN 'allow:' || w.prefix
       ELSE 'disallow:' || w.prefix END AS matched_rule
FROM urls u
LEFT JOIN winner w ON w.doc_id = u.doc_id AND w.rk = 1
""".format(urls=_urls_cte(d), rules=_rules_cte(d))


# -------------------------------------------------------- anchor text

_ANCHOR_WORDS = ["home", "login", "read more", "download",
                 "contact", "news", "about", "api"]


def _aword(idx_expr: str) -> str:
    branches = " ".join(
        "WHEN %d THEN '%s'" % (i, w) for i, w in enumerate(_ANCHOR_WORDS))
    return "CASE %s %s END" % (idx_expr, branches)


@query("anchor_text_topk")
def q_anchor_text_topk(d: str) -> str:
    """Per-destination-host anchor-text aggregation, top-2 anchors by
    count (ties: anchor string ASC).  Each doc emits two anchors in a
    markup snippet — one to a modular peer host with a rotating word,
    one to the hub h0 (so h0's histogram mixes all words) — parsed
    back out with the same href/text extraction a real pipeline runs.

    Shape: group to (dst_host, anchor) with map-side partial aggs,
    then ONE window over hosts' short per-host lists — never a raw
    per-link window."""
    # one <a> pair per branch: dst host + anchor word both rotate
    snippet = (
        "'<a href=\"https://h' || {m1} || '.example/\">' || {w1}"
        " || '</a> <a href=\"https://h0.example/\">' || {w2} || '</a>'"
    ).format(
        m1=CSTR("(doc_id * 7 + 1) %% %d" % _N_HOSTS, d),
        # modulus 7 is coprime to the host period 40, so every peer
        # host accumulates a genuine multi-word histogram (any word
        # index with period dividing 40 is CONSTANT per host class)
        w1=_aword("doc_id % 7"),
        w2=_aword("(doc_id + 5) %% %d" % len(_ANCHOR_WORDS)),
    )
    pairs = REALL("snippet", r'<a href="[^"]+">[^<]*</a>', d)
    if d == SPARK:
        exploded = ("SELECT a FROM src "
                    "LATERAL VIEW explode(%s) t AS a" % pairs)
    else:
        exploded = "SELECT unnest(%s) AS a FROM src" % pairs
    dst = ("regexp_extract(a, %s, 1)"
           % lit(r'href="https://([^/"]+)', d))
    txt = "regexp_extract(a, %s, 1)" % lit(r">([^<]*)</a>", d)
    return """
WITH src AS (SELECT doc_id, {snippet} AS snippet FROM documents),
anchors AS ({exploded}),
parsed AS (SELECT {dst} AS dst_host, {txt} AS anchor FROM anchors),
counts AS (
  SELECT dst_host, anchor, CAST(COUNT(*) AS BIGINT) AS n
  FROM parsed GROUP BY dst_host, anchor
),
ranked AS (
  SELECT dst_host, anchor, n,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY dst_host
           ORDER BY n DESC, anchor) AS BIGINT) AS rk
  FROM counts
)
SELECT dst_host, anchor, n, rk FROM ranked WHERE rk <= 2
""".format(snippet=snippet, exploded=exploded, dst=dst, txt=txt)


# ------------------------------------------------------- fetch budget

@query("crawl_budget")
def q_crawl_budget(d: str) -> str:
    """Largest-remainder apportionment of a {B}-fetch budget across
    hosts proportional to page counts: ``base = floor(B*n_h/N)`` per
    host, then the ``B - sum(base)`` leftover units go to the hosts
    with the largest remainders ``(B*n_h) % N`` (ties: hid ASC).
    All-integer → allocations sum to EXACTLY {B} (test-pinned), the
    property float proration cannot give."""
    base = IDIV("b * n_h", "n")   # exact floor; operands < 2^53
    return """
WITH per_host AS (
  SELECT doc_id % {nh} AS hid, CAST(COUNT(*) AS BIGINT) AS n_h
  FROM documents GROUP BY doc_id % {nh}
),
tot AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n FROM per_host),
quota AS (
  SELECT hid, n_h,
         {base} AS base,
         CAST((b * n_h) % n AS BIGINT) AS rem
  FROM per_host, tot, (SELECT CAST({b} AS BIGINT) AS b) bb
),
leftover AS (
  SELECT CAST({b} - SUM(base) AS BIGINT) AS k FROM quota
),
ranked AS (
  SELECT hid, n_h, base, rem,
         CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, hid) AS BIGINT) AS rk
  FROM quota
)
SELECT {hostx} AS host, n_h AS n_pages,
       base + CASE WHEN rk <= (SELECT k FROM leftover)
                   THEN 1 ELSE 0 END AS alloc,
       rem AS remainder
FROM ranked
""".format(nh=_N_HOSTS, b=_BUDGET, base=base, hostx=HOST("hid", d))


q_crawl_budget.__doc__ = (q_crawl_budget.__doc__ or "").format(B=_BUDGET)


# ---------------------------------------------------- recrawl schedule

@query("recrawl_schedule")
def q_recrawl_schedule(d: str) -> str:
    """Crawl-freshness scheduling from two snapshot generations — the
    change-rate estimation every recrawl scheduler (Cho & Garcia-Molina
    '03 refresh policies) runs: diff the per-URL content digests of
    snapshot t0 vs t1, roll verdicts up per host, and bucket hosts
    into recrawl tiers.

    Snapshots are synthesized in-plan (the corpus has one generation,
    so t1 derives deterministically): t0 holds every url except the
    ``doc_id%13=0`` class (those are NEW in t1), t1 drops the
    ``doc_id%17=0`` class (GONE), and t1's digest differs when the doc
    CHANGED — volatile hosts (hid%10=3) change every page, frozen
    hosts (hid%10=7) never change, everyone else changes the
    ``doc_id%160<40`` quarter of its pages (a within-host stride, so
    every host has both changed and unchanged pages).

    Per-URL verdict (FULL OUTER join on url): new / gone / changed /
    unchanged.  Per-host tier over seen = changed+unchanged:

        hot  (recrawl_days 1)  — seen > 0 and 2*changed ≥ seen
        warm (recrawl_days 7)  — changed > 0
        cold (recrawl_days 30) — no observed change

    Shape at 10^12 pages: the diff is ONE full-outer equi-join on url
    — both snapshot generations live in the same Iceberg layout
    bucketed by url, so at scale it's a shuffle-free sort-merge per
    bucket; the rollup partial-aggs map-side down to host granularity
    (~10^7 rows) before its shuffle.  All integer/string compares —
    no floats, no regex."""
    host = HOST("doc_id %% %d" % _N_HOSTS, d)
    url = "{h} || '/p' || {did}".format(h=host, did=CSTR("doc_id", d))
    changed = ("CASE WHEN (doc_id % {n}) % 10 = 7 THEN 0"
               " WHEN (doc_id % {n}) % 10 = 3 THEN 1"
               " WHEN doc_id % 160 < 40 THEN 1"
               " ELSE 0 END").format(n=_N_HOSTS)
    return """
WITH snap0 AS (
  SELECT {host} AS host, {url} AS url, md5(text) AS digest
  FROM documents WHERE doc_id % 13 <> 0
),
snap1 AS (
  SELECT {host} AS host, {url} AS url,
         md5(text || CASE WHEN {changed} = 1 THEN '|v2' ELSE '' END)
           AS digest
  FROM documents WHERE doc_id % 17 <> 0
),
verdicts AS (
  SELECT COALESCE(s0.host, s1.host) AS host,
         CASE WHEN s0.url IS NULL THEN 'new'
              WHEN s1.url IS NULL THEN 'gone'
              WHEN s0.digest <> s1.digest THEN 'changed'
              ELSE 'unchanged' END AS verdict
  FROM snap0 s0 FULL OUTER JOIN snap1 s1 ON s1.url = s0.url
),
perhost AS (
  SELECT host,
    CAST(SUM(CASE WHEN verdict = 'unchanged' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_unchanged,
    CAST(SUM(CASE WHEN verdict = 'changed' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_changed,
    CAST(SUM(CASE WHEN verdict = 'new' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_new,
    CAST(SUM(CASE WHEN verdict = 'gone' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_gone
  FROM verdicts GROUP BY host
)
SELECT host, n_unchanged, n_changed, n_new, n_gone,
  CASE WHEN n_changed + n_unchanged > 0
            AND 2 * n_changed >= n_changed + n_unchanged THEN 'hot'
       WHEN n_changed > 0 THEN 'warm'
       ELSE 'cold' END AS tier,
  CASE WHEN n_changed + n_unchanged > 0
            AND 2 * n_changed >= n_changed + n_unchanged
              THEN CAST(1 AS BIGINT)
       WHEN n_changed > 0 THEN CAST(7 AS BIGINT)
       ELSE CAST(30 AS BIGINT) END AS recrawl_days
FROM perhost
""".format(host=host, url=url, changed=changed)


# ---------------------------------------------------- frontier compose

@query("crawl_frontier")
def q_crawl_frontier(d: str) -> str:
    """The tier composition — "what does the crawler fetch next": every
    host the link graph points at gets a verdict,

        blocked_robots   — its robots.txt blanket-disallows '/'
        already_indexed  — it publishes pages we hold (an edge SOURCE)
        crawl            — linked-to but never fetched (the frontier:
                           webgraph's sink hosts by construction),

    with PageRank as the fetch priority: ``fetch_rank`` orders the
    crawl-verdict rows by rank_ppb DESC (ties: host ASC) and is 0
    elsewhere.  Reuses webgraph's edge + unrolled-PageRank chain and
    this module's robots rules — one plan, three tiers composed.

    Shape at 10^12 pages: everything is host-granularity (~10^7 rows)
    after the first edge aggregate — the in-link mass and verdict
    joins are dimension-sized, the final window runs over hosts, and
    the robots side is the same broadcastable rules table
    ``robots_filter`` uses."""
    from .webgraph import _PR_ROUNDS, _pr_parts
    parts = _pr_parts(d) + _frontier_tail_parts(
        "edges", "pr%d" % _PR_ROUNDS, "rank")
    return """
WITH {rules},
{ctes}
{final}""".format(rules=_rules_cte(d), ctes=",\n".join(parts),
                  final=_FRONTIER_FINAL)


_FRONTIER_FINAL = """
SELECT host, n_in, rank_ppb, verdict,
  CASE WHEN verdict = 'crawl'
       THEN CAST(ROW_NUMBER() OVER (
              PARTITION BY verdict
              ORDER BY rank_ppb DESC, host) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS fetch_rank
FROM verdicts
""".lstrip()


def _frontier_tail_parts(edges_rel: str, pr_rel: str,
                         rank_col: str) -> list:
    """The verdict CTEs, shared verbatim by the unrolled oracle SQL
    and the production form (which swaps in a materialized edge list
    and an iteratively-computed PageRank relation)."""
    return ["""
crawled AS (SELECT DISTINCT src_host AS host FROM {e})""".format(
        e=edges_rel).strip(), """
blocked AS (
  SELECT DISTINCT host FROM rules WHERE prefix = '/' AND is_allow = 0
)""".strip(), """
inmass AS (
  SELECT dst_host AS host, CAST(SUM(n_links) AS BIGINT) AS n_in
  FROM {e} GROUP BY dst_host
)""".format(e=edges_rel).strip(), """
verdicts AS (
  SELECT i.host, i.n_in,
         CAST(p.{rc} AS BIGINT) AS rank_ppb,
         CASE WHEN b.host IS NOT NULL THEN 'blocked_robots'
              WHEN c.host IS NOT NULL THEN 'already_indexed'
              ELSE 'crawl' END AS verdict
  FROM inmass i
  JOIN {pr} p ON p.host = i.host
  LEFT JOIN blocked b ON b.host = i.host
  LEFT JOIN crawled c ON c.host = i.host
)""".format(pr=pr_rel, rc=rank_col).strip()]


def crawl_frontier_production_df(spark):
    """PRODUCTION crawl_frontier: the edge list materialized ONCE and
    PageRank computed by the iterative ``pagerank_frame`` (per-round
    persisted joins) instead of the unrolled CTE chain the oracle SQL
    carries — same verdict CTEs verbatim, row-identical output
    (test-pinned).  The composition stays one declarative plan over
    two registered host-granularity relations."""
    from .webgraph import link_graph_df, pagerank_frame

    with scope(spark) as st:
        edges = st.checkpoint(link_graph_df(spark), view="_cf_edges")
        st.checkpoint(pagerank_frame(st, edges), view="_cf_pr")
        return st.result(spark.sql("""
WITH {rules},
{ctes}
{final}""".format(rules=_rules_cte(SPARK),
                  ctes=",\n".join(_frontier_tail_parts(
                      "_cf_edges", "_cf_pr", "rank_ppb")),
                  final=_FRONTIER_FINAL)))


# ------------------------------------------------- crawler-trap filter

_TRAP_MAX_LEN = 256    # fixture-scaled from the de-facto 2083 limit
_TRAP_MAX_SEG = 8      # Heritrix tooManyPathSegments default is 20
_TRAP_MAX_PARAMS = 5


def _segs(d: str) -> str:
    """Path split on '/' (element 1 is the leading empty string)."""
    if d == SPARK:
        return "split(path, '/')"
    return "string_split(path, '/')"


@query("url_trap_filter")
def q_url_trap_filter(d: str) -> str:
    """Crawler-trap URL filtering — the frontier guard every crawler
    runs before enqueueing (Heritrix's pathologicalPath /
    tooManyPathSegments decide rules + the session-id and calendar
    heuristics from the crawler literature).  First-match-ordered
    verdict per url:

    1. ``too_long``          — len(url) > 256 (fixture-scaled 2083);
    2. ``repeated_segment``  — the same non-empty path segment >= 3
       times CONSECUTIVELY (``/cat/cat/cat``), computed by an
       adjacent-equality scan over the split path (RE2 has no
       backreferences, so the regex form is non-portable — the array
       form is also cheaper: no backtracking);
    3. ``too_deep``          — > 8 path segments (Heritrix default 20);
    4. ``session_id``        — phpsessid/jsessionid/sessionid/sid=
       query markers (infinite-URL-space generators);
    5. ``too_many_params``   — > 5 query parameters;
    6. ``calendar_trap``     — >= 2 four-digit-year path segments (a
       single /2024/05/post blog prefix is fine; calendar pagers
       nest them);
    else ``keep``.

    The driver corpus has no URLs (module-docstring pattern): each doc
    synthesizes one of 11 deterministic shapes — every trap class, a
    near-miss for the two structural rules (2 consecutive repeats, 1
    year segment), a double-trap url pinning the first-match order,
    and clean control urls.  Pure string/array expressions, no UDF,
    no join: at 10^12 urls this is a narrow per-row projection fused
    into the frontier scan (the same plan class as url_canonicalize).
    """
    rep = "repeat('x', 260)"
    sid = "'/p?jsessionid=' || " + ("repeat('y', 260)" if d == DUCK
                                    else "repeat('y', 260)")
    path_cases = """CASE CAST(doc_id % 11 AS INT)
    WHEN 0 THEN '/cat/cat/cat/p' || {id}
    WHEN 1 THEN '/a1/b2/c3/d4/e5/f6/g7/h8/i9'
    WHEN 2 THEN '/page?phpsessid=deadbeef' || {id}
    WHEN 3 THEN '/q?a=1&b=2&c=3&d=4&e=5&f=6'
    WHEN 4 THEN '/2023/11/2024/01/post-' || {id}
    WHEN 5 THEN '/long/' || {rep}
    WHEN 6 THEN {sid}
    WHEN 7 THEN '/cat/cat/p' || {id}
    WHEN 8 THEN '/2024/05/post-' || {id}
    WHEN 9 THEN '/w' || {m100} || '/page-' || {id}
    ELSE '/p?q=' || {id} || '&lang=en'
  END""".format(id=CSTR("doc_id", d), rep=rep, sid=sid,
                m100=CSTR("doc_id % 100", d))
    segs = _segs(d)
    if d == SPARK:
        has_rep = ("CASE WHEN size(segs) >= 3 THEN "
                   "exists(sequence(1, size(segs) - 2), i -> "
                   "element_at(segs, i) != '' AND "
                   "element_at(segs, i) = element_at(segs, i + 1) AND "
                   "element_at(segs, i + 1) = element_at(segs, i + 2)) "
                   "ELSE false END")
        n_seg = "size(filter(segs, s -> s != ''))"
        n_years = ("size(filter(segs, s -> s rlike "
                   "'^(19|20)[0-9]{2}$'))")
        n_params = ("CASE WHEN query = '' THEN 0 "
                    "ELSE size(split(query, '&')) END")
    else:
        has_rep = ("len([i for i in range(1, len(segs) - 1) "
                   "if segs[i] != '' AND segs[i] = segs[i + 1] "
                   "AND segs[i + 1] = segs[i + 2]]) > 0")
        n_seg = "len([s for s in segs if s != ''])"
        n_years = ("len([s for s in segs if "
                    "regexp_matches(s, '^(19|20)[0-9]{2}$')])")
        n_params = ("CASE WHEN query = '' THEN 0 "
                    "ELSE len(string_split(query, '&')) END")
    return """
WITH urls AS (
  SELECT doc_id,
    'https://' || {host} || {pcases} AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    {path_rex} AS path,
    {query_rex} AS query
  FROM urls
),
feats AS (
  SELECT doc_id, url,
    CAST(length(url) AS INT) AS url_len,
    CAST({n_seg} AS INT) AS n_seg,
    CAST({n_params} AS INT) AS n_params,
    CAST({n_years} AS INT) AS n_years,
    {has_rep} AS has_repeat
  FROM (SELECT doc_id, url, {segs} AS segs, query FROM parts) t
)
SELECT doc_id, url_len, n_seg, n_params,
  CASE WHEN url_len > {maxlen} THEN 'too_long'
       WHEN has_repeat THEN 'repeated_segment'
       WHEN n_seg > {maxseg} THEN 'too_deep'
       WHEN lower(url) LIKE '%phpsessid=%'
         OR lower(url) LIKE '%jsessionid=%'
         OR lower(url) LIKE '%sessionid=%'
         OR lower(url) LIKE '%?sid=%'
         OR lower(url) LIKE '%&sid=%' THEN 'session_id'
       WHEN n_params > {maxpar} THEN 'too_many_params'
       WHEN n_years >= 2 THEN 'calendar_trap'
       ELSE 'keep' END AS verdict
FROM feats
""".format(host=HOST("doc_id %% %d" % _N_HOSTS, d), pcases=path_cases,
           path_rex=_rex_path(d), query_rex=_rex_query(d), segs=segs,
           n_seg=n_seg, n_params=n_params, n_years=n_years,
           has_rep=has_rep, maxlen=_TRAP_MAX_LEN, maxseg=_TRAP_MAX_SEG,
           maxpar=_TRAP_MAX_PARAMS)


def _rex_path(d: str) -> str:
    from ..relational import lit as _lit
    return "regexp_extract(url, %s, 1)" % _lit(
        r"^[a-z]+://[^/?#]+([^?#]*)", d)


def _rex_query(d: str) -> str:
    from ..relational import lit as _lit
    return "regexp_extract(url, %s, 1)" % _lit(r"\?(.*)$", d)


# --------------------------------------- robots wildcard expansion

# (rule, is_allow) — the Google/RFC 9309 wildcard dialect: '*' matches
# any span, a trailing '$' anchors the end; precedence is the LONGEST
# RULE (octets of the rule itself, '*'/'$' included), Allow beating
# Disallow on a length tie.  The '/private/open*' Allow (14) vs
# '/*.pdf$' Disallow (7) conflict class pins the length ladder on a
# genuinely overlapping pair.
_WILD_RULES = [
    ("/private/*", 0),
    ("/private/open*", 1),
    ("/*.pdf$", 0),
    ("/public*", 1),
    ("/tmp", 0),
]


def _wild_regex(rule: str) -> str:
    """RFC 9309 wildcard rule → RE2-safe anchored regex (translation
    happens at query-build time; the SQL carries plain literals)."""
    out = ["^"]
    body = rule
    anchored = body.endswith("$")
    if anchored:
        body = body[:-1]
    for ch in body:
        if ch == "*":
            out.append(".*")
        elif ch in r"\.^$+?()[]{}|":
            out.append("\\" + ch)
        else:
            out.append(ch)
    if anchored:
        out.append("$")
    return "".join(out)


@query("robots_wildcard_filter")
def q_robots_wildcard(d: str) -> str:
    """RFC 9309 §2.2.3 wildcard matching — the dialect real robots.txt
    files use (``robots_filter`` covers the literal-prefix core): '*'
    spans, '$' end-anchors, longest-RULE precedence with Allow
    winning ties.  Rules are translated to anchored RE2-safe regexes
    at plan-build time (no backreferences, no runtime translation);
    the match is one regexp per (url, rule) pair after a broadcast
    cross of the tiny ruleset — a real crawl holds ~10 rules/host, so
    the candidate fan-out is a constant factor on the URL scan, with
    everything downstream a per-url argmax window.

    Eight synthesized path shapes exercise every rule, the
    $-anchor negative (.pdfx must NOT match /*.pdf$), the
    allow-overrides-disallow length ladder, and the no-match default
    (fetchable)."""
    paths = """CASE CAST(doc_id % 8 AS INT)
    WHEN 0 THEN '/private/a' || {id}
    WHEN 1 THEN '/private/open' || {id}
    WHEN 2 THEN '/docs/file' || {id} || '.pdf'
    WHEN 3 THEN '/docs/file' || {id} || '.pdfx'
    WHEN 4 THEN '/public/p' || {id}
    WHEN 5 THEN '/tmp/x' || {id}
    WHEN 6 THEN '/home' || {id}
    ELSE '/private/open' || {id} || '.pdf'
  END""".format(id=CSTR("doc_id", d))
    rule_rows = ", ".join(
        "('%s', '%s', %d, %d)" % (r, _wild_regex(r), a, len(r))
        for r, a in _WILD_RULES)
    if d == SPARK:
        rules = ("SELECT rule, rex, is_allow, rule_len FROM VALUES %s "
                 "AS t(rule, rex, is_allow, rule_len)" % rule_rows)
        match = "p.path rlike r.rex"
    else:
        rules = ("SELECT rule, rex, is_allow, rule_len FROM (VALUES %s)"
                 " AS t(rule, rex, is_allow, rule_len)" % rule_rows)
        match = "regexp_matches(p.path, r.rex)"
    return """
WITH rules AS ({rules}),
pages AS (
  SELECT doc_id, {paths} AS path FROM documents
),
matched AS (
  SELECT p.doc_id, p.path, r.rule, r.is_allow, r.rule_len,
    ROW_NUMBER() OVER (PARTITION BY p.doc_id
                       ORDER BY r.rule_len DESC, r.is_allow DESC,
                                r.rule) AS pick
  FROM pages p JOIN rules r ON {match}
)
SELECT p.doc_id, p.path,
  m.rule AS matched_rule,
  CAST(COALESCE(m.is_allow, 1) AS INT) AS is_allow,
  CASE WHEN m.doc_id IS NULL THEN 'no_rule_fetch'
       WHEN m.is_allow = 1 THEN 'allow'
       ELSE 'disallow' END AS verdict
FROM pages p
LEFT JOIN matched m ON m.doc_id = p.doc_id AND m.pick = 1
""".format(rules=rules, paths=paths, match=match)


# ------------------------------------------------ politeness schedule

_POL_DELAY_BASE_MS = 500   # per-host delay = 500 * (1 + hid % 4)
_POL_HORIZON_MS = 10000    # one fetch cycle


@query("politeness_schedule")
def q_politeness_schedule(d: str) -> str:
    """Per-host politeness fetch scheduling — the queue math between
    the frontier and the fetcher in Nutch/Heritrix: every host's queue
    is serialized with a minimum inter-fetch delay (robots crawl-delay
    or a default), so the scheduler assigns each URL a slot in its
    host's queue (priority DESC, path ASC, doc_id ASC — a total order:
    the shared "/" root path recurs per host, so the id must break the
    final tie) and a fetch timestamp ``slot * delay_ms``; only URLs
    with ``fetch_at_ms < horizon`` are fetched this cycle, the rest
    carry over.

    Priority is a deterministic frontier score ``(doc_id*37) % 1000``
    (collisions exercise the tie-break); per-host delay derives from
    the host id (500/1000/1500/2000 ms — the crawl-delay spread a real
    robots corpus shows).  Everything is integer arithmetic.

    Shape at 10^12 pages: ONE window partitioned by host — the
    frontier's natural key, already the fetch queue's partitioning; no
    global sort, no cross-host coordination.  Per-host fan-in is the
    queue depth, which politeness itself bounds upstream (the budget
    operator caps enqueued URLs per host per cycle)."""
    delay = ("CAST(%d * (1 + (doc_id %% %d) %% 4) AS BIGINT)"
             % (_POL_DELAY_BASE_MS, _N_HOSTS))
    return """
WITH {urls},
scored AS (
  SELECT doc_id, host, path,
         CAST((doc_id * 37) % 1000 AS BIGINT) AS priority,
         {delay} AS delay_ms
  FROM urls
),
slotted AS (
  SELECT host, path, priority, delay_ms,
    CAST(ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY priority DESC, path ASC,
                                     doc_id ASC) - 1
         AS BIGINT) AS slot
  FROM scored
)
SELECT host, path, priority, slot,
  CAST(slot * delay_ms AS BIGINT) AS fetch_at_ms,
  CAST(CASE WHEN slot * delay_ms < {horizon} THEN 1 ELSE 0 END AS INT)
    AS in_cycle
FROM slotted
""".format(urls=_urls_cte(d), delay=delay, horizon=_POL_HORIZON_MS)


# ------------------------------------------------------------ sitemaps

_SM_FRESH = "2024-07-01"   # freshness gate for the recrawl tier


@query("sitemap_ingest")
def q_sitemap_ingest(d: str) -> str:
    """Sitemap ingestion (sitemaps.org protocol): each host publishes
    an XML ``<urlset>`` of ``<url><loc>/<lastmod>`` entries; the
    crawler parses it and gates entries on lastmod freshness — the
    standard discovery channel next to the link frontier.

    The corpus has no sitemaps, so each host's XML is synthesized
    in-plan (ordered entry concat per host — the protocol caps one
    file at 50k URLs, so a per-host string is bounded by spec and a
    bigger host ships more FILES, i.e. more rows, not a bigger row).
    Then the real operator runs: the Spark side parses with the
    JVM-side Hive ``xpath`` UDF (no Python anywhere), the DuckDB
    oracle with regexp extraction — same rows out, which is the
    point: the XML parse itself is verified cross-engine.

    Shape at 10^12 pages: sitemap synthesis is one ordered hash-agg
    to host granularity; the parse is a narrow per-row explode back
    to URL granularity (map-side, no extra shuffle); the freshness
    gate is a per-row compare.  lastmod strings are ISO dates, so the
    gate is a lexicographic compare — no date parsing in the hot
    loop."""
    from ..relational import ORD_CONCAT

    host = HOST("doc_id %% %d" % _N_HOSTS, d)
    lastmod = ("'2024-' || lpad({m}, 2, '0') || '-' || lpad({dd}, 2, '0')"
               .format(m=CSTR("1 + doc_id % 12", d),
                       dd=CSTR("1 + doc_id % 28", d)))
    entry = ("'<url><loc>' || loc || '</loc><lastmod>' || lastmod"
             " || '</lastmod></url>'")
    if d == SPARK:
        parsed = """
parsed AS (
  SELECT host, z.locs AS loc, z.lms AS lastmod
  FROM (
    SELECT host,
           xpath(xml, '/urlset/url/loc/text()') AS locs,
           xpath(xml, '/urlset/url/lastmod/text()') AS lms
    FROM sitemaps
  ) x
  LATERAL VIEW explode(arrays_zip(locs, lms)) t AS z
)"""
    else:
        parsed = """
parsed AS (
  SELECT host, u[1] AS loc, u[2] AS lastmod
  FROM (
    SELECT host, unnest(list_zip(
             regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1),
             regexp_extract_all(xml, '<lastmod>([^<]+)</lastmod>', 1)))
           AS u
    FROM sitemaps
  ) x
)"""
    return """
WITH pages AS (
  SELECT doc_id, {host} AS host,
         'https://' || {host} || '/p' || {did} AS loc,
         {lastmod} AS lastmod
  FROM documents
),
sitemaps AS (
  SELECT host,
         '<?xml version="1.0" encoding="UTF-8"?><urlset>'
           || {entries} || '</urlset>' AS xml
  FROM (SELECT host, doc_id, {entry} AS entry FROM pages) e
  GROUP BY host
),{parsed}
SELECT host, loc, lastmod,
  CAST(CASE WHEN lastmod >= '{fresh}' THEN 1 ELSE 0 END AS INT)
    AS is_fresh
FROM parsed
""".format(host=host, did=CSTR("doc_id", d), lastmod=lastmod,
           entry=entry, entries=ORD_CONCAT("entry", "", "doc_id", d),
           parsed=parsed, fresh=_SM_FRESH)


# ----------------------------------------------------------- web feeds

@query("feed_ingest")
def q_feed_ingest(d: str) -> str:
    """RSS/Atom feed ingestion — the OTHER standard discovery channel
    next to sitemaps: each host publishes a feed of recent posts; the
    crawler must auto-detect the format and normalize both shapes to
    one (host, link, published, title) relation before the freshness
    gate.  Even-numbered hosts publish RSS 2.0 (``<item><link>…``
    child elements), odd hosts Atom (``<entry><link href="…"/>`` —
    the link is an ATTRIBUTE, and the timestamp tag is ``<updated>``
    not ``<pubDate>``), so a parser wired to only one dialect loses
    half the corpus.  Timestamps are emitted ISO-8601 so the
    freshness gate stays a lexicographic compare (a production feed
    normalizer converts RFC-822 pubDates first).

    The corpus has no feeds, so each host's XML is synthesized
    in-plan exactly like ``sitemap_ingest`` (ordered per-host concat;
    feeds are spec-bounded small — publishers cap entries, so a row
    is bounded and busier hosts ship more feed PAGES, not bigger
    rows).  The real operator under test is the dual-dialect parse:
    Spark uses the JVM-side Hive ``xpath`` UDF (including the
    ``@href`` attribute axis), DuckDB regexp extraction — identical
    rows out of both proves the parse, not the synthesis.

    Shape at 10^12 pages: one ordered hash-agg to host granularity,
    then a narrow map-side explode back to entry granularity; no
    joins, no second shuffle."""
    from ..relational import ORD_CONCAT

    host = HOST("doc_id %% %d" % _N_HOSTS, d)
    pub = ("'2024-' || lpad({m}, 2, '0') || '-' || lpad({dd}, 2, '0')"
           .format(m=CSTR("1 + doc_id % 12", d),
                   dd=CSTR("1 + doc_id % 28", d)))
    rss_entry = ("'<item><title>Post ' || {did} || '</title><link>'"
                 " || link || '</link><pubDate>' || pub ||"
                 " '</pubDate></item>'").format(did=CSTR("doc_id", d))
    atom_entry = ("'<entry><title>Post ' || {did} || '</title>"
                  "<link href=\"' || link || '\"/><updated>' || pub ||"
                  " '</updated></entry>'").format(did=CSTR("doc_id", d))
    if d == SPARK:
        parsed = """
parsed AS (
  SELECT host, fmt, z.links AS link, z.pubs AS published,
         z.titles AS title
  FROM (
    SELECT host, fmt,
      CASE WHEN fmt = 'rss'
           THEN xpath(xml, '/rss/channel/item/link/text()')
           ELSE xpath(xml, '/feed/entry/link/@href') END AS links,
      CASE WHEN fmt = 'rss'
           THEN xpath(xml, '/rss/channel/item/pubDate/text()')
           ELSE xpath(xml, '/feed/entry/updated/text()') END AS pubs,
      CASE WHEN fmt = 'rss'
           THEN xpath(xml, '/rss/channel/item/title/text()')
           ELSE xpath(xml, '/feed/entry/title/text()') END AS titles
    FROM feeds
  ) x
  LATERAL VIEW explode(arrays_zip(links, pubs, titles)) t AS z
)"""
    else:
        parsed = """
parsed AS (
  SELECT host, fmt, u[1] AS link, u[2] AS published, u[3] AS title
  FROM (
    SELECT host, fmt, unnest(list_zip(
      CASE WHEN fmt = 'rss'
           THEN regexp_extract_all(xml, '<link>([^<]+)</link>', 1)
           ELSE regexp_extract_all(xml, '<link href="([^"]+)"/>', 1) END,
      CASE WHEN fmt = 'rss'
           THEN regexp_extract_all(xml, '<pubDate>([^<]+)</pubDate>', 1)
           ELSE regexp_extract_all(xml, '<updated>([^<]+)</updated>', 1)
           END,
      regexp_extract_all(xml, '<title>([^<]+)</title>', 1))) AS u
    FROM feeds
  ) x
)"""
    return """
WITH posts AS (
  SELECT doc_id, {host} AS host,
         CAST(doc_id % 2 AS INT) AS odd_host,
         'https://' || {host} || '/post/' || {did} AS link,
         {pub} AS pub
  FROM documents
),
entries AS (
  SELECT host, doc_id,
    CASE WHEN odd_host = 0 THEN {rss_entry} ELSE {atom_entry} END AS entry,
    CASE WHEN odd_host = 0 THEN 'rss' ELSE 'atom' END AS fmt
  FROM posts
),
feeds AS (
  SELECT host, fmt,
    CASE WHEN fmt = 'rss'
      THEN '<?xml version="1.0"?><rss version="2.0"><channel>'
           || {entries_concat} || '</channel></rss>'
      ELSE '<?xml version="1.0"?><feed>'
           || {entries_concat} || '</feed>' END AS xml
  FROM entries
  GROUP BY host, fmt
),{parsed}
SELECT host, fmt, link, published, title,
  CAST(CASE WHEN published >= '{fresh}' THEN 1 ELSE 0 END AS INT)
    AS is_fresh
FROM parsed
""".format(host=host, did=CSTR("doc_id", d), pub=pub,
           rss_entry=rss_entry, atom_entry=atom_entry,
           entries_concat=ORD_CONCAT("entry", "", "doc_id", d),
           parsed=parsed, fresh=_SM_FRESH)


# --------------------------------------------- soft-404 detection

@query("soft404_detect")
def q_soft404_detect(d: str) -> str:
    """Soft-404 detection — the crawl-hygiene classifier for pages
    that return HTTP 200 but are really error pages (hosts routinely
    serve "page not found" bodies with OK status; indexing them
    poisons both the link graph and the training corpus).  The
    production heuristic this mirrors (Bar-Yossef et al. '04 "sic
    transit gloria telae" and every crawler since): an error PHRASE
    alone is not enough — real articles QUOTE error messages — so a
    page is soft-404 only when it both matches the phrase battery
    AND is anomalously short for its host (body < half the host's
    exact type-1 median length; error templates are near-constant
    small, articles are not).

    Tiers synthesized in-plan: ``doc_id%17=4`` serves a short
    not-found template, ``%17=9`` a short "no longer exists"
    variant, and ``%17=2`` is the DECOY — a doubled-length article
    that merely QUOTES the error phrase, which the length gate must
    keep.  Everything else serves its real text.

    Shape at 10^12 pages: one narrow projection, ONE window over the
    host partitions for the exact median (same recomposable type-1
    rank arithmetic as ``length_quantiles``), one broadcast-size
    join back on host.  No floats (the half-median compare is
    ``2*plen < p50``), no all-pairs."""
    from .webgraph import CSTR, HOST, IDIV
    from ..relational import RLIKE

    host = HOST("doc_id %% %d" % _N_HOSTS, d)
    page = ("CASE WHEN doc_id % 17 = 4"
            " THEN 'error 404 page not found'"
            " WHEN doc_id % 17 = 9"
            " THEN 'sorry this page no longer exists please return'"
            " WHEN doc_id % 17 = 2"
            " THEN text || ' ' || text"
            "   || ' quoting error 404 page not found here'"
            " ELSE text END")
    phrase = RLIKE(
        "page", "(error 404|page not found|no longer exists)", d)
    return """
WITH pages AS (
  SELECT doc_id, {host} AS host, {page} AS page FROM documents
),
sized AS (
  SELECT doc_id, host, page,
    CAST(length(page) AS BIGINT) AS plen,
    CAST(CASE WHEN {phrase} THEN 1 ELSE 0 END AS INT) AS has_phrase
  FROM pages
),
ranked AS (
  SELECT host, plen,
    CAST(ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY plen, doc_id) AS BIGINT) AS rn,
    CAST(COUNT(*) OVER (PARTITION BY host) AS BIGINT) AS cnt
  FROM sized
),
med AS (
  SELECT host,
    CAST(MAX(CASE WHEN rn = {medrank} THEN plen END) AS BIGINT) AS p50
  FROM ranked GROUP BY host
)
SELECT s.doc_id, s.host, s.plen, m.p50 AS host_p50, s.has_phrase,
  CASE WHEN s.has_phrase = 1 AND 2 * s.plen < m.p50
       THEN 'soft404' ELSE 'ok' END AS verdict
FROM sized s JOIN med m ON m.host = s.host
""".format(host=host, page=page, phrase=phrase,
           medrank=IDIV("cnt + 1", "2"))


# --------------------------------------------- sitemap coverage gap

@query("sitemap_gap")
def q_sitemap_gap(d: str) -> str:
    """Sitemap-vs-crawl coverage reconciliation — the discovery-audit
    report every crawl runs against the sitemap channel: URLs the
    host DECLARES but the crawler never fetched are the crawl gap
    (frontier starvation, robots conflicts, or dead declarations),
    and pages the crawler HAS that the sitemap omits are orphans
    (reachable only through links — the host's own indexing is
    stale).  Both directions matter: the gap drives frontier
    seeding, the orphan rate is a site-quality prior.

    Asymmetries synthesized in-plan: every ``doc_id%13=6`` host
    page additionally DECLARES a phantom ``/q`` variant that was
    never crawled (the dead-declaration tier), and every
    ``doc_id%11=5`` crawled page is MISSING from the sitemap (the
    orphan tier).  Everything else appears on both sides.

    Output: one row per host with exact counts and ppm rates —
    n_declared, n_crawled, n_both, gap (declared-only), orphans
    (crawled-only), gap_ppm = floor(10^6·gap/declared), orphan_ppm =
    floor(10^6·orphans/crawled).

    Shape at 10^12 pages: both sides live at url grain; the
    reconciliation is ONE full-outer equi-join on url (both sides
    bucket by url in the same layout, so at scale it's a
    shuffle-free sort-merge per bucket — same argument as
    ``recrawl_schedule``); the rollup partial-aggs map-side down to
    host granularity.  Pure integer arithmetic."""
    host = HOST("doc_id %% %d" % _N_HOSTS, d)
    url = "'https://' || {h} || '/p' || {did}".format(
        h=host, did=CSTR("doc_id", d))
    qurl = "'https://' || {h} || '/q' || {did}".format(
        h=host, did=CSTR("doc_id", d))
    return """
WITH declared AS (
  SELECT {host} AS host, {url} AS url FROM documents
  WHERE doc_id % 11 <> 5
  UNION ALL
  SELECT {host} AS host, {qurl} AS url FROM documents
  WHERE doc_id % 13 = 6
),
crawled AS (
  SELECT {host} AS host, {url} AS url FROM documents
),
joined AS (
  SELECT COALESCE(s.host, c.host) AS host,
    CASE WHEN s.url IS NOT NULL AND c.url IS NOT NULL THEN 'both'
         WHEN s.url IS NOT NULL THEN 'sitemap_only'
         ELSE 'crawled_only' END AS cls
  FROM declared s FULL OUTER JOIN crawled c ON c.url = s.url
),
counts AS (
  SELECT host,
    CAST(SUM(CASE WHEN cls <> 'crawled_only' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_declared,
    CAST(SUM(CASE WHEN cls <> 'sitemap_only' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_crawled,
    CAST(SUM(CASE WHEN cls = 'both' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_both,
    CAST(SUM(CASE WHEN cls = 'sitemap_only' THEN 1 ELSE 0 END)
         AS BIGINT) AS gap,
    CAST(SUM(CASE WHEN cls = 'crawled_only' THEN 1 ELSE 0 END)
         AS BIGINT) AS orphans
  FROM joined GROUP BY host
)
SELECT host, n_declared, n_crawled, n_both, gap, orphans,
  {gap_ppm} AS gap_ppm,
  {orph_ppm} AS orphan_ppm
FROM counts
""".format(host=host, url=url, qurl=qurl,
           gap_ppm=IDIV("1000000 * gap", "n_declared"),
           orph_ppm=IDIV("1000000 * orphans", "n_crawled"))

# --------------------------------------------- recrawl content drift

@query("content_drift")
def q_content_drift(d: str) -> str:
    """Recrawl content-drift classification — the change-rate signal a
    crawl scheduler feeds back into its revisit policy (Cho &
    Garcia-Molina '03 "Effective Page Refresh Policies"): compare the
    SimHash fingerprint of each url across consecutive crawl
    snapshots, classify every transition as ``unchanged`` (Hamming
    0), ``minor`` (<= 8: template tweaks, one-token edits) or
    ``major`` (> 8: a rewrite), then roll per-host drift rates into
    an AIMD-style revisit multiplier (hosts that never change get
    crawled 4x slower; hosts that rewrite pages keep their cadence).
    Fingerprint-level drift is the point: byte diffs re-flag every
    rotating timestamp, while the 48-bit fingerprint only moves when
    the token distribution does.

    Three snapshots per url synthesized in-plan (key = doc_id*4 +
    snap), with drift tied to the HOST so every backoff branch has
    true positives: hot hosts (``doc_id%40 < 6``) template-rewrite
    every page at snap 2 (the major tier — cadence kept), warm hosts
    (``6 <= %40 < 14``) drop each page's first word at snap 1 then
    revert at snap 2 (two one-token-edit minor transitions, same
    edit class as the shared near-dup corpus), cold hosts
    (``%40 >= 14``) never change (4x backoff).

    Shape at 10^12 pages: fingerprints are the shared
    ``_simhash_parts`` plan (one explode + hash-agg per snapshot
    row); transitions are ONE window (lag over (url, snap) — both
    snapshots of a url co-locate under the url-hash partitioning, so
    the sort is within-partition); the rollup partial-aggs map-side
    down to ~10^7 host rows.  Integer-only arithmetic end to end."""
    from .dedup import _simhash_parts

    drop1 = "substring(text, instr(text, ' ') + 1)"
    rewrite = ("'major template rewrite the landing page was replaced "
               "entirely new copy ' || substr(text, 1, 24)")
    ham = ("bit_count(prev_sh ^ simhash)" if d == SPARK
           else "bit_count(xor(prev_sh, simhash))")
    host = HOST("url_id %% %d" % _N_HOSTS, d)
    return """
WITH corpus AS (
  SELECT doc_id * 4 + 0 AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id * 4 + 1 AS doc_id,
    CASE WHEN doc_id % 40 >= 6 AND doc_id % 40 < 14
         THEN {drop1} ELSE text END AS text
  FROM documents
  UNION ALL
  SELECT doc_id * 4 + 2 AS doc_id,
    CASE WHEN doc_id % 40 < 6 THEN {rewrite}
         ELSE text END AS text
  FROM documents
),
{sh},
snaps AS (
  SELECT {urlid} AS url_id, doc_id % 4 AS snap, simhash FROM sh
),
trans AS (
  SELECT url_id, snap, simhash,
    LAG(simhash) OVER (PARTITION BY url_id ORDER BY snap) AS prev_sh
  FROM snaps
),
cls AS (
  SELECT url_id,
    CASE WHEN hamming = 0 THEN 'unchanged'
         WHEN hamming <= 8 THEN 'minor'
         ELSE 'major' END AS drift
  FROM (SELECT url_id, CAST({ham} AS INT) AS hamming
        FROM trans WHERE prev_sh IS NOT NULL) t
),
rollup AS (
  SELECT {host} AS host,
    CAST(COUNT(*) AS BIGINT) AS n_trans,
    CAST(SUM(CASE WHEN drift = 'unchanged' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_unchanged,
    CAST(SUM(CASE WHEN drift = 'minor' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_minor,
    CAST(SUM(CASE WHEN drift = 'major' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_major
  FROM cls GROUP BY {host}
)
SELECT host, n_trans, n_unchanged, n_minor, n_major,
  {drift_ppm} AS drift_ppm,
  CASE WHEN 2 * n_major >= n_trans THEN 1
       WHEN 2 * (n_major + n_minor) >= n_trans THEN 2
       ELSE 4 END AS revisit_backoff
FROM rollup
""".format(drop1=drop1, rewrite=rewrite, ham=ham, host=host,
           urlid=IDIV("doc_id", "4"),
           sh=_simhash_parts(d, 48),
           drift_ppm=IDIV("1000000 * (n_minor + n_major)", "n_trans"))


# ------------------------------------ conditional-GET revalidation

@query("conditional_revalidate")
def q_conditional_revalidate(d: str) -> str:
    """Validator-based recrawl — the RFC 9110 §13.1 / RFC 9111
    conditional-GET tier of a polite recrawler: a url whose first
    fetch carried a validator revalidates with ``If-None-Match``
    (ETag, which wins when both are present per §13.1.3) or
    ``If-Modified-Since``; an unchanged resource answers **304** and
    costs zero body bytes, a changed one answers 200 and refetches.
    Two real-world failure classes are modeled and DETECTED, not
    assumed: urls with no validators must refetch unconditionally,
    and servers that advertise validators but IGNORE conditionals
    (common misconfigured CDNs) send a full 200 whose body hash
    equals the cached copy — the WASTED-fetch signal a crawler uses
    to stop sending conditionals to that origin.

    Epochs are synthesized in-plan from the corpus: the cached body
    is the doc's text, the second epoch's body appends a change
    marker on the CHANGED tier (doc_id % 5 = 1); validator class,
    server behavior, and change state all ride doc_id arithmetic;
    change detection compares md5 body hashes exactly as a crawler's
    content store does.

    Output per url: validator class, whether a conditional was sent,
    the status, changedness, body vs fetched bytes, and the wasted
    flag.  The semantics test recomputes the decision table and the
    exact byte accounting.

    Shape at 10^12 urls: a single narrow per-row projection (hashes,
    CASE battery) — fuses with the fetch-log scan; the per-host
    wasted-fetch rollup a real crawler feeds back into its scheduler
    is one further hash-agg on columns this emits."""
    n_body = "CAST(n_chars AS BIGINT)"
    h1 = "md5(text)"
    h2 = ("CASE WHEN doc_id % 5 = 1 THEN md5(text || '#v2')"
          " ELSE md5(text) END")
    validator = ("CASE WHEN doc_id % 5 IN (0, 1, 4) THEN 'etag'"
                 " WHEN doc_id % 5 = 2 THEN 'last_modified'"
                 " ELSE 'none' END")
    honors = "CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END"
    return """
WITH fetches AS (
  SELECT doc_id,
    {validator} AS validator,
    CAST({honors} AS INT) AS server_honors,
    {h1} AS cached_hash, {h2} AS fresh_hash,
    {n_body} AS body_bytes
  FROM documents
),
decided AS (
  SELECT doc_id, validator, body_bytes,
    CAST(CASE WHEN validator <> 'none' THEN 1 ELSE 0 END AS INT)
      AS cond_sent,
    CAST(CASE WHEN cached_hash <> fresh_hash THEN 1 ELSE 0 END AS INT)
      AS changed,
    CAST(CASE WHEN validator <> 'none' AND server_honors = 1
              AND cached_hash = fresh_hash
         THEN 304 ELSE 200 END AS INT) AS status
  FROM fetches
)
SELECT doc_id AS url_id, validator, cond_sent, status, changed,
  body_bytes,
  CAST(CASE WHEN status = 304 THEN 0 ELSE body_bytes END AS BIGINT)
    AS bytes_fetched,
  CAST(CASE WHEN cond_sent = 1 AND status = 200 AND changed = 0
       THEN 1 ELSE 0 END AS INT) AS wasted
FROM decided
""".format(validator=validator, honors=honors, h1=h1, h2=h2,
           n_body=n_body)
