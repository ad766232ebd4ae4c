"""Deduplication operators over the ``documents`` corpus.

The driver corpus has no duplicates, so each query synthesizes its dup
tier inside the plan (UNION ALL of deterministically perturbed copies
with doc_id+1000000) — both engines derive the same augmented corpus,
then the actual dedup operator runs on it.

Hash policy: md5 hex strings everywhere (identical across engines);
where an integer hash is needed the first 15 hex chars become a
non-negative BIGINT (60 bits).

At 100 TB these shapes hold: exact dedup is one hash-groupBy (partial
agg map-side); MinHash+LSH is shingle→signature (narrow) then a
band-key shuffle whose fan-in is the candidate-pair count, never n²;
simhash is a narrow per-doc computation; every pairwise Jaccard join
(ngram_jaccard, lsh_verified) runs only over LSH candidate pairs.
"""

from __future__ import annotations

from ..relational import (
    DUCK, SPARK, HEX2INT, LEN, LINE_PARTITIONS, ORD_ARRAY, SLICE, JOINA,
    WPOS_CTE,
)
from ..stages import materialized

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


# corpus + exact-duplicate tier (every 5th doc copied verbatim)
def _dup_corpus(d: str) -> str:
    return """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 5 = 0
)"""


# corpus + near-duplicate tier (every 4th doc with first word dropped)
def _near_corpus(d: str) -> str:
    first_word_off = ("instr(text, ' ') + 1" if d == DUCK
                      else "instr(text, ' ') + 1")
    return """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substring(text, {off}) AS text
  FROM documents WHERE doc_id % 4 = 0
)""".format(off=first_word_off)


@query("dedup_exact")
def q_exact(d: str) -> str:
    """Exact dedup = hash-groupBy: per doc, the group keeper (min
    doc_id sharing the content hash) and a duplicate flag."""
    return """
WITH {corpus},
hashed AS (SELECT doc_id, md5(text) AS content_hash FROM corpus)
SELECT doc_id, content_hash,
  MIN(doc_id) OVER (PARTITION BY content_hash) AS keeper_id,
  CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY content_hash)
       THEN 1 ELSE 0 END AS is_duplicate
FROM hashed
""".format(corpus=_dup_corpus(d))


def _split_ws(d: str, text: str = "text") -> str:
    return ("split(%s, ' ')" % text) if d == SPARK else (
        "string_split(%s, ' ')" % text)


def _shingles_from_ws(d: str, k: int = 4) -> str:
    """4-word shingle strings from a pre-split ``ws`` column.  The
    split must live in its own projection: inlined into the lambda it
    is re-evaluated per element — O(words**2), observed 74s vs 3s on
    the sf0.1 LSH query."""
    n = "greatest(%s - %d, 1)" % (LEN("ws", d), k - 1)
    body = JOINA(SLICE("ws", "i", str(k), d), " ", d)
    if d == SPARK:
        return ("transform(sequence(1, %s), i -> %s)" % (n, body))
    return "[%s for i in range(1, (%s)+1)]" % (body, n)


def _exploded_shingles(d: str) -> str:
    """CTE chain corpus → exploded (doc_id, s) of 4-word shingles.

    Spark shape: posexplode words + window lead() — deliberately
    array-free.  The array formulation (transform over sequence with a
    slice lambda) gets its split() inlined per-element by
    CollapseProject/InferFiltersFromGenerate and turns O(words²)
    (observed 52s vs 2s at sf0.1).  concat_ws skips NULL leads, which
    reproduces the tail-shingle semantics of slice().
    DuckDB keeps the list-comprehension shape (fast there)."""
    if d == SPARK:
        return """
wsplit AS (
  SELECT doc_id, pos, w FROM corpus
  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
),
led AS (
  SELECT doc_id, pos,
    concat_ws(' ', w,
      lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos),
      lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos),
      lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)) AS s,
    count(*) OVER (PARTITION BY doc_id) AS n
  FROM wsplit
),
exploded AS (
  SELECT doc_id, s FROM led WHERE pos + 1 <= greatest(n - 3, 1)
)"""
    return """
wsed AS (SELECT doc_id, {ws} AS ws FROM corpus),
shin AS (SELECT doc_id, {sh} AS shingles FROM wsed),
exploded AS (SELECT doc_id, unnest(shingles) AS s FROM shin)
""".format(ws=_split_ws(d), sh=_shingles_from_ws(d))


def _minhash_agg(n_hashes: int = 8) -> str:
    """8 min-digest aggregates over exploded shingles (map-side
    partial agg; one shingle evaluation, 8 digests per shingle)."""
    return ", ".join(
        "min(md5('%d:' || s)) AS m%d" % (i, i) for i in range(n_hashes)
    )


@query("dedup_minhash_sigs")
def q_minhash(d: str) -> str:
    """MinHash signatures: k=8 independent min-digests over 4-word
    shingles (shingle→minhash, SURVEY 'beyond' tier)."""
    return """
WITH {corpus},{expl}
SELECT doc_id, {sigs} FROM exploded GROUP BY doc_id
""".format(corpus=_near_corpus(d), expl=_exploded_shingles(d),
           sigs=_minhash_agg())


def _band_ctes(d: str, sigs: str = "sigs", bucket_cap: int = None) -> str:
    """The LSH tail over a signature table ``{sigs}(doc_id, m0..m7)``:
    band unpivot → distinct candidate pairs (``cand``).  The join
    fan-in is bounded by band-bucket sizes, never n².  Shared by
    ``_lsh_ctes`` and the persisted twins, which pass their
    checkpointed signature view.

    ``bucket_cap``: the standard at-scale SUPER-BUCKET guard — band
    buckets holding more than this many items are dropped from
    candidate generation.  Short texts with few shingles produce
    degenerate minhash signatures whose buckets grow toward n (a
    bucket of b items contributes b²/2 pairs: measured on the sf0.1
    span corpus, three degenerate buckets of 3207/1951/834 spans
    carried 6.3M of 6.37M candidates — banding collapsing to
    all-pairs).  Members of such buckets share boilerplate-common
    shingles, exactly the class the exact-dedup tier upstream already
    collapses; dropping the bucket bounds the candidate join at ANY
    corpus size, which is what production dedup pipelines do.
    Document-level dedup (long texts, well-spread signatures) keeps
    the uncapped default."""
    if d == SPARK:
        # unpivot via stack(): one pass over sigs + one self-join on
        # (band_no, band_key); a UNION-ALL-per-band shape would rescan
        # the whole signature pipeline once per band
        long_form = ("SELECT doc_id, band_no, band_key FROM banded "
                     "LATERAL VIEW stack(4, 0, band0, 1, band1, 2, band2,"
                     " 3, band3) s AS band_no, band_key")
    else:
        long_form = ("SELECT doc_id, u['band_no'] AS band_no, "
                     "u['band_key'] AS band_key FROM ("
                     "SELECT doc_id, unnest(["
                     "{'band_no': 0, 'band_key': band0},"
                     "{'band_no': 1, 'band_key': band1},"
                     "{'band_no': 2, 'band_key': band2},"
                     "{'band_no': 3, 'band_key': band3}]) AS u"
                     " FROM banded) t")
    if bucket_cap is not None:
        guard = """
bucket_ok AS (
  SELECT band_no, band_key FROM banded_long
  GROUP BY band_no, band_key HAVING COUNT(*) <= {cap}
),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM banded_long a
  JOIN bucket_ok s
    ON s.band_no = a.band_no AND s.band_key = a.band_key
  JOIN banded_long b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
)""".format(cap=bucket_cap)
    else:
        guard = """
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM banded_long a JOIN banded_long b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
)"""
    # the 4 band keys over the 8 signature slots
    bands = ", ".join("md5(m%d || m%d) AS band%d" % (2 * b, 2 * b + 1, b)
                      for b in range(4))
    return """banded AS (SELECT doc_id, {bands} FROM {sigs}),
banded_long AS ({long_form}),{guard}""".format(
        bands=bands, sigs=sigs, long_form=long_form, guard=guard)


def _lsh_ctes(d: str, corpus0_sql: str = None,
              bucket_cap: int = None) -> str:
    """Shared CTE chain: corpus → shingles → minhash signatures →
    ``_band_ctes`` (band unpivot → LSH candidate pairs ``cand``).

    ``corpus0_sql``: optional replacement for the default near-dup
    document corpus — any CTE chain ending in
    ``corpus0(doc_id, text)`` (span_neardup feeds spans through the
    identical machinery this way; doc_id may be any orderable type).
    ``bucket_cap``: see ``_band_ctes``."""
    # widen the corpus before the shingle+8-digest pipeline: that CPU
    # burns at the input scan's parallelism otherwise (a tiny parquet
    # is 1-3 partitions), and AQE would coalesce a bare repartition —
    # same rationale, measurement and env override as
    # relational.with_lines(barrier=True).  2.5s → 1.2s at sf0.1.
    # The narrow single-pass queries (simhash, minhash_sigs) stay
    # un-widened: for them the extra exchange measured as pure cost.
    wide = ("corpus AS (SELECT /*+ REPARTITION(%d, doc_id) */ * "
            "FROM corpus0)" % LINE_PARTITIONS) if d == SPARK else \
        "corpus AS (SELECT * FROM corpus0)"
    corpus = (corpus0_sql if corpus0_sql is not None else
              _near_corpus(d).replace("corpus AS (", "corpus0 AS (", 1)) \
        + ",\n" + wide
    return """{corpus},{expl},
sigs AS (SELECT doc_id, {sigs} FROM exploded GROUP BY doc_id),
{bands}""".format(corpus=corpus, expl=_exploded_shingles(d),
                  sigs=_minhash_agg(), bands=_band_ctes(d, "sigs",
                                                         bucket_cap))


# the exact-Jaccard expression every verify tier applies to a row of
# ``inter i`` joined to ``sizes sa`` (left) and ``sizes sb`` (right)
_JACCARD = ("CAST(i.inter AS DOUBLE) / "
            "CAST(sa.n + sb.n - i.inter AS DOUBLE)")


def _jaccard_ctes(cand: str = "cand", shingled: str = None) -> str:
    """The shared verify core over ``exploded``: distinct shingle
    sets, per-key sizes, and the pairwise intersection counts for the
    pairs in ``{cand}(left_id, right_id)``.  Consumers join ``inter
    i`` back to ``sizes sa/sb`` and apply ``_JACCARD`` (with or
    without a τ cut).  One definition for all five verify tiers
    (lsh_verified, ngram_jaccard, verified-pairs, span_neardup,
    incremental) and their persisted twins, which pass their
    checkpointed distinct ``shingled`` view instead of deriving it, so
    shingle/Jaccard semantics can only change in one place."""
    head = ("" if shingled else
            "shingled AS (SELECT DISTINCT doc_id, s FROM exploded),\n")
    return head + """sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM {sh} GROUP BY doc_id),
inter AS (
  SELECT c.left_id, c.right_id, CAST(COUNT(*) AS BIGINT) AS inter
  FROM {cand} c
  JOIN {sh} a ON a.doc_id = c.left_id
  JOIN {sh} b ON b.doc_id = c.right_id AND b.s = a.s
  GROUP BY c.left_id, c.right_id
)""".format(cand=cand, sh=shingled or "shingled")


@query("dedup_lsh_pairs")
def q_lsh(d: str) -> str:
    """LSH banding: 4 bands of 2 signature slots → band-key equi-join →
    distinct candidate pairs (a<b)."""
    return "WITH %s SELECT left_id, right_id FROM cand" % _lsh_ctes(d)


@query("dedup_lsh_verified")
def q_lsh_verified(d: str) -> str:
    """The composed dedup ladder: LSH candidate pairs → exact 4-gram
    Jaccard verification → near-duplicates at τ ≥ 0.5.  The expensive
    pairwise set intersection runs ONLY over LSH candidates (bounded
    by band-bucket fan-in), never all pairs — the shape that survives
    10^12 documents."""
    return q_jaccard(d) + "WHERE %s >= 0.5\n" % _JACCARD


def _verified_pairs_ctes(d: str) -> str:
    """CTE chain ending in ``verified(left_id, right_id)`` — the
    τ ≥ 0.5 near-duplicate pairs (dedup_lsh_verified's output set)."""
    return """{lsh},
{jac},
verified AS (
  SELECT i.left_id, i.right_id
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.left_id
  JOIN sizes sb ON sb.doc_id = i.right_id
  WHERE {jexpr} >= 0.5
)""".format(lsh=_lsh_ctes(d), jac=_jaccard_ctes(), jexpr=_JACCARD)


# propagation rounds for the unrolled connected-components SQL: the
# near-dup graph's components are duplicate CLUSTERS (diameter is
# small by construction — a chain of near-dups longer than this means
# the tier's threshold is mis-set); a test pins the labels against a
# union-find over the verified pairs, so 4 is proven sufficient there
_CC_ROUNDS = 4


@query("dedup_components")
def q_components(d: str) -> str:
    """The dedup DECISION step: near-duplicate pairs → connected
    components → one keeper per cluster (min doc_id) + a duplicate
    flag per member — what a training-data pipeline actually applies
    to drop rows (exact dedup's ``keeper_id`` ladder, lifted to the
    near-dup graph).

    Shape: min-label propagation, ``_CC_ROUNDS`` unrolled rounds over
    the (symmetrized + self-loop) edge list — each round is one
    equi-join + min-aggregate, the alternating-star/label-propagation
    family every distributed CC algorithm at 10^12 scale uses.  Both
    engines run this SQL; a test pins that its labels are the fixpoint
    of a Python union-find over the verified pairs, so ``_CC_ROUNDS``
    suffices for this corpus's cluster diameters."""
    return """
WITH {ctes}
SELECT doc_id, label AS cluster_keeper,
  CASE WHEN doc_id > label THEN 1 ELSE 0 END AS is_duplicate
FROM lab{k}
""".format(ctes=",\n".join(_cc_parts(d)), k=_CC_ROUNDS)


def _cc_parts(d: str) -> list:
    """The connected-components CTE chain (pairs → symmetrized edges →
    ``lab{_CC_ROUNDS}(doc_id, label)``), shared by q_components and
    the leakage-safe split."""
    parts = [_verified_pairs_ctes(d), """
edges AS (
  SELECT left_id AS src, right_id AS dst FROM verified
  UNION ALL
  SELECT right_id AS src, left_id AS dst FROM verified
  UNION ALL
  SELECT v AS src, v AS dst FROM (
    SELECT left_id AS v FROM verified
    UNION SELECT right_id AS v FROM verified) vs
)""".strip(), """
lab0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges)
""".strip()]
    tpl = """
lab{r} AS (
  SELECT e.dst AS doc_id, MIN(l.label) AS label
  FROM edges e JOIN lab{p} l ON l.doc_id = e.src
  GROUP BY e.dst
)"""
    for r in range(1, _CC_ROUNDS + 1):
        parts.append(tpl.format(r=r, p=r - 1).strip())
    return parts


def _assigned_cte(d: str, extra_cols: str = "") -> str:
    """``assigned(doc_id, cluster_id[, extra])`` — every corpus member
    with its component label; singletons label themselves via the LEFT
    JOIN coalesce.  ONE definition of the singleton rule, shared by the
    leakage-safe split and the keeper selection so they can never
    disagree on cluster membership."""
    return """
assigned AS (
  SELECT c.doc_id, COALESCE(l.label, c.doc_id) AS cluster_id{extra}
  FROM corpus c LEFT JOIN lab{k} l ON l.doc_id = c.doc_id
)""".format(k=_CC_ROUNDS, extra=extra_cols).strip()


@query("split_leakage_safe")
def q_split_leakage_safe(d: str) -> str:
    """Cluster-aware train/eval split — the anti-leakage rule every
    benchmark-clean pipeline needs: a near-duplicate CLUSTER must land
    entirely on one side, else eval rows have train-side twins and the
    benchmark is contaminated (the failure Lee et al. 2022 measured).

    Docs are assigned their component label (singletons label
    themselves via the LEFT JOIN coalesce), then a deterministic
    md5-die on the CLUSTER id picks the side (~10% eval).  The naive
    per-doc die is emitted alongside with ``would_leak = 1`` on every
    member of a multi-doc cluster whose members the naive dies send
    to DIFFERENT sides — the clusters the naive split actually shears
    (disagreement with the cluster die alone is not leakage: a
    cluster the naive dies keep together is safe whichever side it
    landed on).  A test pins that the cluster split has zero
    straddling clusters while the naive one demonstrably leaks on
    the fixture corpus.

    Shape at 10^12 docs: the label table is the CC output (already
    computed for dedup); the split adds one broadcast-joinable
    projection — no new shuffle beyond the label join itself."""
    cs = "STRING" if d == SPARK else "VARCHAR"
    cdie = "%s %% 10" % HEX2INT(
        "md5('split|' || CAST(cluster_id AS %s))" % cs, d)
    ndie = "%s %% 10" % HEX2INT(
        "md5('split|' || CAST(doc_id AS %s))" % cs, d)
    parts = _cc_parts(d) + [_assigned_cte(d), """
diced AS (
  SELECT doc_id, cluster_id,
    CASE WHEN {cdie} = 0 THEN 'eval' ELSE 'train' END AS split,
    CASE WHEN {ndie} = 0 THEN 'eval' ELSE 'train' END AS naive_split,
    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
      AS cluster_size
  FROM assigned
)""".format(cdie=cdie, ndie=ndie).strip()]
    return """
WITH {ctes}
SELECT doc_id, cluster_id, split, naive_split,
  CASE WHEN cluster_size > 1
        AND MIN(naive_split) OVER (PARTITION BY cluster_id)
            <> MAX(naive_split) OVER (PARTITION BY cluster_id)
       THEN 1 ELSE 0 END AS would_leak
FROM diced
""".format(ctes=",\n".join(parts))


@query("dedup_keep_best")
def q_keep_best(d: str) -> str:
    """Cluster-canonical selection — the APPLY step after near-dup
    clustering: every corpus member gets its cluster id (singletons
    cluster alone), and ONE representative per cluster is kept — the
    longest text, ties to the smallest doc_id (the keep-longest rule
    FineWeb/RefinedWeb-style pipelines apply, where near-dup groups
    keep the most complete member rather than an arbitrary one).
    Differs from ``dedup_components``' min-id keeper exactly when a
    higher-id member is strictly longer — a crafted-corpus test pins
    that divergence; on the fixture corpus the jitter twins are
    first-word-dropped (always shorter), so there the two rules agree
    (also asserted).

    Shape at 10^12 docs: the label table is the CC output (already
    computed for dedup); selection adds one per-cluster window —
    clusters are near-dup groups (small by construction), singletons
    dominate, so the window partitioning carries no skew."""
    parts = _cc_parts(d) + [_assigned_cte(
        d, ",\n         CAST(length(c.text) AS BIGINT) AS n_chars"), """
ranked AS (
  SELECT doc_id, cluster_id, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
  FROM assigned
)""".strip()]
    return """
WITH {ctes}
SELECT doc_id, cluster_id, n_chars,
  MAX(CASE WHEN rk = 1 THEN doc_id END)
    OVER (PARTITION BY cluster_id) AS keeper_id,
  CASE WHEN rk = 1 THEN 1 ELSE 0 END AS is_kept
FROM ranked
""".format(ctes=",\n".join(parts))


def _span_corpus0(d: str) -> str:
    """Span-level near-dup corpus (round-4 ask #8): the extraction's
    own derived line spans (stmt_lines — the S3/S4 contract, the same
    lines span_dedup digests), EXACT-deduplicated first (group by span
    text, carry the occurrence count), because at Common-Crawl scale
    boilerplate repeats millions of times and banding raw spans would
    square the bucket fan-in; LSH then runs over DISTINCT span texts
    only.  A jitter tier (every 3rd distinct span by key hash, first
    word dropped — whitespace/entity-jitter stand-in) synthesizes the
    near-duplicate class the driver corpus lacks, mirroring
    _near_corpus."""
    from ..relational import stmt_lines_cte
    sel = "%s %% 3 = 0" % HEX2INT("span_key", d)
    # >= 9 words so the dropped-word twin keeps Jaccard (w-4)/(w-3) high
    wc = "length(line) - length(replace(line, ' ', '')) >= 8"
    return stmt_lines_cte(d) + """,
dspan0 AS (
  SELECT line, md5(line) AS span_key,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM stmt_lines GROUP BY line
),
dspan AS (
  SELECT span_key, line, n_occurrences FROM dspan0
  UNION ALL
  SELECT md5('j:' || line) AS span_key,
         substring(line, instr(line, ' ') + 1) AS line,
         CAST(1 AS BIGINT) AS n_occurrences
  FROM dspan0 WHERE {sel} AND {wc}
),
corpus0 AS (SELECT span_key AS doc_id, line AS text FROM dspan)""" \
        .format(sel=sel, wc=wc)


def _span_verify(jac: str, dspan: str) -> str:
    """The exact-Jaccard verify tail of ``span_neardup`` after the
    ``jac`` CTEs, weighted by the occurrence counts in ``dspan``."""
    return """{jac}
SELECT i.left_id AS left_key, i.right_id AS right_key,
  {jexpr} AS jaccard,
  oa.n_occurrences AS left_occ, ob.n_occurrences AS right_occ
FROM inter i
JOIN sizes sa ON sa.doc_id = i.left_id
JOIN sizes sb ON sb.doc_id = i.right_id
JOIN {dspan} oa ON oa.span_key = i.left_id
JOIN {dspan} ob ON ob.span_key = i.right_id
WHERE {jexpr} >= 0.5
""".format(jac=jac, jexpr=_JACCARD, dspan=dspan)


@query("span_neardup")
def q_span_neardup(d: str) -> str:
    """Span-level NEAR-dup (round-4 ask #8): the exact-digest
    ``span_dedup`` tier's sibling for jittered boilerplate.  Flow:
    spans → exact-dedup to distinct span texts (+occurrence counts) →
    the SAME MinHash/LSH band machinery as document dedup
    (_lsh_ctes, band-bounded equi-join — never all-pairs) with the
    super-bucket guard (bucket_cap=64: short spans degenerate a few
    buckets toward n members — see _lsh_ctes docstring; the guard cut
    6.37M candidates to 31.5k at sf0.1 with the jitter-twin class
    fully retained) → exact 4-gram Jaccard ≥ 0.5 verification,
    weighted by how often each span text occurs in the corpus."""
    return "\nWITH %s,\n%s" % (
        _lsh_ctes(d, corpus0_sql=_span_corpus0(d), bucket_cap=64),
        _span_verify(_jaccard_ctes(), "dspan"))


def _shingle_leaves(st, spark, prefix: str, corpus: str) -> None:
    """Checkpoint the shingles of ``SELECT {corpus}`` (doc_id, text)
    as ``{prefix}_exploded``, then their MinHash signatures and
    distinct shingle sets as ``{prefix}_sigs`` and
    ``{prefix}_shingled``.  The expensive shingle pass (posexplode +
    lead windows) runs once, at full width (same REPARTITION rationale
    as _lsh_ctes).  The two aggregations are INDEPENDENT consumers of
    the exploded leaf, so they are materialized from two driver
    threads (guide §2.6, same overlap as the trustrank chains): the
    second job's tasks back-fill executors freed by the first job's
    tail."""
    from concurrent.futures import ThreadPoolExecutor

    st.checkpoint(spark.sql("""
WITH corpus AS (
  SELECT /*+ REPARTITION(%d, doc_id) */ %s
),%s
SELECT doc_id, s FROM exploded""" % (
        LINE_PARTITIONS, corpus, _exploded_shingles(SPARK))),
        view=prefix + "_exploded")
    sql = {"sigs": "SELECT doc_id, %s FROM %s_exploded GROUP BY doc_id"
                   % (_minhash_agg(), prefix),
           "shingled": "SELECT DISTINCT doc_id, s FROM %s_exploded"
                       % prefix}
    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(st.checkpoint, spark.sql(q),
                              "%s_%s" % (prefix, name))
                  for name, q in sql.items()]:
            f.result()


def span_neardup_frame(st, spark):
    """PRODUCTION span near-dup — the persisted-intermediate twin of
    the ``span_neardup`` SQL, row-identical (the unrolled SQL stays as
    the cross-engine DuckDB oracle; a test pins row-identity).

    Why (round-6 measurement, guide §3.3/§5): Catalyst inlines every
    CTE reference, so the unrolled form re-derives the span corpus +
    posexplode/window shingle pipeline once per consumer — ``exploded``
    is referenced by sigs and (distinct) shingled, ``banded_long``
    three times (a, bucket guard, b), ``shingled`` twice in the
    intersection join, ``dspan`` twice in the final occurrence join:
    the before-plan is 260 operators with TEN scans of ``documents``
    (plans/r06/span_neardup_before.txt).  Here each shared stage is
    computed once and persisted; every fragment below reuses the SAME
    SQL text builders as the oracle form, so semantics are
    single-sourced.  This is the identical promoted-twin rationale as
    trustrank/kcore (the twin rows of __spark_entry__._SIDES) — at 10^12
    spans you materialize the narrow signature/shingle tables, never
    re-derive them per reference."""
    d = SPARK
    cap = 64  # == the bucket_cap the span_neardup SQL passes
    # stage 1: distinct span corpus + jitter twin — ONE derivation,
    # checkpointed (not cached: Spark 4.1's cache substitution does
    # not fire for a cached view referenced from inside a WITH CTE —
    # measured: 0 InMemoryTableScans, full re-derivation — while a
    # checkpointed DataFrame is a LogicalRDD leaf that every
    # downstream SQL shape scans directly; same discipline as
    # kcore_df's per-round state)
    st.checkpoint(spark.sql(
        "WITH %s SELECT span_key, line, n_occurrences FROM dspan"
        % _span_corpus0(d)), view="snd_dspan")
    # stages 2-3: shingles, then signatures + distinct shingle sets
    # (narrow, reused)
    _shingle_leaves(st, spark, "snd",
                    "span_key AS doc_id, line AS text FROM snd_dspan")
    # stage 4: band → capped candidates → exact-Jaccard verify — the
    # verbatim tail of the span_neardup SQL over the persisted views
    return spark.sql("\nWITH %s,\n%s" % (
        _band_ctes(d, "snd_sigs", cap),
        _span_verify(_jaccard_ctes("cand", "snd_shingled"), "snd_dspan")))


span_neardup_df = materialized(span_neardup_frame)


def _simhash_parts(d: str, n_bits: int = 16) -> str:
    """The SimHash CTE chain (``tok`` → ``bits`` → ``sh(doc_id,
    simhash)``), appended after a ``corpus(doc_id, text)`` CTE — shared
    by ``dedup_simhash`` (16-bit fingerprints, the original row) and
    the Manku banded near-dup join (``simhash_hamming``, 48-bit: wide
    enough that unrelated docs essentially never land within the
    radius — C(48,≤3)/2^48 ≈ 6e-11 — so the verified-pair volume is
    the true near-dup count, not fingerprint saturation noise)."""
    ws = "split(text, ' ')" if d == SPARK else "string_split(text, ' ')"
    h = HEX2INT("md5(w)", d)
    votes = []
    packed = []
    for b in range(n_bits):
        votes.append(
            "CAST(SUM(CASE WHEN (hv >> %d) & 1 = 1 THEN 1 ELSE -1 END) "
            "AS BIGINT) AS v%d" % (b, b))
        packed.append("CASE WHEN v%d > 0 THEN %d ELSE 0 END" % (b, 1 << b))
    if d == SPARK:
        expl = ("SELECT doc_id, %s AS hv FROM "
                "(SELECT doc_id, %s AS ws FROM corpus) t "
                "LATERAL VIEW explode(ws) e AS w" % (h, ws))
    else:
        expl = ("SELECT doc_id, %s AS hv FROM "
                "(SELECT doc_id, unnest(ws) AS w FROM "
                "(SELECT doc_id, %s AS ws FROM corpus) t0) t" % (h, ws))
    return """
tok AS ({expl}),
bits AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM bits)
""".format(expl=expl, votes=", ".join(votes),
           packed=" + ".join(packed)).strip()


@query("dedup_simhash")
def q_simhash(d: str) -> str:
    """SimHash (16-bit): per-token 60-bit digests vote bitwise; the
    fingerprint packs the majority bits."""
    return """
WITH {corpus},
{sh}
SELECT doc_id, simhash FROM sh
""".format(corpus=_dup_corpus(d), sh=_simhash_parts(d))


_SIMHAM_BITS = 48    # fingerprint width for the near-dup join
_SIMHAM_BLOCKS = 4   # split into 4 disjoint 12-bit blocks
_SIMHAM_MAXHAM = 3   # pigeonhole-exhaustive Hamming radius (see below)


def _simham_tail(d: str) -> str:
    """The Manku banding tail over ``sh(doc_id, simhash)``: 4-block
    unpivot → candidate pairs sharing a block → Hamming verify.  The
    oracle form follows it after the ``sh`` CTE chain; the production
    twin after a one-line ``sh`` CTE over its checkpointed view."""
    bpb = _SIMHAM_BITS // _SIMHAM_BLOCKS
    mask = (1 << bpb) - 1
    if d == SPARK:
        bandrows = ("SELECT explode(sequence(0, %d)) AS b"
                    % (_SIMHAM_BLOCKS - 1))
        bandval = "(shiftright(s.simhash, r.b * %d) & %d)" % (bpb, mask)
        hamming = "bit_count(sa.simhash ^ sb.simhash)"
    else:
        bandrows = "SELECT unnest(range(0, %d)) AS b" % _SIMHAM_BLOCKS
        bandval = "((s.simhash >> (r.b * %d)) & %d)" % (bpb, mask)
        hamming = "bit_count(xor(sa.simhash, sb.simhash))"
    return """bands AS (
  SELECT s.doc_id, r.b, {bandval} AS bv
  FROM sh s CROSS JOIN ({bandrows}) r
),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.left_id, c.right_id, CAST({hamming} AS INT) AS hamming
FROM cand c
JOIN sh sa ON sa.doc_id = c.left_id
JOIN sh sb ON sb.doc_id = c.right_id
WHERE {hamming} <= {maxham}
""".format(bandval=bandval, bandrows=bandrows, hamming=hamming,
           maxham=_SIMHAM_MAXHAM)


def simhash_hamming_frame(st, spark):
    """PRODUCTION SimHash banded near-dup — the persisted-intermediate
    twin of the ``simhash_hamming`` SQL, row-identical (the unrolled
    SQL stays as the cross-engine DuckDB oracle; a test pins
    row-identity).

    Why (round-6 measurement, same rationale as span_neardup_df):
    Catalyst inlines every CTE reference, so the unrolled form
    re-derives the tokenize + 48-bit-vote fingerprint pipeline once
    per ``sh`` consumer (bands, verify sa, verify sb — 16 parquet
    scans in one plan at sf0.1).  Here the (doc_id, simhash) table —
    exactly what a production fingerprint store persists — is
    checkpointed ONCE and the banding/verify tail reuses the same SQL
    text over that leaf."""
    d = SPARK
    st.checkpoint(spark.sql(
        "WITH %s,\n%s\nSELECT doc_id, simhash FROM sh"
        % (_near_corpus(d).strip(),
           _simhash_parts(d, _SIMHAM_BITS).strip())), view="shm_sh")
    return spark.sql("\nWITH sh AS (SELECT * FROM shm_sh),\n"
                     + _simham_tail(d))


simhash_hamming_df = materialized(simhash_hamming_frame)


@query("simhash_hamming")
def q_simhash_hamming(d: str) -> str:
    """SimHash near-duplicate detection (Manku, Jain & Das Sarma,
    WWW 2007): band the 48-bit fingerprint into 4 disjoint 12-bit
    blocks; candidate pairs share at least one whole block (one
    (block_no, block_value) equi-join — never all-pairs); verify
    candidates at integer Hamming distance ≤ 3.

    The block join is EXHAUSTIVE for this radius by pigeonhole: a pair
    at Hamming distance ≤ 3 has its ≤ 3 differing bits in at most 3 of
    the 4 blocks, so at least one block is bit-identical and the pair
    collides there — zero recall loss vs the O(n²) scan (the test pins
    this equivalence by brute force).  Corpus: the shared near-dup
    tier (every 4th doc re-enters with its first word dropped), so the
    one-token edit class SimHash is designed for actually occurs.

    Shape at 10^12 docs: fingerprints are one explode + hash-agg per
    doc (the dedup_simhash plan), banding is a 4× unpivot of a 64-bit
    column, candidates come from ONE band-key equi-join whose fan-in
    per bucket is |docs| / 4096 expected per block under uniform
    hashing — the same bounded-bucket contract as the MinHash/LSH
    tier, with the radius/recall/volume trade dialed by bits-per-block
    (Manku's d/(k+1)-bit split for radius k)."""
    return "\nWITH %s,\n%s,\n%s" % (
        _near_corpus(d), _simhash_parts(d, _SIMHAM_BITS), _simham_tail(d))


@query("dedup_ngram_jaccard")
def q_jaccard(d: str) -> str:
    """Exact n-gram Jaccard for EVERY LSH candidate pair — the
    unfiltered verification tier (``dedup_lsh_verified`` is this plus
    the τ ≥ 0.5 near-duplicate cut).  Candidates come from the shared
    LSH CTE chain, never from fixture arithmetic, so the pairwise set
    intersection stays bounded by band-bucket fan-in at any scale."""
    return """
WITH {lsh},
{jac}
SELECT i.left_id, i.right_id, i.inter,
  sa.n AS left_n, sb.n AS right_n,
  {jexpr} AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.left_id
JOIN sizes sb ON sb.doc_id = i.right_id
""".format(lsh=_lsh_ctes(d), jac=_jaccard_ctes(), jexpr=_JACCARD)


def _inc_corpus(d: str) -> str:
    """The arrival batch of ``dedup_incremental`` as one UNION ALL of
    ``(doc_id, text)``: old documents plus the near, exact and
    reordered tiers (see ``q_incremental``)."""
    if d == SPARK:
        rev = "array_join(reverse(split(text, ' ')), ' ')"
    else:
        rev = "array_to_string(list_reverse(string_split(text, ' ')), ' ')"
    drop1 = "substring(text, instr(text, ' ') + 1)"
    return """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, {drop1} AS text
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, {rev} AS text
  FROM documents WHERE doc_id % 9 = 0""".format(drop1=drop1, rev=rev)


def _inc_tail(shingled: str = None) -> str:
    """The screen → verify → verdict tail of ``dedup_incremental``
    over ``corpus`` and the LSH ``cand`` pairs: content-hash exact
    hits, new-sided candidates verified by ``_jaccard_ctes`` (over
    ``shingled`` when given, else derived from ``exploded``), the best
    near match, and one verdict row per new doc."""
    return """hashes AS (SELECT doc_id, md5(text) AS h FROM corpus),
exact_hit AS (
  SELECT n.doc_id, MIN(o.doc_id) AS match_id
  FROM hashes n JOIN hashes o ON o.h = n.h AND o.doc_id < n.doc_id
  WHERE n.doc_id >= 1000000 GROUP BY n.doc_id
),
inc_cand AS (
  SELECT left_id, right_id FROM cand WHERE right_id >= 1000000
),
{jac},
near AS (
  SELECT i.right_id AS doc_id, i.left_id AS match_id,
    {jexpr} AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.left_id
  JOIN sizes sb ON sb.doc_id = i.right_id
  WHERE {jexpr} >= 0.5
),
near_best AS (
  SELECT doc_id, match_id, jaccard FROM (
    SELECT doc_id, match_id, jaccard,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY jaccard DESC, match_id) AS rn
    FROM near
  ) t WHERE rn = 1
)
SELECT c.doc_id,
  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN nb.doc_id IS NOT NULL THEN 'near_dup'
       ELSE 'kept' END AS verdict,
  COALESCE(e.match_id, nb.match_id) AS match_id,
  CASE WHEN e.doc_id IS NULL THEN nb.jaccard END AS jaccard
FROM corpus c
LEFT JOIN exact_hit e ON e.doc_id = c.doc_id
LEFT JOIN near_best nb ON nb.doc_id = c.doc_id
WHERE c.doc_id >= 1000000
""".format(jac=_jaccard_ctes("inc_cand", shingled), jexpr=_JACCARD)


@query("dedup_incremental")
def q_incremental(d: str) -> str:
    """Incremental crawl dedup — the daily-snapshot contract: a NEW
    batch of arrivals is screened against the ALREADY-DEDUPED corpus
    (and against earlier arrivals in the same batch) without ever
    re-comparing old×old.  Verdict ladder per new doc:
    ``exact_dup`` (content hash hits an older doc) → ``near_dup``
    (LSH candidate verified at 4-gram Jaccard ≥ 0.5) → ``kept``;
    the best near match is (jaccard DESC, match_id ASC).

    Batch synthesis in-plan (ids encode arrival order, old < new):
    old = documents; new = every 4th doc re-crawled with its first
    word dropped (+1000000, the near tier), every 7th verbatim
    (+2000000, the exact tier), every 9th with word order reversed
    (+3000000 — all 4-gram shingles change, a genuinely new page).

    Shape at 10^12 docs: the candidate set is ``cand`` filtered to
    pairs whose RIGHT side is new before the expensive Jaccard
    verify, so the pairwise work is new-sized, not corpus-sized.  In
    production the old side is a PERSISTED band-bucket table (the
    bm25_serve_persisted append pattern: new signatures append as
    fragments, band-key-partitioned): the screen is then |new_bands|
    joined against bucket partitions — old×old pairs never form at
    all rather than being filtered, and the verify join reads only
    bucket-matched old shingle sets."""
    corpus0 = "corpus0 AS (%s\n)" % _inc_corpus(d)
    return "\nWITH %s,\n%s" % (_lsh_ctes(d, corpus0_sql=corpus0),
                               _inc_tail())


def dedup_incremental_frame(st, spark):
    """PRODUCTION incremental dedup — the persisted-intermediate twin
    of the ``dedup_incremental`` SQL, row-identical (the unrolled SQL
    stays as the cross-engine DuckDB oracle; a test pins
    row-identity).

    Why (round-6 measurement, same rationale as span_neardup_df /
    allpairs_prefix_df): Catalyst inlines every CTE reference, so the
    unrolled form re-derives the 4-tier corpus + shingle pipeline
    once per consumer (72 parquet scans in one plan at sf0.1).  Here
    the corpus, exploded shingles, signatures and distinct shingle
    sets are checkpointed once (signatures and shingle sets from two
    driver threads — independent consumers of the exploded leaf) and
    the band/screen/verify/verdict tail reuses the same SQL text
    builders over the leaves.  This IS the production shape the
    oracle docstring describes: the old side's bands/shingles are a
    persisted artifact, only the new-sided screen recomputes."""
    d = SPARK
    st.checkpoint(spark.sql(_inc_corpus(d)), view="inc_corpus")
    _shingle_leaves(st, spark, "inc", "doc_id, text FROM inc_corpus")
    return spark.sql("\nWITH corpus AS (SELECT * FROM inc_corpus),\n%s,\n%s"
                     % (_band_ctes(d, "inc_sigs"), _inc_tail("inc_shingled")))


dedup_incremental_df = materialized(dedup_incremental_frame)


# ------------------------------------------- exact substring dedup

_SUB_K = 8       # minimum duplicated run length (tokens).  The
                 # published protocol (Lee et al. 2022, "Deduplicating
                 # Training Data Makes Language Models Better") uses 50
                 # BPE tokens over a suffix array; fixture documents
                 # are ~30 words, so the threshold scales down and the
                 # suffix array is replaced by the equivalent k-gram
                 # anchoring (a duplicated run of length >= k is
                 # exactly a maximal island of duplicated k-gram
                 # starts — same removal set, join-expressible).

_SUB_BOILER = (
    "terms of service apply to all content on this site",
    "all rights reserved unauthorized reproduction is strictly "
    "prohibited by law",
    "subscribe to our newsletter for updates and exclusive offers today",
)


def _substring_corpus(d: str) -> str:
    """Corpus with deterministically injected duplicated substrings
    (the driver corpus has no guaranteed >=k-token exact repeats):
    docs with doc_id %% 13 = 6 carry one shared boilerplate sentence
    (cross-doc duplication, three rotating sentences), docs with
    doc_id %% 13 = 5 carry it TWICE (adds within-doc multiplicity —
    the protocol counts total corpus occurrences, not distinct
    docs)."""
    b = ("CASE doc_id % 3 WHEN 0 THEN '{0}' WHEN 1 THEN '{1}' "
         "ELSE '{2}' END".format(*_SUB_BOILER))
    return """
corpus AS (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 5 THEN text || ' ' || {b} || ' ' || {b}
         WHEN doc_id % 13 = 6 THEN text || ' ' || {b}
         ELSE text END AS text
  FROM documents
)""".format(b=b)


@query("dedup_substring")
def q_exact_substring(d: str) -> str:
    """Exact duplicated-substring removal (suffix-array dedup
    re-expressed distributed): any >= _SUB_K-token run whose every
    k-gram occurs >= 2 times in the whole corpus is cut from the
    document; overlapping cuts merge into maximal islands
    (gaps-and-islands over the covered flag).  Per doc: span count,
    tokens removed/kept, and the reconstructed clean text.

    Distributed shape at 10^12 docs: one posexplode + lead-window pass
    builds gram starts (array-free — see _exploded_shingles for the
    slice-lambda trap), one (gram) hash agg finds corpus-duplicated
    grams (map-side partial agg), one hash join marks start positions,
    and coverage/islands/reconstruction are per-doc windows over the
    existing (doc_id, pos) partitioning — no all-pairs work, cost
    O(total tokens).  Docs shorter than k emit no grams and pass
    through unchanged.  (Divergence from the paper: k-gram anchoring
    == suffix-array semantics for runs >= k; runs can self-overlap
    within a doc, handled identically by total-occurrence counting.)
    """
    if d == SPARK:
        toks = """
toks AS (
  SELECT doc_id, pos, w FROM corpus
  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
)"""
        clean = ("concat_ws(' ', transform(array_sort(collect_list("
                 "CASE WHEN covered = 0 THEN struct(pos AS o, w AS v) "
                 "END)), x -> x.v))")
    else:
        toks = """
wsed AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
toks AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
                unnest(ws) AS w
         FROM wsed)"""
        clean = ("coalesce(string_agg(CASE WHEN covered = 0 THEN w END, "
                 "' ' ORDER BY pos), '')")
    leads = ", ".join("lead(w, %d) OVER w1" % i for i in range(1, _SUB_K))
    return """
WITH {corpus},
{toks},
led AS (
  SELECT doc_id, pos, w,
    concat_ws(' ', w, {leads}) AS g,
    count(*) OVER (PARTITION BY doc_id) AS n
  FROM toks
  WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (
  SELECT doc_id, pos, w,
    CASE WHEN pos + 1 <= n - {km1} THEN g END AS full_g
  FROM led
),
dupg AS (
  SELECT full_g FROM grams WHERE full_g IS NOT NULL
  GROUP BY full_g HAVING count(*) > 1
),
starts AS (
  SELECT gr.doc_id, gr.pos, gr.w,
    CASE WHEN dg.full_g IS NOT NULL THEN 1 ELSE 0 END AS is_dup_start
  FROM grams gr LEFT JOIN dupg dg ON dg.full_g = gr.full_g
),
cover AS (
  SELECT doc_id, pos, w,
    max(is_dup_start) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN {km1} PRECEDING AND CURRENT ROW) AS covered
  FROM starts
),
marked AS (
  SELECT doc_id, pos, w, covered,
    CASE WHEN covered = 1 AND coalesce(
           lag(covered) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
         THEN 1 ELSE 0 END AS span_start
  FROM cover
)
SELECT doc_id,
  CAST(SUM(span_start) AS BIGINT) AS n_dup_spans,
  CAST(SUM(covered) AS BIGINT) AS tokens_removed,
  CAST(COUNT(*) - SUM(covered) AS BIGINT) AS tokens_kept,
  {clean} AS clean_text
FROM marked GROUP BY doc_id
""".format(corpus=_substring_corpus(d).strip(), toks=toks.strip(),
           leads=leads, km1=_SUB_K - 1, clean=clean)


# --------------------------------------------- asymmetric containment

_CONT_EPS = "0.95"   # containment bar; _JACCARD >= 0.5 is the
                     # near-dup bar shared with the verified tier


def _containment_corpus(d: str) -> str:
    """documents + three deterministic twins realizing the verdict
    classes symmetric Jaccard cannot tell apart:

    * doc_id+2000000 (every 7th): the FIRST-HALF PREFIX — contained
      in its source (c_right = 1.0 exactly: every 4-shingle of a
      prefix is a 4-shingle of the full word sequence) while Jaccard
      sits near 0.5;
    * doc_id+3000000 (every 9th): first half + equal-length qq-noise
      — genuine partial overlap, no containment either way;
    * doc_id+4000000 (every 11th): the full text + 6 rr-noise words —
      a SUPERSET, so the original is contained in it (c_left = 1.0);
    * doc_id+5000000 (every 13th): every 12th word replaced with
      zz-noise — ~2/3 of the shingle windows survive intact, so both
      containments sit near 0.6 and Jaccard near 0.5: the mutual
      near-dup class with NO containment either way.
    """
    ws = _split_ws(d)
    half = "GREATEST(CAST(floor(%s / 2) AS INT), 5)" % LEN("ws", d)
    prefix = JOINA(SLICE("ws", "1", half, d), " ", d)
    if d == SPARK:
        qq = JOINA(
            "transform(sequence(0, %s - 1), i -> "
            "concat('qq', CAST(doc_id * 31 + i AS STRING)))" % half,
            " ", d)
        rr = JOINA(
            "transform(sequence(0, 5), i -> "
            "concat('rr', CAST(doc_id * 31 + i AS STRING)))", " ", d)
        mut = JOINA(
            "transform(ws, (w, i) -> CASE WHEN i % 12 = 0 THEN "
            "concat('zz', CAST(doc_id * 31 + i AS STRING)) "
            "ELSE w END)", " ", d)
    else:
        qq = JOINA(
            "['qq' || CAST(doc_id * 31 + i AS VARCHAR) "
            "for i in range(0, %s)]" % half, " ", d)
        rr = JOINA(
            "['rr' || CAST(doc_id * 31 + i AS VARCHAR) "
            "for i in range(0, 6)]", " ", d)
        mut = JOINA(
            "[CASE WHEN (i - 1) %% 12 = 0 THEN "
            "'zz' || CAST(doc_id * 31 + (i - 1) AS VARCHAR) "
            "ELSE ws[i] END for i in range(1, %s + 1)]"
            % LEN("ws", d), " ", d)
    return """
corpus0 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, {prefix} AS text
  FROM (SELECT doc_id, {ws} AS ws FROM documents) t1
  WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, {prefix} || ' ' || {qq} AS text
  FROM (SELECT doc_id, {ws} AS ws FROM documents) t2
  WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id, text || ' ' || {rr} AS text
  FROM (SELECT doc_id, text, {ws} AS ws FROM documents) t3
  WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, {mut} AS text
  FROM (SELECT doc_id, {ws} AS ws FROM documents) t4
  WHERE doc_id % 13 = 0
)""".format(prefix=prefix, ws=ws, qq=qq, rr=rr, mut=mut).strip()


@query("dedup_containment")
def q_containment(d: str) -> str:
    """Asymmetric shingle containment (Broder, SEQUENCES'97 — the
    *containment* measure from the resemblance paper): for LSH
    candidate pairs, c(A in B) = |S(A) n S(B)| / |S(A)| over distinct
    4-shingles, both directions, with the verdict ladder

        duplicate      — both containments >= 0.95
        left_in_right  — c_left >= 0.95 (left is a quote/subset)
        right_in_left  — c_right >= 0.95
        near_dup       — Jaccard >= 0.5, no containment
        overlap        — everything else above the 0.2 output floor.

    This is the dedup-policy signal Jaccard alone loses: a document
    QUOTING another (prefix/subset, j ~ 0.5) and two documents
    sharing half their content (j ~ 0.5) demand different keeper
    decisions — drop the contained copy vs keep both.  Candidates
    come from the same banded-LSH join as the verified tier (bounded
    fan-in, never n^2; band recall at j ~ 0.5 is the documented
    LSH-for-containment limitation — the pairs it does surface get
    EXACT set arithmetic).  Counts are exact integers; each ratio is
    one IEEE division — identical across engines."""
    cl = "CAST(i.inter AS DOUBLE) / CAST(sa.n AS DOUBLE)"
    cr = "CAST(i.inter AS DOUBLE) / CAST(sb.n AS DOUBLE)"
    return """
WITH {lsh},
{jac}
SELECT i.left_id, i.right_id,
  sa.n AS n_left, sb.n AS n_right, i.inter AS n_common,
  {jacexpr} AS jaccard, {cl} AS c_left, {cr} AS c_right,
  CASE WHEN {cl} >= {eps} AND {cr} >= {eps} THEN 'duplicate'
       WHEN {cl} >= {eps} THEN 'left_in_right'
       WHEN {cr} >= {eps} THEN 'right_in_left'
       WHEN {jacexpr} >= 0.5 THEN 'near_dup'
       ELSE 'overlap' END AS verdict
FROM inter i
JOIN sizes sa ON sa.doc_id = i.left_id
JOIN sizes sb ON sb.doc_id = i.right_id
WHERE {jacexpr} >= 0.2
""".format(lsh=_lsh_ctes(d, corpus0_sql=_containment_corpus(d)),
           jac=_jaccard_ctes("cand"), jacexpr=_JACCARD,
           cl=cl, cr=cr, eps=_CONT_EPS)


# --------------------------------------- content-defined chunking

_CDC_MOD = 8   # expected chunk length in words (boundary prob 1/8)


@query("cdc_chunks")
def q_cdc_chunks(d: str) -> str:
    """Content-defined chunking dedup (the LBFS/rsync/FastCDC idea,
    Muthitacharoen et al. SOSP'01): chunk boundaries come from a
    rolling hash of the CONTENT (here: the word-bigram digest,
    boundary when hash % 8 == 0), so after an insertion the
    boundaries RE-SYNCHRONIZE and all downstream chunks keep their
    digests — where fixed-size chunking shifts every later chunk and
    shares nothing.  The operator emits, per (original, edited-twin)
    pair, the shared-chunk counts under BOTH policies — the
    measurable resync property, plus the per-doc chunk inventories
    the dedup store would key on.

    Twin tier: every 6th doc re-enters (+6000000) with two words
    inserted at position 3 — the classic head-edit that defeats
    fixed chunking.

    Shape at 10^12 docs: posexplode → two window functions partitioned
    by doc (boundary flag via lead, chunk id via running sum — the
    same per-doc window family as G1 block segmentation) → ordered
    per-chunk concat + md5 → ONE digest equi-join bounded by digest
    multiplicity.  No cross-doc all-pairs anywhere."""
    ins = ("['zz' || CAST(doc_id AS VARCHAR), 'qq' || "
           "CAST(doc_id AS VARCHAR)]" if d == DUCK else
           "array(concat('zz', CAST(doc_id AS STRING)), "
           "concat('qq', CAST(doc_id AS STRING)))")
    if d == SPARK:
        twin_text = ("array_join(concat(slice(ws, 1, 3), {ins}, "
                     "slice(ws, 4, size(ws))), ' ')").format(ins=ins)
        bigram = "concat(w, '|', lead(w, 1, '') OVER (PARTITION BY doc_id ORDER BY pos))"
    else:
        twin_text = ("array_to_string(ws[1:3] || {ins} || "
                     "ws[4:len(ws)], ' ')").format(ins=ins)
        bigram = "w || '|' || COALESCE(lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos), '')"
    from ..relational import HEX2INT
    bhash = HEX2INT("md5(%s)" % bigram, d)
    chunk_text = JOINA(ORD_ARRAY("w", "pos", d), " ", d)
    return """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 6000000 AS doc_id, {twin} AS text
  FROM (SELECT doc_id, {ws} AS ws FROM documents) t
  WHERE doc_id % 6 = 0
),
{wsplit},
flagged AS (
  SELECT doc_id, pos, w,
    CASE WHEN {bhash} % {m} = 0 THEN 1 ELSE 0 END AS boundary
  FROM wpos
),
chunked AS (
  SELECT doc_id, pos, w,
    CAST(COALESCE(SUM(boundary) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS chunk_id,
    CAST(CAST(pos AS BIGINT) - (CAST(pos AS BIGINT) % {m})
      AS BIGINT) / {m} AS fixed_id
  FROM flagged
),
cdc AS (
  SELECT doc_id, chunk_id, md5({ctext}) AS digest
  FROM chunked GROUP BY doc_id, chunk_id
),
fixed AS (
  SELECT doc_id, fixed_id, md5({ftext}) AS digest
  FROM chunked GROUP BY doc_id, fixed_id
),
cdcd AS (SELECT DISTINCT doc_id, digest FROM cdc),
fixedd AS (SELECT DISTINCT doc_id, digest FROM fixed),
cdc_shared AS (
  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM cdcd a JOIN cdcd b
    ON b.doc_id = a.doc_id + 6000000 AND b.digest = a.digest
  GROUP BY a.doc_id
),
fixed_shared AS (
  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM fixedd a JOIN fixedd b
    ON b.doc_id = a.doc_id + 6000000 AND b.digest = a.digest
  GROUP BY a.doc_id
),
counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
  FROM cdc GROUP BY doc_id
)
SELECT c.doc_id,
  c.n_chunks AS n_cdc_chunks,
  CAST(COALESCE(cs.n, 0) AS BIGINT) AS n_cdc_shared,
  CAST(COALESCE(fs.n, 0) AS BIGINT) AS n_fixed_shared
FROM counts c
LEFT JOIN cdc_shared cs ON cs.doc_id = c.doc_id
LEFT JOIN fixed_shared fs ON fs.doc_id = c.doc_id
WHERE c.doc_id < 1000000 AND c.doc_id % 6 = 0
""".format(twin=twin_text, ws=_split_ws(d), wsplit=WPOS_CTE(d, "corpus"),
           bhash=bhash, m=_CDC_MOD, ctext=chunk_text,
           ftext=chunk_text)


# ------------------------------------------------ winnowing (MOSS)

_WIN_K = 4    # gram length (words)
_WIN_W = 5    # winnowing window (grams)
_WIN_TAU = 2  # min shared fingerprints to report a pair


@query("winnow_matches")
def q_winnow_matches(d: str) -> str:
    """Winnowing fingerprint matching (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every {k}-word gram, keep
    per document only each {w}-gram window's MINIMUM hash (the
    winnowed fingerprint set — guaranteed to catch any shared run of
    >= w+k-1 words while storing ~2/(w+1) of the grams), then find
    document pairs sharing >= {tau} fingerprints via an equi-join on
    the fingerprint — the inverted-index shape, never all-pairs.

    Distinct from the LSH tier: LSH answers "are these documents
    mostly the same", winnowing answers "do these documents share a
    COPIED PASSAGE" (plagiarism/quotation detection) — a 40-word
    block inside two otherwise-unrelated documents is invisible to
    whole-document MinHash but guaranteed-caught here.

    Twins: docs with doc_id % 13 = 4 carry a copied 40-word block
    from their partner doc ((doc_id + 101) % corpus size).  Window
    minima ride a (hash || pos) string key so the argmin position
    comes out of the same MIN() — md5 keys are collision-free at
    fixture scale, so ties never decide selection.

    Shape at 10^12 docs: posexplode + two doc-partitioned windows
    (gram build, window min) + DISTINCT fingerprints + one
    fingerprint equi-join with a (fp) hash-agg — candidates are
    bounded by fingerprint bucket sizes exactly like the LSH band
    join."""
    k, w, tau = _WIN_K, _WIN_W, _WIN_TAU
    block = JOINA(SLICE("pws", "1", "40", d), " ", d)
    if d == SPARK:
        toks = """
toks AS (
  SELECT doc_id, pos, wd FROM corpus
  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, wd
)"""
    else:
        toks = """
toks AS (
  SELECT doc_id, CAST(pos - 1 AS INT) AS pos, ws[pos] AS wd
  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM corpus) t
)"""
    leads = ", ".join("lead(wd, %d) OVER wd_w" % i for i in range(1, k))
    return """
WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
partners AS (
  SELECT d1.doc_id, {block} AS block
  FROM (SELECT doc_id FROM documents WHERE doc_id % 13 = 4) d1
  JOIN n_docs ON 1 = 1
  JOIN (SELECT doc_id AS pid, {split_p} AS pws FROM documents) p
    ON p.pid = (d1.doc_id + 101) % n_docs.n
),
corpus AS (
  SELECT t.doc_id,
    CASE WHEN pa.block IS NOT NULL
         THEN t.text || ' ' || pa.block ELSE t.text END AS text
  FROM documents t
  LEFT JOIN partners pa ON pa.doc_id = t.doc_id
),{toks},
grams AS (
  SELECT doc_id, pos,
    CASE WHEN lead(wd, {km1}) OVER wd_w IS NOT NULL
         THEN concat_ws(' ', wd, {leads}) END AS g,
    count(*) OVER (PARTITION BY doc_id) AS n_words
  FROM toks
  WINDOW wd_w AS (PARTITION BY doc_id ORDER BY pos)
),
keyed AS (
  SELECT doc_id, pos,
    substring(md5(g), 1, 15) || '#' ||
      lpad({pos_str}, 8, '0') AS hk,
    n_words - {km1} AS n_grams
  FROM grams WHERE g IS NOT NULL
),
winmins AS (
  SELECT doc_id, pos, n_grams,
    MIN(hk) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND {wm1} FOLLOWING) AS wk
  FROM keyed
),
fps AS (
  -- the full-window gate runs AFTER the frame: tail grams must still
  -- participate in earlier windows' minima, only window STARTS past
  -- n_grams - w are dropped
  SELECT DISTINCT doc_id, substring(wk, 1, 15) AS fp FROM winmins
  WHERE pos + 1 <= n_grams - {wm1}
),
pairs AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
    CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT left_id, right_id, shared_fps
FROM pairs WHERE shared_fps >= {tau}
""".format(block=block, split_p=_split_ws(d, "text"),
           toks=toks.strip(), km1=k - 1, leads=leads, wm1=w - 1,
           pos_str=("CAST(pos AS STRING)" if d == SPARK
                    else "CAST(pos AS VARCHAR)"),
           tau=tau)


# -------------------------------- prefix-filtered all-pairs (PPJoin)

_AP_TAU_NUM, _AP_TAU_DEN = 6, 10   # Jaccard threshold τ = 0.6


def _ap_verify(prefix: str, toks: str, sizes: str) -> str:
    """The candidate → exact-Jaccard verify tail of the prefix-filtered
    join, over the named prefix, distinct-token and set-size tables."""
    return """cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM {prefix} a JOIN {prefix} b
    ON a.w = b.w AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.left_id, c.right_id, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand c
  JOIN {toks} a ON a.doc_id = c.left_id
  JOIN {toks} b ON b.doc_id = c.right_id AND b.w = a.w
  GROUP BY c.left_id, c.right_id
)
SELECT i.left_id, i.right_id, i.inter,
  sa.n AS left_n, sb.n AS right_n,
  CAST(i.inter AS DOUBLE)
    / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN {sizes} sa ON sa.doc_id = i.left_id
JOIN {sizes} sb ON sb.doc_id = i.right_id
WHERE {td} * i.inter >= {tn} * (sa.n + sb.n - i.inter)
""".format(prefix=prefix, toks=toks, sizes=sizes,
           tn=_AP_TAU_NUM, td=_AP_TAU_DEN)


def allpairs_prefix_frame(st, spark):
    """PRODUCTION AllPairs prefix-filter join — the persisted-
    intermediate twin of the ``dedup_allpairs_prefix`` SQL,
    row-identical (the unrolled SQL stays as the cross-engine DuckDB
    oracle; a test pins row-identity).

    Why (round-6 measurement, same rationale as span_neardup_df):
    Catalyst inlines every CTE reference, so the unrolled form
    re-derives the corpus + posexplode/lead-window shingle pipeline
    once per ``toks`` consumer (df, sizes, ranked, inter×2 — 40
    parquet scans in one plan at sf0.1), and ``prefix`` twice more in
    the candidate self-join.  Here the distinct token table is
    computed ONCE (checkpointed leaf), the prefix table once over it,
    and the verify tail reuses the same SQL text as the oracle form.
    At 10^12 docs you materialize the narrow (doc_id, shingle) and
    prefix tables, never re-derive them per reference."""
    d = SPARK
    tn, td = _AP_TAU_NUM, _AP_TAU_DEN
    # the corpus + shingle builders are the SAME text the oracle SQL
    # uses (single-sourced semantics); the lead-window already forces
    # a hashpartitioning(doc_id) exchange, so the explode runs at
    # full shuffle width without an extra repartition
    st.checkpoint(spark.sql(
        "WITH %s,%s\nSELECT DISTINCT doc_id, s AS w FROM exploded"
        % (_near_corpus(d).strip(), _exploded_shingles(d).strip())),
        view="ap_toks")
    st.checkpoint(spark.sql(
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n"
        " FROM ap_toks GROUP BY doc_id"), view="ap_sizes")
    st.checkpoint(spark.sql("""
WITH df AS (SELECT w, COUNT(*) AS dfreq FROM ap_toks GROUP BY w),
ranked AS (
  SELECT t.doc_id, t.w,
    ROW_NUMBER() OVER (PARTITION BY t.doc_id
                       ORDER BY f.dfreq, t.w) AS rn
  FROM ap_toks t JOIN df f ON f.w = t.w
)
SELECT r.doc_id, r.w
FROM ranked r JOIN ap_sizes s ON s.doc_id = r.doc_id
WHERE r.rn <= s.n - CAST(({tn} * s.n + {td} - 1) / {td} AS BIGINT) + 1
""".format(tn=tn, td=td)), view="ap_prefix")
    return spark.sql(
        "\nWITH " + _ap_verify("ap_prefix", "ap_toks", "ap_sizes"))


allpairs_prefix_df = materialized(allpairs_prefix_frame)


@query("dedup_allpairs_prefix")
def q_allpairs_prefix(d: str) -> str:
    """EXACT τ-Jaccard similarity self-join via prefix filtering
    (Bayardo/Ma/Srikant WWW 2007 "AllPairs" / Xiao et al. PPJoin) —
    the deterministic complement to the MinHash/LSH tier: LSH trades
    recall for speed probabilistically; prefix filtering is LOSSLESS.
    Order each document's distinct 4-word shingles (the dedup tier's
    standard set elements) by ascending global document frequency
    (rarest first); two sets with Jaccard >= τ MUST share an element
    within each other's first n - ceil(τ·n) + 1, so the candidate
    join runs over those short prefixes only — and rarest-first
    ordering makes prefix buckets the SMALLEST possible (boilerplate
    shingles shared by everything never generate candidates).

    Verification is the same exact distinct-shingle Jaccard as the
    LSH tier, over prefix candidates only; the pytest pins output
    EQUALITY with the unfiltered brute-force τ-join (losslessness is
    the algorithm's contract, so it is the test).

    Shape at 10^12 docs: one (token) df hash-agg, one per-doc
    ROW_NUMBER window, a candidate equi-join bounded by per-token
    prefix bucket sizes (df-ascending order keeps them small — the
    standard production guard caps them like the LSH tier), then the
    pairwise verify over candidates only.  τ = {tn}/{td}; all
    threshold math is exact-integer ({td}·inter >= {tn}·union)."""
    tn, td = _AP_TAU_NUM, _AP_TAU_DEN
    return """
WITH {corpus},{expl},
toks AS (
  SELECT DISTINCT doc_id, s AS w FROM exploded
),
df AS (SELECT w, COUNT(*) AS dfreq FROM toks GROUP BY w),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM toks GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.w,
    ROW_NUMBER() OVER (PARTITION BY t.doc_id
                       ORDER BY f.dfreq, t.w) AS rn
  FROM toks t JOIN df f ON f.w = t.w
),
prefix AS (
  SELECT r.doc_id, r.w
  FROM ranked r JOIN sizes s ON s.doc_id = r.doc_id
  -- prefix length = n - ceil(τ·n) + 1; ceil(τ·n) = (τnum·n + τden - 1) DIV τden
  WHERE r.rn <= s.n - CAST(({tn} * s.n + {td} - 1) / {td} AS BIGINT) + 1
),
{verify}""".format(corpus=_near_corpus(d).strip().lstrip(),
                   expl=_exploded_shingles(d).strip(), tn=tn, td=td,
                   verify=_ap_verify("prefix", "toks", "sizes"))
