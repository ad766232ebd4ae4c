"""BPE tokenizer training — byte-pair-encoding merge learning
(Sennrich et al. 2016) over the corpus, entirely in-plan.

Canonical BPE trains on the WORD-FREQUENCY table, not the raw token
stream: count each distinct word once, weight its symbol pairs by the
word's corpus frequency, merge the globally most frequent adjacent
pair, repeat.  That structure is what makes the algorithm distributed-
friendly — the vocabulary is Heaps-law sublinear in corpus size, so at
10^12 documents each round is (1) one hash agg over the exploded
symbol pairs of the VOCAB (weighted by counts, partial-agg map-side),
(2) a 1-row argmax broadcast, (3) a narrow per-word string rewrite.
k merge rounds = k small shuffles over a vocab-sized table; the corpus
itself is read once (the initial word count).

Symbol sequences are stored as DOUBLE-SPACE-joined strings ("h  e  l"),
which makes merge application a plain ``replace`` — with single-space
padding the pattern ``" a  b "`` consumes the shared delimiter of
consecutive overlapping occurrences exactly like the canonical
left-to-right non-overlapping merge scan, and ``replace`` has
identical semantics in Spark and DuckDB (no regex, no dialect seam).
Pair counting counts overlapping occurrences (``a a a`` → 2× (a,a)),
also canonical.

Documented divergences from the reference implementation: no
end-of-word marker symbol (merges still never cross words — every
word is its own sequence), and ties on pair count break
lexicographically (count DESC, left ASC, right ASC) so both engines
pick the same merge deterministically.
"""

from __future__ import annotations

from ..relational import DUCK, SPARK, REREPL
from ..stages import scope

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


_ROUNDS = 4


def _pairs_cte(r: int, d: str) -> str:
    """``syms{r}(w, c, sym)`` → ``pairs{r}`` (weighted adjacent-pair
    counts) → ``top{r}`` (the 1-row argmax merge rule)."""
    if d == SPARK:
        expl = """
sp{r} AS (
  SELECT w, c, pos, s FROM syms{r}
  LATERAL VIEW posexplode(split(sym, '  ')) t AS pos, s
)""".format(r=r)
    else:
        expl = """
sp{r} AS (
  SELECT w, c, generate_subscripts(ss, 1) - 1 AS pos, unnest(ss) AS s
  FROM (SELECT w, c, string_split(sym, '  ') AS ss FROM syms{r}) t
)""".format(r=r)
    return """{expl},
pr{r} AS (
  SELECT w, c, s AS a,
    lead(s) OVER (PARTITION BY w ORDER BY pos) AS b
  FROM sp{r}
),
pairs{r} AS (
  SELECT a, b, CAST(SUM(c) AS BIGINT) AS cnt
  FROM pr{r} WHERE b IS NOT NULL GROUP BY a, b
),
top{r} AS (
  SELECT a, b, cnt FROM pairs{r}
  ORDER BY cnt DESC, a, b LIMIT 1
)""".format(expl=expl.strip(), r=r)


def _merge_cte(r: int) -> str:
    """Apply round r's winning merge to every word's symbol string:
    single-space padding + plain replace = canonical left-to-right
    non-overlapping merge (dialect-free).  The padding spaces survive
    every replacement (the pattern and its replacement both begin and
    end with a space), so they are stripped POSITIONALLY — trim()
    would also eat non-ASCII whitespace symbols at the edges in
    DuckDB but not Spark (same fuzz-caught seam as syms0)."""
    return """
syms{r1} AS (
  SELECT w, c, substr(p0, 2, length(p0) - 2) AS sym
  FROM (
    SELECT w, c,
      replace(' ' || sym || ' ',
              ' ' || (SELECT a FROM top{r}) || '  '
                  || (SELECT b FROM top{r}) || ' ',
              ' ' || (SELECT a FROM top{r})
                  || (SELECT b FROM top{r}) || ' ') AS p0
    FROM syms{r}
  ) t{r1}
)""".format(r=r, r1=r + 1)


def _train_chunks(d: str, final_merge: bool = False) -> list:
    """The shared training CTE chain (toks → vocab → syms0 →
    pairs/top/merge per round).  With ``final_merge`` the last round's
    winning merge is also APPLIED, so ``syms{_ROUNDS}`` is the vocab
    encoded with the full learned merge table — the encode artifact."""
    repl = "$1  " if d == SPARK else "\\1  "
    chunks = ["""
toks AS (
  SELECT w FROM documents
  LATERAL VIEW explode(split(text, ' ')) t AS w
)""" if d == SPARK else """
toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
)""", """
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks
          WHERE w <> '' GROUP BY w),
syms0 AS (
  -- the char-split leaves EXACTLY two trailing spaces; strip them
  -- positionally, NOT with trim(): DuckDB's trim eats non-ASCII
  -- whitespace (NBSP-initial words) where Spark's does not — a real
  -- fuzz-caught dialect seam
  SELECT w, c, substr(s0, 1, length(s0) - 2) AS sym
  FROM (SELECT w, c, {chars} AS s0 FROM vocab) v0
)""".format(chars=REREPL("w", "(.)", repl, d))]
    for r in range(_ROUNDS):
        chunks.append(_pairs_cte(r, d))
        if final_merge or r + 1 < _ROUNDS:
            chunks.append(_merge_cte(r))
    return chunks


@query("bpe_train_merges")
def q_bpe_train(d: str) -> str:
    """The learned merge table: one row per round (rnd, left_sym,
    right_sym, merged, pair_count), _ROUNDS rounds unrolled as a CTE
    chain (the cross-engine oracle twin of the iterative
    ``bpe_train_df``)."""
    chunks = _train_chunks(d)
    unions = "\nUNION ALL\n".join(
        "SELECT CAST(%d AS BIGINT) AS rnd, a AS left_sym, b AS right_sym,"
        " a || b AS merged, cnt AS pair_count FROM top%d" % (r + 1, r)
        for r in range(_ROUNDS))
    return ("WITH " + ",".join(c.strip() for c in chunks) + "\n"
            + unions + "\nORDER BY rnd")


@query("bpe_encode")
def q_bpe_encode(d: str) -> str:
    """BPE ENCODE — the apply half of the tokenizer lifecycle: the
    learned merges are applied to the vocabulary (``syms{k}`` after
    round k IS the vocab encoded with the first k merges — the
    training trajectory, so train and encode share one CTE chain and
    cannot drift), then every document joins its tokens against the
    encoded vocab and aggregates per-doc token statistics:

        n_words       corpus tokens in the doc (post-split)
        n_chars       their total character count
        n_bpe_tokens  BPE symbols after all merges
        saved         n_chars - n_bpe_tokens (the compression the
                      merge table buys, in exact integers)

    Semantics note: merges apply EXHAUSTIVELY IN RANK ORDER (the
    trajectory the trainer itself walked), which equals the canonical
    lowest-rank-first encoder unless a later merge resurrects an
    earlier pair — impossible here by construction since each round's
    vocab is re-derived from the previous round's output.

    Shape at 10^12 docs: encoding happens on the VOCAB (Heaps-law
    sublinear), never the corpus; the corpus is touched by one
    explode + one broadcast-sized equi-join against the encoded vocab
    + one per-doc hash-agg — the classifier/BM25 posting-fetch
    shape."""
    if d == SPARK:
        dtoks = """
dtoks AS (
  SELECT doc_id, w FROM documents
  LATERAL VIEW explode(split(text, ' ')) t AS w
)"""
        ntok = "CAST(size(split(sym, '  ')) AS BIGINT)"
    else:
        dtoks = """
dtoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)"""
        ntok = "CAST(len(string_split(sym, '  ')) AS BIGINT)"
    chunks = _train_chunks(d, final_merge=True)
    chunks.append("""
enc AS (
  SELECT w, {ntok} AS ntok, CAST(length(w) AS BIGINT) AS nchr
  FROM syms{k}
)""".format(ntok=ntok, k=_ROUNDS))
    chunks.append(dtoks)
    return ("WITH " + ",".join(c.strip() for c in chunks) + """
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(e.nchr) AS BIGINT) AS n_chars,
  CAST(SUM(e.ntok) AS BIGINT) AS n_bpe_tokens,
  CAST(SUM(e.nchr) - SUM(e.ntok) AS BIGINT) AS saved
FROM dtoks t JOIN enc e ON e.w = t.w
GROUP BY t.doc_id
""")


def bpe_train_df(spark, rounds: int = _ROUNDS, docs=None):
    """The production iterative twin: the same vocab-weighted merge
    learning as a per-round DataFrame loop (each round's symbol table
    persisted; the 1-row argmax collected and bound as literals — the
    same k-row driver-side legitimacy class as IVF's centroid
    collect).  A test pins row-identity with the unrolled SQL."""
    with scope(spark) as st:
        return _bpe_train_core(st, spark, rounds, docs)[0]


def _bpe_train_core(st, spark, rounds: int = _ROUNDS, docs=None):
    """Shared trainer: returns (merge-table DataFrame, the final symbol
    table, cached in the scope ``st``) — encode needs the latter,
    train the former."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    src = docs if docs is not None else spark.table("documents")
    toks = src.select(F.explode(F.split("text", " ")).alias("w")) \
        .filter(F.col("w") != "")
    vocab = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    syms = vocab.withColumn(
        "s0", F.regexp_replace("w", "(.)", "$1  ")).withColumn(
        "sym", F.expr("substr(s0, 1, length(s0) - 2)")).drop("s0")
    out = []
    for r in range(rounds):
        syms = st.cache(syms)
        pairs = (syms
                 .select("c", F.posexplode(F.split("sym", "  "))
                         .alias("pos", "s"),
                         F.col("w"))
                 .withColumn("b", F.lead("s").over(
                     Window.partitionBy("w").orderBy("pos")))
                 .filter(F.col("b").isNotNull())
                 .groupBy(F.col("s").alias("a"), "b")
                 .agg(F.sum("c").cast("long").alias("cnt")))
        top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0]
        out.append((r + 1, a, b, a + b, cnt))
        nxt = syms.withColumn(
            "p0", F.expr(
                "replace(' ' || sym || ' ', %s, %s)"
                % (_slit(" %s  %s " % (a, b)), _slit(" %s%s " % (a, b))))
        ).withColumn(
            "sym", F.expr("substr(p0, 2, length(p0) - 2)")).drop("p0")
        syms = nxt
    syms = st.cache(syms)
    merges = spark.createDataFrame(
        out, "rnd long, left_sym string, right_sym string, "
             "merged string, pair_count long")
    return merges, syms


def bpe_encode_df(spark, rounds: int = _ROUNDS, docs=None):
    """The PRODUCTION encode twin of ``bpe_encode``: train via the
    per-round-persisted loop (the unrolled SQL re-derives the corpus
    tokenization once per CTE reference — measured 15.1 s vs ~1 s at
    sf0.1 — so the SQL form exists for cross-engine verification, not
    for scale), then ONE broadcast-sized join of the encoded vocab
    against the doc token stream + a per-doc hash-agg.  Row-identical
    to the unrolled SQL (test-pinned)."""
    from pyspark.sql import functions as F

    src = docs if docs is not None else spark.table("documents")
    with scope(spark) as st:
        _, syms = _bpe_train_core(st, spark, rounds, docs)
        enc = syms.select(
            "w",
            F.expr("CAST(size(split(sym, '  ')) AS LONG)").alias("ntok"),
            F.expr("CAST(length(w) AS LONG)").alias("nchr"))
        dtoks = src.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w"))
        return st.result(
            dtoks.join(enc, "w")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("nchr").cast("long").alias("n_chars"),
                 F.sum("ntok").cast("long").alias("n_bpe_tokens"),
                 (F.sum("nchr") - F.sum("ntok")).cast("long")
                 .alias("saved")))


def _slit(s: str) -> str:
    return "'%s'" % s.replace("\\", "\\\\").replace("'", "''")
