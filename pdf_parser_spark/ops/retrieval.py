"""Full-text retrieval over the ``documents`` corpus: BM25-ranked
top-k search — the index/serve tier of a training-data pipeline
(quality-prior scoring, dataset search, targeted decontamination all
rank documents against term queries).

The reference has no counterpart (training-data tier).  The query set
is a small inline VALUES relation (the realistic shape: thousands of
queries against 10^12 documents), so the term join broadcasts the
query side — a plan test pins the BroadcastHashJoin.

Cross-engine determinism: classic BM25 needs ln() and float division,
whose last-ulp behavior differs across math libraries and summation
orders — fatal for the value-hash oracle.  So the scoring is an
integer-exact BM25 surrogate with the same monotonicity:

    idf'(t)  = floor( (N - df) * 1000 / (df + 1) )          [~ x1000]
    w(t, d)  = floor( idf' * tf * 22 * S
                      / (10*S*tf + 3*S + 9*dl*N) )

which is Robertson BM25 with k1=1.2, b=0.75 and avgdl = S/N after
multiplying numerator and denominator by 10*S (all operands BIGINT,
every division an exact floor — see webgraph.IDIV).  The rational idf
surrogate (N-df)/(df+1) replaces ln((N-df+0.5)/(df+0.5)) — monotone in
df, so rankings agree where idf dominates; documented, not hidden.

Shape at 10^12 docs: tokenize (narrow explode) → broadcast-join the
tiny query-term list (only matching tokens survive — the inverted-
index posting fetch) → (query, term, doc) partial-agg tf → df per term
(an agg over the already-tiny matched set) → per-(query, doc) sum →
per-query top-k window.  The only data-sized shuffle is the tf
group-by; the top-k window partitions by query_id (thousands of
groups, each already reduced to matching docs).
"""

from __future__ import annotations

from ..relational import ORD_CONCAT, TOKS_CTE, WPOS_CTE, SPARK
from ..stages import materialized, scope
from .webgraph import IDIV

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


_TOP_K = 10
_IDF_SCALE = 1000   # keeps idf'*tf*22*S < 2^63 through sf1 (N=5e5)

# (query_id, term) — terms from the corpus vocabulary; q4's term is
# absent from the corpus on purpose (the no-match path must yield no
# rows for that query, identically in both engines)
_QUERY_TERMS = [
    (0, "spark"), (0, "join"),
    (1, "dup"),
    (2, "window"), (2, "stream"), (2, "filter"),
    (3, "hash"), (3, "merge"),
    (4, "zzzabsent"),
]


def _qterms(d: str, terms=_QUERY_TERMS) -> str:
    vals = ", ".join("(%d, '%s')" % qt for qt in terms)
    if d == SPARK:
        return ("SELECT CAST(query_id AS BIGINT) AS query_id, term "
                "FROM VALUES %s AS t(query_id, term)" % vals)
    return ("SELECT CAST(query_id AS BIGINT) AS query_id, term "
            "FROM (VALUES %s) AS t(query_id, term)" % vals)


def _bm25_weight() -> str:
    """The integer-exact BM25 weight of one ``matched m`` row (module
    docstring), over the ``docfreq f``, ``dl d`` and ``stats`` CTEs."""
    idf = IDIV("((SELECT n FROM stats) - f.df) * %d" % _IDF_SCALE,
               "f.df + 1")
    return IDIV(
        "(%s) * m.tf * 22 * (SELECT s FROM stats)" % idf,
        "10 * (SELECT s FROM stats) * m.tf"
        " + 3 * (SELECT s FROM stats)"
        " + 9 * d.dl * (SELECT n FROM stats)")


def _bm25_matched_ctes(d: str, qterms: str) -> str:
    """The qterms→toks→dl→stats→matched→docfreq prefix every BM25
    scorer over the query set ``qterms`` starts from."""
    return """qterms AS ({qterms}),{toks},
dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks
  GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS s
  FROM dl
),
matched AS (
  SELECT q.query_id, q.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks t JOIN qterms q ON q.term = t.w
  GROUP BY q.query_id, q.term, t.doc_id
),
docfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM matched GROUP BY term
)""".format(qterms=qterms, toks=TOKS_CTE(d).strip())


def _bm25_scored_ctes(d: str) -> str:
    """The qterms→toks→dl→stats→matched→docfreq→scored CTE chain of
    ``bm25_topk`` — ONE definition of the integer-exact BM25 scorer,
    shared by ``bm25_topk``, ``search_snippets``, ``rocchio_expand``
    and the ``hard_negatives`` training-pair miner."""
    return _bm25_matched_ctes(d, _qterms(d)) + """,
scored AS (
  SELECT m.query_id, m.doc_id,
         CAST(SUM({wgt}) AS BIGINT) AS score_scaled
  FROM matched m
  JOIN docfreq f ON f.term = m.term
  JOIN dl d ON d.doc_id = m.doc_id
  GROUP BY m.query_id, m.doc_id
)""".format(wgt=_bm25_weight())


@query("bm25_topk")
def q_bm25_topk(d: str) -> str:
    """BM25 top-k per query (k=10), integer-exact (module docstring);
    ties broken by doc_id for full determinism."""
    return """
WITH {scored},
ranked AS (
  SELECT query_id, doc_id, score_scaled,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, doc_id, score_scaled, rk
FROM ranked WHERE rk <= {k}
""".format(scored=_bm25_scored_ctes(d), k=_TOP_K)


# ----------------------------------------- persisted inverted index

# The index/serve lifecycle for text — the retrieval analogue of the
# amortized IVF index (ops/similarity.amortized_ivf_demo): build ONCE
# over the corpus, persist term-sharded postings + additive stats,
# then serve every later query batch from the index without touching
# the corpus again.  BM25's sufficient statistics (tf, df, dl, N, S)
# are EXACTLY additive, so incremental ingest appends partial-agg
# DELTAS and the serve path sums fragments — an LSM-style contract
# with no refit step at all (unlike IVF, where centroid drift needs
# periodic refits).

_N_SHARDS = 8      # term-hash shards of the postings table: at 10^12
                   # docs partitionBy(term) would mean millions of
                   # directories; a fixed shard count keeps files
                   # bounded while still letting a query batch prune
                   # to the shards its terms hash into


def _shard_col():
    from pyspark.sql import functions as F
    return F.pmod(F.xxhash64("term"), F.lit(_N_SHARDS)).cast("int")


def _append_data(spark, index_dir: str, docs, aid: str) -> None:
    """The write half of an append: all four datasets land tagged with
    ``append_id = aid`` but are INVISIBLE to serves until ``_commit``
    publishes the manifest — so a mid-append crash leaves only orphan
    uncommitted rows (cleaned like io_tables orphan files), never a
    postings/stats inconsistency, and a retry under a fresh aid cannot
    double-count."""
    import os

    from pyspark.sql import functions as F

    with scope(spark) as st:
        toks = docs.select(
            "doc_id", F.posexplode(F.split("text", " "))
            .alias("pos", "term"))
        docstats = st.checkpoint(
            toks.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("dl")))
        # dl rides ON the postings rows (denormalized at append time) so
        # the serve path never has to re-join a corpus-sized docstats
        # table — it reads |matching postings| and nothing else
        postings = st.checkpoint(
            toks.groupBy("term", "doc_id")
            .agg(F.count("*").cast("long").alias("tf"))
            .join(docstats, "doc_id")
            .withColumn("shard", _shard_col())
            .withColumn("append_id", F.lit(aid)))
        # append_id is a PARTITION key (not just a column): serve's
        # committed-only filter becomes partition pruning (uncommitted and
        # superseded generations are never even opened), and vacuum after
        # compaction is an O(1) directory delete per retired generation
        (postings.repartition(_N_SHARDS, "shard")
         .write.mode("append").partitionBy("shard", "append_id")
         .parquet(os.path.join(index_dir, "postings")))
        # positional postings: the sorted in-document positions of each
        # (term, doc) as ONE array row — what phrase adjacency needs.  A
        # document is ingested whole by exactly one append, so a (term,
        # doc) position array can never straddle generations (compaction
        # may therefore retag these rows verbatim, like postings)
        (toks.groupBy("term", "doc_id")
         .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
         .withColumn("shard", _shard_col())
         .withColumn("append_id", F.lit(aid))
         .repartition(_N_SHARDS, "shard")
         .write.mode("append").partitionBy("shard", "append_id")
         .parquet(os.path.join(index_dir, "positions")))
        (docstats.withColumn("append_id", F.lit(aid))
         .write.mode("append").partitionBy("append_id")
         .parquet(os.path.join(index_dir, "docstats")))
        # df delta per term: postings are unique per (term, doc) already
        (postings.groupBy("term")
         .agg(F.count("*").cast("long").alias("df_delta"))
         .withColumn("append_id", F.lit(aid))
         .write.mode("append").partitionBy("append_id")
         .parquet(os.path.join(index_dir, "termstats")))
        (docstats.agg(F.count("*").cast("long").alias("n_delta"),
                      F.sum("dl").cast("long").alias("s_delta"))
         .withColumn("append_id", F.lit(aid))
         .write.mode("append").partitionBy("append_id")
         .parquet(os.path.join(index_dir, "corpusstats")))


def _commit(index_dir: str, aid: str, replaces=None) -> None:
    """Publish an append or compaction: tmp-write + rename a marker
    file (atomic on POSIX) under ``_committed/``.  Serves read only
    generations whose append_id has a marker AND is not listed as
    replaced by another committed marker — so a compaction's single
    rename atomically publishes the merged generation and retires the
    generations it subsumes (the Iceberg snapshot-swap shape)."""
    import json
    import os

    cdir = os.path.join(index_dir, "_committed")
    os.makedirs(cdir, exist_ok=True)
    tmp = os.path.join(cdir, ".tmp-" + aid)
    with open(tmp, "w") as f:
        f.write(json.dumps({"aid": aid,
                            "replaces": sorted(replaces or [])}))
    os.rename(tmp, os.path.join(cdir, aid))


def _marker_ids(index_dir: str) -> list:
    import os

    cdir = os.path.join(index_dir, "_committed")
    if not os.path.isdir(cdir):
        return []
    return sorted(a for a in os.listdir(cdir) if not a.startswith("."))


def _replaced_ids(index_dir: str) -> set:
    """Union of the ``replaces`` lists of all committed markers (a
    pre-compaction plain-text marker replaces nothing)."""
    import json
    import os

    out = set()
    cdir = os.path.join(index_dir, "_committed")
    for aid in _marker_ids(index_dir):
        with open(os.path.join(cdir, aid)) as f:
            body = f.read()
        try:
            out.update(json.loads(body).get("replaces", []))
        except ValueError:
            pass          # legacy plain-aid marker
    return out


def _committed_ids(index_dir: str) -> list:
    """The ACTIVE generations: committed markers minus generations a
    committed compaction has replaced."""
    replaced = _replaced_ids(index_dir)
    return [a for a in _marker_ids(index_dir) if a not in replaced]


def text_index_append(spark, index_dir: str, docs) -> None:
    """Build or incrementally extend a persisted BM25 index from a
    ``(doc_id, text)`` DataFrame.  Everything written is a partial
    aggregate over THESE docs only (postings rows with denormalized
    per-doc lengths, per-term df deltas, one corpus-stats delta row) —
    serving sums the fragments, so append IS the build primitive
    (first call = build), and visibility is all-or-nothing via the
    manifest commit (_append_data/_commit).

    At 10^12 docs: one narrow tokenize pass, one (term, doc_id)
    partial-agg shuffle, a shard-partitioned append, one manifest
    rename; no read-modify-write of existing index files, no refit.
    (On object stores the marker rename becomes a conditional PUT —
    same single-object commit point.)"""
    import uuid

    aid = uuid.uuid4().hex[:12]
    _append_data(spark, index_dir, docs, aid)
    _commit(index_dir, aid)


def bm25_serve(spark, index_dir: str, query_terms=None, top_k=_TOP_K):
    """Serve BM25 top-k from a persisted index WITHOUT touching the
    corpus: the postings scan prunes to the shards the query terms
    hash into (partition pruning — the only driver-side steps are the
    shard hash of the ≤dozens query terms and one manifest-dir listing,
    the same k-row legitimacy class as IVF's centroid collect), the
    term join broadcasts the query side, and stats fragments are
    summed into 1-row broadcasts.  Per-doc lengths ride ON the
    postings rows, so the serve reads |matching postings| + the two
    fragment tables — never a corpus-cardinality dataset.  Only rows
    of committed appends are visible (manifest filter).  Identical
    integer math to ``bm25_topk`` — a test pins serve ≡ in-plan
    scoring, including across incremental appends."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    qt = query_terms if query_terms is not None else _QUERY_TERMS
    terms = spark.createDataFrame(qt, "query_id long, term string")
    committed = _committed_ids(index_dir)
    if not committed:
        raise ValueError("no committed appends under %s" % index_dir)
    shards = [r[0] for r in
              terms.select(_shard_col().alias("s")).distinct().collect()]
    postings = (spark.read.parquet(os.path.join(index_dir, "postings"))
                .filter(F.col("shard").isin(shards))
                .filter(F.col("append_id").isin(committed)))
    matched = postings.join(F.broadcast(terms), "term")
    termdf = (spark.read.parquet(os.path.join(index_dir, "termstats"))
              .filter(F.col("append_id").isin(committed))
              .join(F.broadcast(terms.select("term").distinct()), "term")
              .groupBy("term")
              .agg(F.sum("df_delta").cast("long").alias("df")))
    corpus = (spark.read.parquet(os.path.join(index_dir, "corpusstats"))
              .filter(F.col("append_id").isin(committed))
              .agg(F.sum("n_delta").cast("long").alias("n"),
                   F.sum("s_delta").cast("long").alias("s")))
    idf = IDIV("(n - df) * %d" % _IDF_SCALE, "df + 1")
    wgt = IDIV("(%s) * tf * 22 * s" % idf,
               "10 * s * tf + 3 * s + 9 * dl * n")
    scored = (matched
              .join(F.broadcast(termdf), "term")
              .crossJoin(F.broadcast(corpus))
              .withColumn("w", F.expr(wgt))
              .groupBy("query_id", "doc_id")
              .agg(F.sum("w").cast("long").alias("score_scaled")))
    win = Window.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), "doc_id")
    return (scored
            .withColumn("rk", F.row_number().over(win).cast("long"))
            .filter(F.col("rk") <= top_k)
            .select("query_id", "doc_id", "score_scaled", "rk"))


def bm25_index_demo(spark):
    """The registered end-to-end lifecycle: build the index from the
    ``documents`` view (one append call), then serve the standard
    query set from the persisted artifact.  Row-identical to the
    ``bm25_topk`` in-plan SQL (the DuckDB oracle twin) — so the whole
    build→persist→prune→serve path is hash-checked.  The index lives
    in a temporary directory of its own, removed once the output is
    checkpointed."""
    import tempfile

    with scope(spark) as st, tempfile.TemporaryDirectory(
            prefix="pdf_parser_spark_bm25_") as root:
        text_index_append(spark, root, spark.table("documents")
                          .select("doc_id", "text"))
        return st.result(bm25_serve(spark, root))


# --------------------------------------------- compaction (LSM merge)

def text_index_compact(spark, index_dir: str) -> str:
    """Merge every active generation into ONE compacted generation —
    the LSM compaction the append-only contract needs to stay
    readable: after k appends a serve opens k fragment sets; compact
    folds them back to one.

    The rewrite is PHYSICAL, not logical: postings rows are retagged
    verbatim (never tf-merged — serve scores each posting row and
    sums WEIGHTS, so merging tf across fragments would change scores:
    w(tf1)+w(tf2) ≠ w(tf1+tf2)); termstats fold to one df_delta per
    term and corpusstats to one row (their serve-side use is a plain
    SUM, exactly additive); docstats are retagged.  Serve output is
    therefore identical before and after BY CONSTRUCTION — and
    test-pinned.

    Crash-safe like an append: the merged generation lands under its
    own ``append_id=`` partitions (invisible — no marker), then one
    marker rename publishes it AND retires the inputs atomically (the
    marker carries ``replaces``).  A crash before the rename leaves
    an orphan generation; a rerun compacts the same actives under a
    fresh id.  Returns the new generation id ('' if nothing to do)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    active = _committed_ids(index_dir)
    if len(active) <= 1:
        return ""
    cid = "c" + uuid.uuid4().hex[:11]

    def rewrite(name, df, parts):
        (df.drop("append_id").withColumn("append_id", F.lit(cid))
         .write.mode("append").partitionBy(*parts)
         .parquet(os.path.join(index_dir, name)))

    postings = (spark.read.parquet(os.path.join(index_dir, "postings"))
                .filter(F.col("append_id").isin(active)))
    rewrite("postings", postings.repartition(_N_SHARDS, "shard"),
            ["shard", "append_id"])
    positions = (spark.read.parquet(os.path.join(index_dir, "positions"))
                 .filter(F.col("append_id").isin(active)))
    rewrite("positions", positions.repartition(_N_SHARDS, "shard"),
            ["shard", "append_id"])
    docstats = (spark.read.parquet(os.path.join(index_dir, "docstats"))
                .filter(F.col("append_id").isin(active)))
    rewrite("docstats", docstats, ["append_id"])
    termstats = (spark.read.parquet(os.path.join(index_dir, "termstats"))
                 .filter(F.col("append_id").isin(active))
                 .groupBy("term")
                 .agg(F.sum("df_delta").cast("long").alias("df_delta")))
    rewrite("termstats", termstats, ["append_id"])
    corpus = (spark.read.parquet(os.path.join(index_dir, "corpusstats"))
              .filter(F.col("append_id").isin(active))
              .agg(F.sum("n_delta").cast("long").alias("n_delta"),
                   F.sum("s_delta").cast("long").alias("s_delta")))
    rewrite("corpusstats", corpus, ["append_id"])
    _commit(index_dir, cid, replaces=active)
    return cid


def text_index_vacuum(index_dir: str) -> list:
    """Physically delete generations a committed compaction replaced
    — an O(1) directory delete per (dataset, retired generation),
    possible because append_id is a partition key.  Serve-invisible
    by definition (replaced generations are already unreadable);
    idempotent and crash-safe in either order because resolution
    derives from the surviving compaction marker's ``replaces`` list,
    never from which files still exist.  Markers of vacuumed
    generations are removed AFTER their data (a crash between the two
    leaves a dangling marker that the next vacuum re-retires).
    Uncommitted orphans (a crashed append's data) are out of scope —
    they are the io_tables remove-orphan class.  Returns the deleted
    generation ids."""
    import glob
    import os
    import shutil

    superseded = sorted(_replaced_ids(index_dir)
                        & set(_marker_ids(index_dir)))
    for aid in superseded:
        for name in ("postings", "positions", "docstats", "termstats",
                     "corpusstats"):
            pat = os.path.join(index_dir, name, "**",
                               "append_id=%s" % aid)
            for p in glob.glob(pat, recursive=True):
                shutil.rmtree(p)
        os.remove(os.path.join(index_dir, "_committed", aid))
    return superseded


def bm25_compact_demo(spark):
    """The registered full index-maintenance lifecycle: two
    incremental appends (halves of the ``documents`` view), compact
    them into one generation, vacuum the retired fragments, then
    serve the standard query batch from the compacted artifact.
    Row-identical to the in-plan ``bm25_topk`` SQL (the DuckDB oracle
    twin), so build→append→compact→vacuum→prune→serve is hash-checked
    end-to-end.  The index lives in a temporary directory of its own,
    removed once the output is checkpointed."""
    import tempfile

    from pyspark.sql import functions as F

    with scope(spark) as st, tempfile.TemporaryDirectory(
            prefix="pdf_parser_spark_bm25c_") as root:
        docs = spark.table("documents").select("doc_id", "text")
        mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
        text_index_append(spark, root, docs.filter(F.col("doc_id") <= mid))
        text_index_append(spark, root, docs.filter(F.col("doc_id") > mid))
        text_index_compact(spark, root)
        text_index_vacuum(root)
        return st.result(bm25_serve(spark, root))


# ------------------------------------------------------- phrase search

# (pid, "w1 w2") — two-word phrases over the corpus vocabulary; p3 is
# intentionally absent from the corpus (the no-match path must yield
# zero rows for that pid, identically in both engines)
_PHRASES = [
    (0, "hash join"),
    (1, "the batch"),
    (2, "window filter"),
    (3, "zz qq"),
]
_PHRASE_TOP_K = 5


def _phrases(d: str) -> str:
    vals = ", ".join("(%d, '%s')" % p for p in _PHRASES)
    if d == SPARK:
        return ("SELECT CAST(pid AS BIGINT) AS pid, phrase "
                "FROM VALUES %s AS t(pid, phrase)" % vals)
    return ("SELECT CAST(pid AS BIGINT) AS pid, phrase "
            "FROM (VALUES %s) AS t(pid, phrase)" % vals)


@query("phrase_search")
def q_phrase_search(d: str) -> str:
    """Positional phrase search — the query class a tf-only inverted
    index cannot answer (terms must be ADJACENT, not merely co-present)
    — as one bigram pass + a broadcast phrase join: per phrase, the
    top-{k} documents by occurrence count (ties: doc_id ASC).

    Spark shape: posexplode + lead window builds each document's
    bigram stream ONCE (array-free — the transform-over-sequence
    form gets split() inlined per element by CollapseProject and
    goes O(words²), the ops/dedup.py lesson); the phrase list is a
    broadcast-joined inline relation, so only matching bigrams
    survive to the (pid, doc) partial-agg.  At 10^12 docs the only
    data-sized shuffle is that count group-by; the top-k window
    partitions by pid over already-reduced per-doc rows.  DuckDB
    oracle builds the same bigrams via a list comprehension."""
    if d == SPARK:
        bigrams = """
bws AS (
  SELECT doc_id, pos, w FROM documents
  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
),
bigrams AS (
  SELECT doc_id,
         w || ' ' || lead(w) OVER (
           PARTITION BY doc_id ORDER BY pos) AS bg
  FROM bws
)"""
    else:
        from .dedup import _shingles_from_ws, _split_ws
        bigrams = """
bws AS (SELECT doc_id, {split} AS ws FROM documents),
bigrams AS (
  SELECT doc_id, unnest({sh}) AS bg FROM bws
)""".format(split=_split_ws(d), sh=_shingles_from_ws(d, 2))
    return """
WITH phrases AS ({phrases}),{bigrams},
hits AS (
  SELECT p.pid, p.phrase, b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM bigrams b JOIN phrases p ON p.phrase = b.bg
  GROUP BY p.pid, p.phrase, b.doc_id
),
ranked AS (
  SELECT pid, phrase, doc_id, n_hits,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY pid
           ORDER BY n_hits DESC, doc_id) AS BIGINT) AS rk
  FROM hits
)
SELECT pid, phrase, doc_id, n_hits, rk
FROM ranked WHERE rk <= {k}
""".format(phrases=_phrases(d), bigrams=bigrams.strip(),
           k=_PHRASE_TOP_K)


q_phrase_search.__doc__ = q_phrase_search.__doc__.replace(
    "{k}", str(_PHRASE_TOP_K))


# ------------------------------------------- phrase serve (positional)

def phrase_serve(spark, index_dir: str, phrases=None,
                 top_k=_PHRASE_TOP_K):
    """Serve phrase queries from the PERSISTED positional index —
    the index-side twin of the in-plan ``phrase_search`` (identical
    output, test- and oracle-pinned): for each two-word phrase, fetch
    both terms' position arrays (shard partition-pruning on the union
    of the terms' shards — the posting fetch), equi-join them on
    doc_id, and count adjacencies as
    ``size(array_intersect(transform(p1, x -> x+1), p2))`` — exact
    because in-document positions are unique, so the intersection
    size IS the number of i with ws[i]=w1 ∧ ws[i+1]=w2.

    At 10^12 docs the join touches |postings(w1)| + |postings(w2)|
    rows only (never the corpus); the phrase table broadcasts to both
    sides; the adjacency count is a per-row array expression inside
    codegen; the top-k window partitions by pid over per-doc rows
    already reduced to docs containing BOTH terms."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ph = phrases if phrases is not None else _PHRASES
    pdf = spark.createDataFrame(
        [(pid, p, p.split(" ")[0], p.split(" ")[1]) for pid, p in ph],
        "pid long, phrase string, w1 string, w2 string")
    committed = _committed_ids(index_dir)
    if not committed:
        raise ValueError("no committed appends under %s" % index_dir)
    terms = (pdf.select(F.col("w1").alias("term"))
             .union(pdf.select("w2")).distinct())
    shards = [r[0] for r in
              terms.select(_shard_col().alias("s")).distinct().collect()]
    positions = (spark.read.parquet(os.path.join(index_dir, "positions"))
                 .filter(F.col("shard").isin(shards))
                 .filter(F.col("append_id").isin(committed)))
    p1 = positions.select(F.col("term").alias("w1"), "doc_id",
                          F.col("positions").alias("pos1"))
    p2 = positions.select(F.col("term").alias("w2"), "doc_id",
                          F.col("positions").alias("pos2"))
    hits = (p1.join(F.broadcast(pdf), "w1")
            .join(p2, ["w2", "doc_id"])
            .withColumn("n_hits", F.size(F.array_intersect(
                F.transform("pos1", lambda x: x + 1), F.col("pos2")))
                .cast("long"))
            .filter(F.col("n_hits") > 0))
    win = Window.partitionBy("pid").orderBy(F.desc("n_hits"), "doc_id")
    return (hits
            .withColumn("rk", F.row_number().over(win).cast("long"))
            .filter(F.col("rk") <= top_k)
            .select("pid", "phrase", "doc_id", "n_hits", "rk"))


def phrase_serve_demo(spark):
    """The registered lifecycle row: build the positional index from
    the ``documents`` view (one append — positions are written by
    every append), then serve the standard phrase set from the
    persisted artifact.  Row-identical to the in-plan
    ``phrase_search`` SQL (the DuckDB oracle twin), so the
    tokenize→persist→prune→adjacency-join path is hash-checked.  The
    index lives in a temporary directory of its own, removed once the
    output is checkpointed."""
    import tempfile

    with scope(spark) as st, tempfile.TemporaryDirectory(
            prefix="pdf_parser_spark_pos_") as root:
        text_index_append(spark, root, spark.table("documents")
                          .select("doc_id", "text"))
        return st.result(phrase_serve(spark, root))


# --------------------------------------------- MaxScore-pruned top-k

# MaxScore (Turtle & Flood, IPM 1995) query set: the optimization
# pays when one rare high-weight term anchors the threshold and the
# common terms become non-essential — so each shape is represented:
# rare+common (prunes hard), common-only (prunes little or not at
# all — exactness must still hold), absent-top-term, absent-only.
_MS_QUERY_TERMS = [
    (0, "dup"), (0, "the"), (0, "spark"),
    (1, "window"), (1, "stream"), (1, "filter"),
    (2, "dup"), (2, "merge"),
    (3, "zzzabsent"), (3, "the"),
    (4, "zzzabsent"),
]


def _ms_ctes_head(d: str) -> str:
    """The corpus-stats → weights prefix of the MaxScore chain
    (``qterms`` … ``wgts``) — split out so the production twin can
    checkpoint ``wgts`` once (see bm25_maxscore_df); _ms_ctes
    concatenates head + tail back into the byte-identical oracle
    text."""
    return _bm25_matched_ctes(d, _qterms(d, _MS_QUERY_TERMS)) + """,
wgts AS (
  SELECT m.query_id, m.term, m.doc_id, {wgt} AS w
  FROM matched m
  JOIN docfreq f ON f.term = m.term
  JOIN dl d ON d.doc_id = m.doc_id
)""".format(wgt=_bm25_weight())


def _ms_ctes(d: str) -> str:
    """The shared CTE chain: corpus stats -> per-(query,term,doc)
    exact-integer BM25 weights -> term upper bounds -> MaxScore
    essential-term selection -> candidate docs.  Used by
    ``bm25_maxscore`` and (for the pruning gate + the full-evaluation
    twin) the tests."""
    return _ms_ctes_head(d) + ",\n" + _ms_tail()


def _ms_tail() -> str:
    """The MaxScore pruning tail (``ub`` … ``cand``), referencing
    ``wgts`` — in the oracle form the CTE computing the weights, in
    the production twin a one-line CTE over the checkpointed
    ``ms_wgts`` view (identical tail text either way)."""
    return """ub AS (
  SELECT query_id, term, CAST(MAX(w) AS BIGINT) AS ub
  FROM wgts GROUP BY query_id, term
),
ubord AS (
  SELECT query_id, term, ub,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ub DESC, term) AS BIGINT) AS pos,
    CAST(SUM(ub) OVER (PARTITION BY query_id
                       ORDER BY ub DESC, term
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED
                       FOLLOWING) AS BIGINT) AS sufsum
  FROM ub
),
c1 AS (
  SELECT DISTINCT w.query_id, w.doc_id
  FROM wgts w
  JOIN ubord tt ON tt.query_id = w.query_id AND tt.term = w.term
  WHERE tt.pos = 1
),
full1 AS (
  SELECT w.query_id, w.doc_id, CAST(SUM(w.w) AS BIGINT) AS score
  FROM wgts w
  JOIN c1 ON c1.query_id = w.query_id AND c1.doc_id = w.doc_id
  GROUP BY w.query_id, w.doc_id
),
theta AS (
  SELECT query_id, score AS theta FROM (
    SELECT query_id, score,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY score DESC, doc_id) AS rk
    FROM full1) t
  WHERE rk = {k}
),
pstar AS (
  SELECT u.query_id, CAST(MIN(u.pos) AS BIGINT) AS pstar
  FROM ubord u JOIN theta th ON th.query_id = u.query_id
  WHERE u.sufsum < th.theta
  GROUP BY u.query_id
),
essential AS (
  SELECT u.query_id, u.term
  FROM ubord u LEFT JOIN pstar p ON p.query_id = u.query_id
  WHERE p.pstar IS NULL OR u.pos < p.pstar
),
cand AS (
  SELECT DISTINCT w.query_id, w.doc_id
  FROM wgts w
  JOIN essential e ON e.query_id = w.query_id AND e.term = w.term
)""".format(k=_TOP_K).strip()


# the top-k window over ``final(query_id, doc_id, score_scaled)``
_MS_TOPK = """
SELECT query_id, doc_id, score_scaled, rk FROM (
  SELECT query_id, doc_id, score_scaled,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_scaled DESC, doc_id)
         AS BIGINT) AS rk
  FROM final) t
WHERE rk <= {k}
"""
_MS_FINAL = """
final AS (
  SELECT w.query_id, w.doc_id, CAST(SUM(w.w) AS BIGINT) AS score_scaled
  FROM wgts w
  JOIN cand c ON c.query_id = w.query_id AND c.doc_id = w.doc_id
  GROUP BY w.query_id, w.doc_id
)""" + _MS_TOPK


def bm25_maxscore_frame(st, spark):
    """PRODUCTION MaxScore — the persisted-intermediate twin of the
    ``bm25_maxscore`` SQL, row-identical (the unrolled SQL stays as
    the cross-engine DuckDB oracle; a test pins row-identity).

    Why (round-6 measurement, same rationale as span_neardup_df /
    allpairs_prefix_df): Catalyst inlines every CTE reference, so the
    unrolled form re-derives the corpus tokenize → stats → weights
    chain once per ``wgts`` consumer (ub, c1, full1, cand, final —
    114 parquet scans in one plan at sf0.1).  Here ``wgts`` is
    computed ONCE (checkpointed leaf — exactly what a real index
    stores next to its postings) and the pruning tail + final scoring
    reuse the same SQL text as the oracle form over that leaf."""
    # prefixed view, bridged to the tail's ``wgts`` by one CTE: a bare
    # ``wgts`` would bind any unqualified reference while it exists
    st.checkpoint(spark.sql(
        "WITH %s\nSELECT query_id, term, doc_id, w FROM wgts"
        % _ms_ctes_head(SPARK)), view="ms_wgts")
    return spark.sql(
        "WITH wgts AS (SELECT * FROM ms_wgts),\n" + _ms_tail() + ",\n"
        + _MS_FINAL.strip().replace("{k}", str(_TOP_K)))


bm25_maxscore_df = materialized(bm25_maxscore_frame)


@query("bm25_maxscore")
def q_bm25_maxscore(d: str) -> str:
    """BM25 top-k with MaxScore pruning (Turtle & Flood 1995) —
    EXACTLY the same results as full evaluation, provably:

    1. per-(query,term) upper bounds ub = MAX doc weight (a real
       index stores these next to the postings; here one agg over the
       matched postings);
    2. pass 1 fully scores only the top-ub term's posting list; the
       k-th best of those scores is the entry threshold theta;
    3. terms are ordered ub DESC with suffix sums; p* = first
       position whose suffix sum < theta.  A document containing NO
       term before p* scores at most that suffix sum < theta, and
       theta is already achieved by k pass-1 docs that DO contain the
       top term — so only docs matching an "essential" term
       (pos < p*) can enter the top-k, ties included (the pruning
       bound is strict, so score-equal docs all survive to the final
       window);
    4. full scoring + the top-k window run over the candidate set
       only.

    theta missing (top list shorter than k) or no position with
    suffix sum < theta degrade to essential = ALL terms — full
    evaluation, still exact.  All arithmetic is the module's
    exact-integer BM25 surrogate; the test pins row-identity against
    the unpruned twin and the measured candidate reduction.

    Shape at 10^12 docs: the expensive stage of the full plan is
    scoring every matching doc (rare+common queries match ~every doc
    containing 'the').  MaxScore cuts that to the rare terms' posting
    lists at the cost of two tiny aggs (ub, suffix sums) and one
    k-row window — the same candidates-then-verify economics as the
    IVF and LSH tiers."""
    return ("\nWITH {ctes}," + _MS_FINAL).format(ctes=_ms_ctes(d),
                                                k=_TOP_K)


def bm25_maxscore_full_twin_sql(d: str) -> str:
    """The UNPRUNED evaluation of the same MaxScore query set — the
    ground truth the exactness test compares against (not registered:
    it exists to prove bm25_maxscore's pruning is lossless)."""
    return ("""
WITH {ctes},
final AS (
  SELECT query_id, doc_id, CAST(SUM(w) AS BIGINT) AS score_scaled
  FROM wgts GROUP BY query_id, doc_id
)""" + _MS_TOPK).format(ctes=_ms_ctes(d), k=_TOP_K)


def bm25_maxscore_gate_sql(d: str) -> str:
    """Candidate-reduction measurement: (candidate docs, matched docs)
    per query — the test's pruning gate."""
    return """
WITH {ctes},
m AS (SELECT query_id, COUNT(DISTINCT doc_id) AS n_matched
      FROM matched GROUP BY query_id),
c AS (SELECT query_id, COUNT(*) AS n_cand FROM cand GROUP BY query_id)
SELECT m.query_id, CAST(c.n_cand AS BIGINT) AS n_cand,
       CAST(m.n_matched AS BIGINT) AS n_matched
FROM m JOIN c ON c.query_id = m.query_id
""".format(ctes=_ms_ctes(d))


# ------------------------------------------------ proximity (NEAR/k)

# (query_id, term_a, term_b, window) — the NEAR/k operator class.
# q2 pairs the rare term with a common one; q3's second term is
# absent (must yield no rows identically in both engines).
_PROX_QUERIES = [
    (0, "spark", "join", 3),
    (1, "window", "filter", 5),
    (2, "dup", "merge", 8),
    (3, "spark", "zzzabsent", 4),
]


def _prox_q(d: str) -> str:
    vals = ", ".join("(%d, '%s', '%s', %d)" % q for q in _PROX_QUERIES)
    if d == SPARK:
        return ("SELECT CAST(query_id AS BIGINT) AS query_id, ta, tb, "
                "CAST(win AS BIGINT) AS win "
                "FROM VALUES %s AS t(query_id, ta, tb, win)" % vals)
    return ("SELECT CAST(query_id AS BIGINT) AS query_id, ta, tb, "
            "CAST(win AS BIGINT) AS win "
            "FROM (VALUES %s) AS t(query_id, ta, tb, win)" % vals)


@query("proximity_search")
def q_proximity_search(d: str) -> str:
    """Proximity search (the NEAR/k operator): documents where both
    query terms occur within k token positions, ranked by the MINIMUM
    gap (ties: doc_id), top-10 per query — the retrieval class
    between bag-of-words BM25 (co-presence only) and phrase search
    (adjacency only).  Positions come from the same positional
    tokenization the phrase index persists.

    Shape at 10^12 docs: two broadcast term probes (only postings of
    the two query terms survive the scan — the same posting-fetch
    economics as bm25_topk), then a per-(query, doc) gap join whose
    fan-in is tf_a x tf_b WITHIN one document (single digits), never
    cross-document; one top-k window per query closes it."""
    return """
WITH q AS ({q}),
{wpos},
ma AS (
  SELECT q.query_id, q.win, t.doc_id, t.pos
  FROM wpos t JOIN q ON t.w = q.ta
),
mb AS (
  SELECT q.query_id, t.doc_id, t.pos
  FROM wpos t JOIN q ON t.w = q.tb
),
gaps AS (
  SELECT a.query_id, a.doc_id,
    CAST(MIN(ABS(a.pos - b.pos)) AS BIGINT) AS min_gap,
    CAST(MAX(a.win) AS BIGINT) AS win
  FROM ma a
  JOIN mb b ON b.query_id = a.query_id AND b.doc_id = a.doc_id
  GROUP BY a.query_id, a.doc_id
)
SELECT query_id, doc_id, min_gap, rk FROM (
  SELECT query_id, doc_id, min_gap,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY min_gap, doc_id) AS BIGINT) AS rk
  FROM gaps WHERE min_gap <= win) t
WHERE rk <= 10
""".format(q=_prox_q(d), wpos=WPOS_CTE(d))


# ------------------------------------------------- spell suggestions

_SPELL_TOPV = 8   # dictionary probes derive from the top-8 vocab words


@query("spell_suggest")
def q_spell_suggest(d: str) -> str:
    """SymSpell-style spelling correction (Garbe's deletion-
    neighborhood indexing — the industry-standard O(1)-per-term
    dictionary lookup): every dictionary word and every query term
    expands to its position-tagged 1-deletion neighborhood (variant,
    deleted_pos; pos 0 = the term itself), candidates come from ONE
    equi-join on the variant string, and the position tags CLASSIFY
    the match exactly — no string-distance function anywhere:

        q.pos = 0 ∧ w.pos = 0   → exact   (q = w)
        q.pos = 0 ∧ w.pos > 0   → q is w minus one char  (deletion)
        q.pos > 0 ∧ w.pos = 0   → q is w plus one char   (insertion)
        q.pos = w.pos > 0 ∧ |q| = |w| → substitution at that position

    (equal-length pairs sharing a variant at DIFFERENT positions are
    edit distance 2 — transposition-shaped — and are correctly
    excluded, which a naive untagged deletion join gets wrong).
    Together these are EXACTLY the Levenshtein ≤ 1 pairs — the test
    recomputes full edit distance in Python and pins both soundness
    and SymSpell's completeness guarantee.

    Query terms derive from the top-{tv} vocabulary words (count DESC,
    word ASC): one substitution ('x' at position 2), one deletion
    (char 2 dropped), one insertion ('q' after position 1), the exact
    word, and an out-of-vocabulary miss.

    Shape at 10^12 docs: the dictionary is the Heaps-law-sublinear
    VOCAB with counts (one corpus hash-agg); its deletion
    neighborhood is a ~|w|× explode of vocab-sized data; queries are
    a broadcast-sized side; the candidate join is a single variant-
    key equi-join — the same banded-candidate contract as the LSH
    tiers, with per-bucket fan-in bounded by how many words share a
    deletion variant."""
    if d == SPARK:
        postab = "LATERAL VIEW explode(sequence(0, length(w))) t AS i"
        qpostab = ("LATERAL VIEW explode(sequence(0, length(q))) t "
                   "AS i")
    else:
        postab = ", unnest(range(0, len(w) + 1)) AS t(i)"
        qpostab = ", unnest(range(0, len(q) + 1)) AS t(i)"
    delv = ("CASE WHEN {i} = 0 THEN {w} ELSE "
            "substr({w}, 1, {i} - 1) || substr({w}, {i} + 1) END")
    return """
WITH {toks},
vocab AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks
  WHERE w <> '' AND length(w) >= 3 GROUP BY w
),
topv AS (
  SELECT w, c, rk FROM (
    SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk
    FROM vocab) t WHERE rk <= {tv}
),
queries AS (
  SELECT 'sub' AS qclass,
         substr(w, 1, 1) || 'x' || substr(w, 3) AS q FROM topv
  UNION ALL
  SELECT 'del', substr(w, 1, 1) || substr(w, 3) FROM topv
  UNION ALL
  SELECT 'ins', substr(w, 1, 1) || 'q' || substr(w, 2) FROM topv
  UNION ALL
  SELECT 'exact', w FROM topv
  UNION ALL
  SELECT 'miss', 'zzz' || CAST(rk AS {st}) || 'zzz' FROM topv
),
dvar AS (
  SELECT w, c, i, {dv} AS variant
  FROM vocab {postab}
),
qvar AS (
  SELECT DISTINCT qclass, q, i, {qv} AS variant
  FROM queries {qpostab}
),
matched AS (
  SELECT qv.qclass, qv.q, dv.w, dv.c,
    CASE WHEN qv.i = 0 AND dv.i = 0 THEN 'exact'
         WHEN qv.i = 0 AND dv.i > 0 THEN 'deletion'
         WHEN qv.i > 0 AND dv.i = 0 THEN 'insertion'
         WHEN qv.i = dv.i AND length(qv.q) = length(dv.w)
           THEN 'substitution'
         ELSE NULL END AS match_class,
    CASE WHEN qv.i = 0 AND dv.i = 0 THEN 0 ELSE 1 END AS dist
  FROM qvar qv JOIN dvar dv ON dv.variant = qv.variant
),
best AS (
  SELECT qclass, q, w, c,
         MIN(dist) AS dist,
         MIN(match_class) AS match_class
  FROM matched WHERE match_class IS NOT NULL
  GROUP BY qclass, q, w, c
)
SELECT qclass, q AS query_term, w AS suggestion, c AS n_occurrences,
  CAST(dist AS INT) AS edit_distance, match_class
FROM best
""".format(toks=TOKS_CTE(d, cols="doc_id").strip().lstrip(","),
           tv=_SPELL_TOPV, dv=delv.format(i="t.i", w="w"),
           qv=delv.format(i="t.i", w="q"),
           postab=postab, qpostab=qpostab,
           st="STRING" if d == SPARK else "VARCHAR")


# ----------------------------------------------- result snippets

_SNIP_W = 8       # snippet window, tokens
_SNIP_DOCS = 3    # hit docs per query that get a snippet


@query("search_snippets")
def q_search_snippets(d: str) -> str:
    """Query-biased snippet generation — the serve-side stage between
    ranking and display (Turpin et al. '07 fast snippet generation):
    for each of the top-{ndocs} BM25 hits per query, pick the
    {w}-token window that covers the MOST DISTINCT query terms
    (ties: more total term hits, then the earliest window), then
    render it with the matched terms **highlighted**.

    Window scoring is anchored at match positions only (a window that
    contains any term hit starts at some hit, so anchoring at hits
    loses nothing) — the candidate set per document is tf, not dl.

    Shape at 10^12 docs: ranking reuses the bm25_topk postings
    economics; the snippet stage then needs TEXT for only the
    |queries| x {ndocs} winning documents — here that fetch is the
    ``hits JOIN wpos`` equi-join (one corpus scan in this
    single-query expression; a real serve path does the point lookup
    against the doc store, cf. the persisted-index split in
    bm25_serve_persisted).  Window scoring joins hit positions to hit
    positions WITHIN one (query, doc) — fan-in tf x tf, single
    digits — and the final assembly is one {w}-row group per snippet.
    Everything is integer/string compares: deterministic across
    engines."""
    hl = ("CASE WHEN q.term IS NOT NULL THEN '**' || t.w || '**' "
          "ELSE t.w END")
    return """
WITH {scored},
hits AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rk
    FROM scored) r
  WHERE rk <= {ndocs}
),
{wpos},
hpos AS (
  SELECT h.query_id, h.rk, t.doc_id, t.pos, t.w
  FROM wpos t JOIN hits h ON h.doc_id = t.doc_id
),
mpos AS (
  SELECT p.query_id, p.doc_id, p.pos, p.w AS term
  FROM hpos p
  JOIN qterms q ON q.query_id = p.query_id AND q.term = p.w
),
wins AS (
  SELECT a.query_id, a.doc_id, a.pos AS start,
         CAST(COUNT(DISTINCT b.term) AS BIGINT) AS n_terms,
         CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM mpos a JOIN mpos b
    ON b.query_id = a.query_id AND b.doc_id = a.doc_id
   AND b.pos >= a.pos AND b.pos < a.pos + {w}
  GROUP BY a.query_id, a.doc_id, a.pos
),
best AS (
  SELECT query_id, doc_id, start, n_terms FROM (
    SELECT query_id, doc_id, start, n_terms,
           ROW_NUMBER() OVER (PARTITION BY query_id, doc_id
             ORDER BY n_terms DESC, n_hits DESC, start) AS wrk
    FROM wins) x
  WHERE wrk = 1
)
SELECT b.query_id, b.doc_id,
       CAST(MAX(t.rk) AS BIGINT) AS rk,
       CAST(b.start AS BIGINT) AS snip_start,
       b.n_terms,
       {snip} AS snippet
FROM best b
JOIN hpos t ON t.query_id = b.query_id AND t.doc_id = b.doc_id
           AND t.pos >= b.start AND t.pos < b.start + {w}
LEFT JOIN qterms q ON q.query_id = b.query_id AND q.term = t.w
GROUP BY b.query_id, b.doc_id, b.start, b.n_terms
""".format(scored=_bm25_scored_ctes(d),
           ndocs=_SNIP_DOCS, w=_SNIP_W, wpos=WPOS_CTE(d),
           snip=ORD_CONCAT(hl, " ", "t.pos", d))


# -------------------------------- pseudo-relevance feedback (Rocchio)

_PRF_FB_DOCS = 3     # feedback depth: top-F first-pass docs per query
_PRF_EXP_TERMS = 3   # expansion width: top-E new terms per query
_PRF_ALPHA = 1000    # original-term weight (cost-space α)
_PRF_BETA = 500      # expansion-term weight (β/α = 0.5, Rocchio's
                     # classic positive-feedback setting)


@query("rocchio_expand")
def q_rocchio_expand(d: str) -> str:
    """Pseudo-relevance-feedback query expansion (Rocchio 1971, the
    PRF form every classic IR stack ships): run the integer-exact BM25
    first pass, take each query's top-{f} documents as pseudo-relevant
    feedback, rank their terms by the Rocchio centroid weight
    Σ_d tf(t,d) · idf'(t) (idf' the module's rational surrogate,
    original query terms excluded), keep the top-{e} expansion terms,
    and rescore the corpus with the weighted union — originals at
    α={a}, expansions at β={b} — emitting the final per-query top-k.
    Expansion recovers relevant docs that match the topic's vocabulary
    but not the literal query terms — the recall tool dataset-search
    and targeted-decontamination passes reach for first.

    Shape at 10^12 docs: the first pass is bm25_topk's plan (broadcast
    query side, one tf partial-agg shuffle); feedback docs are O(F·|Q|)
    rows so every PRF stage — feedback tf, candidate ranking, the
    expanded term list — is broadcast-sized; the only NEW corpus-scale
    work is the vocabulary df agg (Heaps-sublinear, the ccnet tf-table
    shape) and the second matched-tf pass over the expanded (still
    tiny) term list.  Both passes reuse ONE tokenize CTE."""
    cand_idf = IDIV("((SELECT n FROM stats) - a.df) * %d" % _IDF_SCALE,
                    "a.df + 1")
    return """
WITH {scored},
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score_scaled DESC, doc_id) AS rk
    FROM scored) x
  WHERE rk <= {f}
),
fbtf AS (
  SELECT b.query_id, t.w AS term, CAST(COUNT(*) AS BIGINT) AS tf_fb
  FROM toks t JOIN fb b ON b.doc_id = t.doc_id
  WHERE t.w <> ''
  GROUP BY b.query_id, t.w
),
alldf AS (
  SELECT w AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY w
),
cand AS (
  SELECT b.query_id, b.term,
         CAST(({cidf}) * b.tf_fb AS BIGINT) AS exp_w
  FROM fbtf b
  JOIN alldf a ON a.term = b.term
  LEFT JOIN qterms q ON q.query_id = b.query_id AND q.term = b.term
  WHERE q.term IS NULL
),
expn AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY exp_w DESC, term) AS erk
    FROM cand) x
  WHERE erk <= {e}
),
qexp AS (
  SELECT query_id, term, CAST({a} AS BIGINT) AS weight FROM qterms
  UNION ALL
  SELECT query_id, term, CAST({b} AS BIGINT) AS weight FROM expn
),
matched2 AS (
  SELECT q.query_id, q.term, q.weight, t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks t JOIN qexp q ON q.term = t.w
  GROUP BY q.query_id, q.term, q.weight, t.doc_id
),
scored2 AS (
  SELECT m.query_id, m.doc_id,
         CAST(SUM(m.weight * ({wgt2})) AS BIGINT) AS score_scaled
  FROM matched2 m
  JOIN alldf f ON f.term = m.term
  JOIN dl d ON d.doc_id = m.doc_id
  GROUP BY m.query_id, m.doc_id
)
SELECT query_id, doc_id, score_scaled, rk FROM (
  SELECT query_id, doc_id, score_scaled,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rk
  FROM scored2) x
WHERE rk <= {k}
""".format(scored=_bm25_scored_ctes(d), cidf=cand_idf,
           wgt2=_bm25_weight(), f=_PRF_FB_DOCS, e=_PRF_EXP_TERMS,
           a=_PRF_ALPHA, b=_PRF_BETA, k=_TOP_K)


q_rocchio_expand.__doc__ = (q_rocchio_expand.__doc__ or "").format(
    f=_PRF_FB_DOCS, e=_PRF_EXP_TERMS, a=_PRF_ALPHA, b=_PRF_BETA)


# --------------------------------------------- posting-list compression

@query("posting_compression")
def q_posting_compression(d: str) -> str:
    """Posting-list compression planning — the index-lifecycle sizing
    pass a search/retrieval tier runs before choosing its posting
    encoding: for every term, the doc_id posting list is delta-gapped
    and costed under BOTH classic encodings, byte-aligned VARINT
    (7 payload bits per byte, cost = Σ ceil(bitlen(gap)/7) bytes) and
    ELIAS-FANO (df·(ceil(log2(ceil(U/df))) + 2) bits for universe U —
    the quasi-succinct bound of Vigna '13) plus a plain BITMAP
    (ceil(U/8) bytes, Roaring's dense-container case), and the
    cheapest recorded.  Very dense terms go bitmap, the middle goes
    EF, and rare terms with small first-gaps go varint — the
    three-way split is exactly what a real posting format (Lucene's
    FOR/EF split, Roaring's array/bitmap containers, the partitioned-
    EF papers) decides per term/block.  One rare probe term is
    injected on doc 7 so the varint tier is realized at every SF.

    Integer-exact in both engines: bit lengths come from
    ``length(bin(x))`` (both dialects print minimal binary), every
    division is an exact floor (IDIV), no floats anywhere.

    Shape at 10^12 docs: postings dedup partial-aggs map-side to
    (term, doc) grain; the gap window sorts WITHIN each term
    partition — the same per-term shuffle the index build itself
    pays (this pass piggybacks on it in a real builder); the cost
    rollup is one hash-agg to term grain; the universe size is a
    1-row scalar broadcast."""
    vb = IDIV("length(bin(g)) + 6", "7")
    q_ceil = IDIV("u + df - 1", "df")
    lb = ("CASE WHEN {q} <= 1 THEN 0"
          " ELSE length(bin({q} - 1)) END").format(q=q_ceil)
    ef_bits = "df * (CAST(%s AS BIGINT) + 2)" % lb
    return """
WITH docsrc AS (
  SELECT doc_id,
    text || CASE WHEN doc_id = 7 THEN ' zzrare' ELSE '' END AS text
  FROM documents
),
{toks},
postings AS (
  SELECT DISTINCT w, doc_id FROM toks WHERE w <> ''
),
gaps AS (
  SELECT w, doc_id,
    doc_id - LAG(doc_id) OVER (PARTITION BY w ORDER BY doc_id) AS gap
  FROM postings
),
enc AS (
  SELECT w, COALESCE(gap, doc_id + 1) AS g FROM gaps
),
stats AS (
  SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS u FROM documents
),
perterm AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
    CAST(SUM({vb}) AS BIGINT) AS varint_bytes
  FROM enc GROUP BY w
)
SELECT w AS term, df, varint_bytes,
  CAST({ef_bits} AS BIGINT) AS ef_bits,
  {ef_bytes} AS ef_bytes,
  {bm_bytes} AS bitmap_bytes,
  CASE WHEN varint_bytes <= {ef_bytes} AND varint_bytes <= {bm_bytes}
       THEN 'varint'
       WHEN {ef_bytes} <= {bm_bytes} THEN 'elias_fano'
       ELSE 'bitmap' END AS winner
FROM perterm CROSS JOIN stats
""".format(toks=TOKS_CTE(d, src="docsrc").strip(), vb=vb,
           ef_bits=ef_bits,
           ef_bytes=IDIV("(%s) + 7" % ef_bits, "8"),
           bm_bytes=IDIV("u + 7", "8"))


# ------------------------------------------------ fielded BM25F top-k

@query("bm25f_fielded")
def q_bm25f_fielded(d: str) -> str:
    """BM25F — fielded ranking (Robertson & Zaragoza 2004, "Simple
    BM25 extension to multiple weighted fields"): term frequencies
    from the TITLE and BODY fields are combined into one pseudo-
    frequency BEFORE saturation (the defining difference from naive
    per-field BM25 summing, which over-rewards a term that appears in
    both fields), then a single k1 saturation and idf weight apply:

        tf~(t,d) = w_title·tf_title + w_body·tf_body/B(dl)
        score    = Σ_t idf(t) · tf~/(k1 + tf~)

    with w_title=3 (no length normalization — titles are uniformly
    short), w_body=1, b_body=0.75, k1=1.2, and df counted over either
    field.  Every page has a real title field in the wild; here the
    title is synthesized in-plan as the doc's first four body tokens,
    PLUS the probe term ``dup`` (the rarest query term, so title
    evidence can actually move the ranking) prepended on
    ``doc_id % 7 = 0`` —
    docs whose body never says the term but whose title does MUST
    surface (the fielded boost is the whole point; the semantics test
    pins one such doc in the top-k).

    Integer-exact across engines (same discipline as ``bm25_topk``):
    with body normalizer B = (S + 3·dl·N)/(4·S) (that is b=0.75 and
    avgdl = S/N, multiplied through by 4S), the pseudo-frequency is
    the rational tf~ = Num/D with D = S + 3·dl·N and
    Num = 3·tf_t·D + 4·tf_b·S, so the saturation becomes
    tf~/(6/5 + tf~) = 5·Num/(6·D + 5·Num) — computed as an exact
    floor ×1000 (IDIV; operands < 2^53 through sf1), then weighted by
    the same ×1000 rational idf surrogate as ``bm25_topk``.

    Shape at 10^12 docs: two narrow explodes (title explode is ~4
    tokens/doc), each broadcast-joined against the tiny query-term
    list so only matching postings survive; the per-field tf
    group-bys partial-agg map-side; the field merge is a full-outer
    join at (query, term, doc) grain over two already-tiny matched
    sets; one per-(query, doc) sum and a per-query top-k window.  No
    data-sized shuffle beyond the tf aggregations — identical cost
    profile to single-field BM25 plus the 4-token title explode."""
    if d == SPARK:
        first4 = "concat_ws(' ', slice(split(text, ' '), 1, 4))"
        ttoks = """
ttoks AS (
  SELECT doc_id, w FROM titles
  LATERAL VIEW explode(split(title, ' ')) t AS w
)"""
    else:
        first4 = ("array_to_string(list_slice(string_split(text, ' '),"
                  " 1, 4), ' ')")
        ttoks = """
ttoks AS (
  SELECT doc_id, unnest(string_split(title, ' ')) AS w FROM titles
)"""
    toks = TOKS_CTE(d)
    num = ("3 * tf_t * (s + 3 * dl * n) + 4 * tf_b * s")
    sat = IDIV("5 * (%s) * 1000" % num,
               "6 * (s + 3 * dl * n) + 5 * (%s)" % num)
    idf = IDIV("(n - df) * %d" % _IDF_SCALE, "df + 1")
    return """
WITH qterms AS ({qterms}),
titles AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN 'dup ' ELSE '' END
      || {first4} AS title
  FROM documents
),{ttoks},{toks},
bdl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks
  GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS s
  FROM bdl
),
tmatch AS (
  SELECT q.query_id, q.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf_t
  FROM ttoks t JOIN qterms q ON q.term = t.w
  GROUP BY q.query_id, q.term, t.doc_id
),
bmatch AS (
  SELECT q.query_id, q.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf_b
  FROM toks t JOIN qterms q ON q.term = t.w
  GROUP BY q.query_id, q.term, t.doc_id
),
tfs AS (
  SELECT query_id, term, doc_id,
    COALESCE(tf_t, CAST(0 AS BIGINT)) AS tf_t,
    COALESCE(tf_b, CAST(0 AS BIGINT)) AS tf_b
  FROM tmatch FULL OUTER JOIN bmatch USING (query_id, term, doc_id)
),
docfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tfs GROUP BY term
),
scored AS (
  SELECT x.query_id, x.doc_id,
    CAST(SUM(({idf}) * ({sat})) AS BIGINT) AS score_scaled
  FROM tfs x
  JOIN docfreq f ON f.term = x.term
  JOIN bdl d ON d.doc_id = x.doc_id
  CROSS JOIN stats
  GROUP BY x.query_id, x.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_scaled,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rk
  FROM ranked_src
)
SELECT query_id, doc_id, score_scaled, rk
FROM ranked WHERE rk <= {k}
""".format(qterms=_qterms(d), first4=first4, ttoks=ttoks.rstrip(),
           toks=toks.strip(), idf=idf, sat=sat, k=_TOP_K).replace(
    "ranked_src", "scored")


# --------------------------------------- hard-negative triple mining

_HN_NEGS = 4      # hard negatives mined per query


@query("hard_negatives")
def q_hard_negatives(d: str) -> str:
    """BM25 hard-negative mining — the retrieval-training-data pass
    (DPR, Karpukhin et al. EMNLP'20; RocketQA): a dense retriever
    trained on random negatives collapses, so each (query, positive)
    pair is paired with the top BM25-scored documents the click log
    does NOT mark relevant — lexically close, semantically wrong,
    exactly the decision boundary worth training on.

    The click log (qrels) is synthesized in-plan — query q marks
    documents with ``doc_id % 97 = (q*13 + 5) % 97`` relevant (~5
    docs/query at sf0.001; clicks are NOISY, so positives need not
    contain the query's terms — the miner must not assume they do).
    Negatives are the top ``_HN_NEGS`` scored docs per query AFTER an
    anti-join against the qrels (the classic bug this op's tests pin:
    a positive leaking into the negative list poisons the training
    signal); query 4's term is absent from the corpus, so it yields
    no triples (no-candidate tier), and queries score docs the qrels
    never mention (the anti-join does real work at every SF).

    Output grain: one row per (query, positive, negative) triple —
    the exact shape a contrastive-loss data loader consumes.

    Shape at 10^12 docs: the scorer is ``bm25_topk``'s shared CTE
    chain (broadcast query-term join, partial-agg tfs); the qrels
    anti-join and the positive×negative fan-out both happen AFTER
    the per-query top-k window has cut the candidate set to
    O(queries × k) rows — driver-size frames, broadcast joins."""
    return """
WITH {scored},
qrels AS (
  SELECT q.query_id, dd.doc_id
  FROM (SELECT DISTINCT query_id FROM qterms) q
  JOIN (SELECT doc_id FROM documents) dd
    ON dd.doc_id % 97 = (q.query_id * 13 + 5) % 97
),
negranked AS (
  SELECT s.query_id, s.doc_id, s.score_scaled,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY s.query_id
      ORDER BY s.score_scaled DESC, s.doc_id) AS BIGINT) AS rk
  FROM scored s
  LEFT JOIN qrels r
    ON r.query_id = s.query_id AND r.doc_id = s.doc_id
  WHERE r.doc_id IS NULL
)
SELECT p.query_id,
  p.doc_id AS pos_doc_id,
  n.doc_id AS neg_doc_id,
  n.rk AS neg_rank,
  n.score_scaled AS neg_score_scaled
FROM qrels p
JOIN negranked n ON n.query_id = p.query_id AND n.rk <= {k}
""".format(scored=_bm25_scored_ctes(d), k=_HN_NEGS)


# -------------------------------- index partitioning cost planning

_IPP_DOC_SHARDS = 8    # document-partitioned: every shard holds every
                       # term's postings for 1/8 of the docs
_IPP_TERM_SHARDS = 8   # term-partitioned: a term's whole posting list
                       # lives on hash(term) % 8
_IPP_TOPK = 10


@query("index_partition_plan")
def q_index_partition_plan(d: str) -> str:
    """Distributed-index PARTITIONING cost model — the design pass a
    search tier runs before sharding (Moffat, Webber, Zobel & Baeza-
    Yates, "A pipelined architecture for distributed text query
    evaluation"; Tomasic & García-Molina '93): for each workload
    query, the two classic layouts are costed from the corpus's REAL
    posting statistics and the cheaper one recorded.

    DOCUMENT-partitioned (a term's postings split across all shards):
    every shard evaluates the whole query locally — messages = one
    per shard, result transfer = shards × top-k, postings scanned =
    Σ df(t) (each posting once, just spread out).

    TERM-partitioned (a term's whole posting list on hash(term)
    % shards): messages = distinct shards hit by the query's terms;
    intersection requires MOVING lists — the standard plan ships
    every list to the largest list's shard, so transfer =
    Σ df - max df (zero for single-term and co-located queries —
    both realized in the workload: q1 is single-term, and any
    multi-term query whose terms hash together transfers only under
    max-shipping).

    Total cost = postings + 4·transfer + 16·messages (weights are
    documented latency proxies: a shipped posting costs ~4 local
    scans, a message round-trip ~16); ties break to 'doc' (the
    simpler operational layout).  All integers, exact in both
    engines; the absent-term query costs only its messages (no
    postings anywhere).

    Shape at 10^12 docs: posting stats are the (term, df) aggregate
    the index build already produces; the workload join is a
    broadcast of the tiny query list; everything after is per-query
    arithmetic over rows already at workload grain."""
    toks = TOKS_CTE(d)
    # engine-agnostic term→shard hash: HRW over single-digit shard
    # ids (same md5 idiom as weburl._hrw_shard, term-keyed) — the
    # assignment must be IDENTICAL in both engines for the oracle
    cands = ", ".join("md5('%d|' || p.term) || '%d'" % (j, j)
                      for j in range(_IPP_TERM_SHARDS))
    shard = "CAST(substring(least(%s), 33) AS BIGINT)" % cands
    return """
WITH qterms AS ({qterms}),{toks},
postings AS (
  SELECT w AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY w
),
qstats AS (
  SELECT q.query_id,
    CAST(COUNT(*) AS BIGINT) AS n_terms,
    CAST(COALESCE(SUM(p.df), 0) AS BIGINT) AS postings,
    CAST(COALESCE(MAX(p.df), 0) AS BIGINT) AS max_df,
    CAST(COUNT(DISTINCT CASE WHEN p.df IS NOT NULL
                        THEN {shard} END) AS BIGINT) AS term_shards
  FROM qterms q LEFT JOIN postings p ON p.term = q.term
  GROUP BY q.query_id
),
costed AS (
  SELECT query_id, n_terms, postings,
    CAST({dshards} AS BIGINT) AS doc_msgs,
    CAST({dshards} * {topk} AS BIGINT) AS doc_transfer,
    CAST(CASE WHEN term_shards > 0 THEN term_shards
         ELSE 0 END AS BIGINT) AS term_msgs,
    CAST(CASE WHEN term_shards > 1 THEN postings - max_df
         ELSE 0 END AS BIGINT) AS term_transfer
  FROM qstats
)
SELECT query_id, n_terms, postings,
  doc_msgs, doc_transfer, term_msgs, term_transfer,
  CAST(postings + 4 * doc_transfer + 16 * doc_msgs AS BIGINT)
    AS doc_cost,
  CAST(postings + 4 * term_transfer + 16 * term_msgs AS BIGINT)
    AS term_cost,
  CASE WHEN postings + 4 * term_transfer + 16 * term_msgs
            < postings + 4 * doc_transfer + 16 * doc_msgs
       THEN 'term' ELSE 'doc' END AS winner
FROM costed
""".format(qterms=_qterms(d), toks=toks.strip(), shard=shard,
           dshards=_IPP_DOC_SHARDS, topk=_IPP_TOPK)
