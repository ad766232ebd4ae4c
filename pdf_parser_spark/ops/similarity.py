"""Approximate-nearest-neighbor search over the ``embeddings`` table.

Determinism design: float components are quantized to integers
(floor(x·1e6)) so dot products and squared norms are EXACT integer
sums (order-independent → identical across engines); the final cosine
is a fixed sequence of IEEE double ops on those integers.  64-dim
unit-ish vectors → |q|≤1e6, products ≤1e12, 64-term sums ≤ 6.4e13 —
comfortably BIGINT.

Queries:
* ann_cosine_topk — brute-force top-5 for the first 8 query vectors:
  the correctness baseline (full cross join, candidate set = n).
* ann_ivf_fit — deterministic Lloyd's k-means (k=8, centroids seeded
  from the first k vectors, 2 unrolled iterations) producing the IVF
  cell assignment.  Each iteration is the 100-TB-correct shape: an
  assignment join of every vector against the k-row (broadcastable)
  centroid set, then ONE (cell, pos) shuffle to recompute element-wise
  integer means.  All math is exact-integer until the final mean
  (one IEEE division + floor), so both engines fit identical cells.
* ann_ivf_topk — the scale path: candidates pruned to the query's
  FITTED cell (consumes ann_ivf_fit's assignment end-to-end).  Same
  ranking math as brute force, a fraction of the candidates — at
  10^12 rows the cross join is infeasible and this cell-pruned join
  (plus broadcast of the tiny query set) is the shape that survives.

``_ivf_fit_impl`` is the iterative form of the same fit, with the
Lloyd sample cached across rounds, because Catalyst inlines
(re-evaluates) every CTE reference.  ``amortized_ivf_demo`` fits with
it; a test pins cell-for-cell agreement with the ``ann_ivf_fit`` SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..relational import (
    DUCK, SPARK, LEN, LINE_PARTITIONS, ORD_ARRAY, SLICE,
)
from ..stages import materialized, scope

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


def _quantized(d: str) -> str:
    """embedding (array<float>) → array<bigint> of floor(x*1e6)."""
    body = "CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
    if d == SPARK:
        return "transform(embedding, x -> %s)" % body
    return "[%s for x in embedding]" % body


_DIM = 64  # the embeddings fixture dimension at every SF (pinned by
           # the driver corpus; tests/fixtures never emit another)


def _dot(a: str, b: str, d: str) -> str:
    """Exact integer dot product of two quantized vectors."""
    if d == SPARK:
        return ("aggregate(zip_with(%s, %s, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)" % (a, b))
    return ("CAST(list_sum(list_transform(range(1, %s + 1), "
            "i -> %s[i] * %s[i])) AS BIGINT)" % (LEN(a, d), a, b))


def _ssq(a: str, d: str) -> str:
    return _dot(a, a, d)


def _cos(a: str, b: str, d: str) -> str:
    """Cosine of two quantized vectors from their exact integer dot
    product and squared norms."""
    return ("CAST({dot} AS DOUBLE) / (sqrt(CAST({assq} AS DOUBLE)) "
            "* sqrt(CAST({bssq} AS DOUBLE)))").format(
                dot=_dot(a, b, d), assq=_ssq(a, d), bssq=_ssq(b, d))


def _twinned_base(d: str) -> str:
    """``base(vec_id, qv)``: the quantized embeddings plus a twin of
    every 10th vector (id + 1000000, first component nudged by 5% of
    the quantization unit, cosine ~ 0.999) — the in-plan near-dups
    the embedding dedup tiers must find."""
    if d == SPARK:
        twin = ("concat(array(element_at(qv0, 1) + 50000), "
                "slice(qv0, 2, size(qv0) - 1))")
    else:
        twin = "[qv0[1] + 50000] || qv0[2:len(qv0)]"
    return """
base0 AS (
  SELECT vec_id, {quant} AS qv0 FROM embeddings
),
base AS (
  SELECT vec_id, qv0 AS qv FROM base0
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {twin} AS qv
  FROM base0 WHERE vec_id % 10 = 0
)""".format(quant=_quantized(d), twin=twin).strip()


def _sqdist(a: str, b: str, d: str) -> str:
    """Exact integer squared L2 distance.  Components ≤ ~2e6 → diff²
    ≤ 1.6e13, 64-term sum ≤ ~1e15 — comfortably BIGINT."""
    if d == SPARK:
        return ("aggregate(zip_with(%s, %s, (x, y) -> (x - y) * (x - y)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)" % (a, b))
    return ("CAST(list_sum(list_transform(range(1, %s + 1), "
            "i -> (%s[i] - %s[i]) * (%s[i] - %s[i]))) AS BIGINT)"
            % (LEN(a, d), a, b, a, b))


# ---- unrolled (whole-stage-codegen) forms — Spark dialect only.
#
# The aggregate(zip_with(...)) lambdas above are interpreted per
# evaluation (Catalyst does not codegen higher-order functions) and
# allocate a fresh 64-element array per call; an unrolled Add-chain of
# element_at terms compiles to straight-line JVM arithmetic — measured
# ~2× per pair, and it composes with per-vector norm hoisting.
# Bit-identical results: exact integer sums in any association order.
#
# CONSTRAINT (measured the hard way): use these ONLY where the array
# column is MATERIALIZED (parquet scan output, exchange/broadcast
# output, persisted/checkpointed input).  If the array is a same-stage
# expression (e.g. transform(...)), CollapseProject inlines the array
# constructor into EVERY element_at term — a dim× evaluation blowup
# that measured far slower than the lambda form (ann_ivf_topk 1.5 s →
# 2.7 s before this rule).

def _dot_unrolled(a: str, b: str, dim: int = _DIM) -> str:
    return "(" + " + ".join(
        "element_at(%s, %d) * element_at(%s, %d)" % (a, i, b, i)
        for i in range(1, dim + 1)) + ")"


def _ssq_unrolled(a: str, dim: int = _DIM) -> str:
    return _dot_unrolled(a, a, dim)


def _big_base(d: str, reps: int = 100, cap: int = 500) -> str:
    """In-plan corpus expansion to ``cap * reps`` vectors (50k by
    default at every SF): each of the first ``cap`` base vectors
    re-enters ``reps`` times with a deterministic integer perturbation
    per (rep, component) — pseudo-random offsets within ±10% of the
    quantization unit, exact in both engines.  This is how the IVF
    path gets an ORACLED demonstration at a corpus size where cell
    pruning matters, without shipping a bigger fixture."""
    off = "({r} * 7919 + {i} * 104729) % 200001 - 100000"
    if d == SPARK:
        reps_cte = ("reps AS (SELECT explode(sequence(0, %d)) AS rep)"
                    % (reps - 1))
        perturbed = ("transform(qv0, (x, i) -> x + CAST(%s AS BIGINT))"
                     % off.format(r="rep", i="i"))
    else:
        reps_cte = ("reps AS (SELECT unnest(range(0, %d)) AS rep)" % reps)
        perturbed = ("list_transform(range(1, len(qv0) + 1), "
                     "i -> qv0[i] + (%s))" % off.format(r="rep", i="(i - 1)"))
    return """{reps_cte},
base AS (
  SELECT e.vec_id * {reps} + r.rep AS vec_id, {perturbed} AS qv
  FROM (SELECT vec_id, {quant} AS qv0 FROM embeddings
        WHERE vec_id < {cap}) e
  CROSS JOIN reps r
)""".format(reps_cte=reps_cte, reps=reps, perturbed=perturbed,
            quant=_quantized(d), cap=cap)


def _kmeans_ctes(d: str, k: int = 8, iters: int = 2,
                 base_cte: str = None, seed_cte: str = None,
                 train_where: str = None) -> str:
    """CTE chain: quantized vectors → seeded centroids → ``iters``
    unrolled Lloyd rounds → ``fit(vec_id, cell)`` final assignment.

    Determinism: init = the first k vectors by vec_id; assignment
    ties break on lowest cell id; centroid recompute is an exact
    integer sum, one IEEE division, floor — identical across engines.
    Centroid means stay exact in double (|component sum| ≤ n·2e6 ≪
    2^53).  The vector components are exploded ONCE (``comps``) and
    reused by every recompute round.

    ``train_where``: optional SAMPLED training (the production IVF
    shape — a coarse quantizer is trained on a corpus sample, FAISS-
    style, then the FULL corpus is assigned once).  Lloyd rounds and
    centroid recomputes run only over ``base WHERE train_where``; the
    final ``fit`` assignment always covers the full base.  Cuts the
    fit cost from iters+1 full-corpus distance passes to one."""
    train = "train" if train_where else "base"
    if d == SPARK:
        comps = ("SELECT vec_id, pos, v FROM %s "
                 "LATERAL VIEW posexplode(qv) t AS pos, v" % train)
    else:
        comps = ("SELECT vec_id, CAST(pos AS INT) AS pos, "
                 "qv[pos + 1] AS v FROM "
                 "(SELECT vec_id, qv, unnest(range(0, len(qv))) AS pos "
                 "FROM %s) t" % train)
    parts = [
        base_cte if base_cte is not None else
        "base AS (SELECT vec_id, %s AS qv FROM embeddings)" % _quantized(d),
    ]
    if train_where:
        parts.append("train AS (SELECT * FROM base WHERE %s)"
                     % train_where)
    parts += [
        "comps AS (%s)" % comps,
        seed_cte if seed_cte is not None else
        "cent0 AS (SELECT CAST(vec_id AS INT) AS cell, qv AS cv "
        "FROM base WHERE vec_id < %d)" % k,
    ]
    assign_tpl = """
assign{r} AS (
  SELECT vec_id, cell FROM (
    SELECT b.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY b.vec_id
                         ORDER BY {dist}, c.cell) AS rn
    FROM {src} b CROSS JOIN cent{p} c
  ) t WHERE rn = 1
)"""
    cent_tpl = """
cent{r} AS (
  SELECT cell, {arr} AS cv FROM (
    SELECT a.cell, c.pos,
      CAST(floor(SUM(c.v) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
    FROM assign{r} a JOIN comps c ON a.vec_id = c.vec_id
    GROUP BY a.cell, c.pos
  ) g GROUP BY cell
)"""
    dist = _sqdist("b.qv", "c.cv", d)
    for r in range(1, iters + 1):
        parts.append(assign_tpl.format(r=r, p=r - 1, dist=dist,
                                       src=train).strip())
        parts.append(cent_tpl.format(r=r, arr=ORD_ARRAY("m", "pos", d))
                     .strip())
    parts.append(assign_tpl.format(r=iters + 1, p=iters, dist=dist,
                                   src="base").strip())
    parts.append("fit AS (SELECT vec_id, cell FROM assign%d)" % (iters + 1))
    return ",\n".join(parts)


_CELL_ON = "q.cell = c.cell AND q.query_id <> c.cand_id"
_BATCH_KEYS = "batch, query_id"


def _top5_tail(keys: str) -> str:
    """``ranked`` and the final top-5 over ``scored(keys…, cand_id,
    cosine)``, cosine DESC with cand_id breaking ties."""
    return """ranked AS (
  SELECT {keys}, cand_id, cosine,
    CAST(ROW_NUMBER() OVER (PARTITION BY {keys}
                            ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
)
SELECT {keys}, cand_id AS neighbor_id, rank, cosine
FROM ranked WHERE rank <= 5
""".format(keys=keys)


def _cosine_top5(d: str, on: str, keys: str = "query_id",
                 qv: str = "q.qv", cv: str = "c.cv") -> str:
    """``scored``: the integer-dot cosine of each query ``q`` and
    candidate ``c`` joined ON ``on``, then the top-5 tail."""
    return """scored AS (
  SELECT {keys}, cand_id,
    CAST({dot} AS DOUBLE)
      / (sqrt(CAST({qssq} AS DOUBLE)) * sqrt(CAST({cssq} AS DOUBLE)))
      AS cosine
  FROM q JOIN c ON {on}
),
""".format(keys=keys, dot=_dot(qv, cv, d), qssq=_ssq(qv, d),
           cssq=_ssq(cv, d), on=on) + _top5_tail(keys)


def _topk_sql(d: str, candidate_filter: str) -> str:
    """Shared shape: quantize → (query × candidates) → integer dot &
    norms → cosine → rank ≤ 5."""
    return """
WITH q AS (
  SELECT vec_id AS query_id, {quant} AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS cand_id, {quant} AS cv, label AS clabel
  FROM embeddings
),
""".format(quant=_quantized(d)) + _cosine_top5(
        d, "q.query_id <> c.cand_id " + candidate_filter, qv="qv", cv="cv")


@query("ann_cosine_topk")
def q_brute(d: str) -> str:
    """Brute-force cosine top-5 (the correctness baseline)."""
    return _topk_sql(d, "")


@query("ann_ivf_fit")
def q_ivf_fit(d: str) -> str:
    """The IVF coarse quantizer: deterministic k-means cell per vector
    (k=8, 2 Lloyd rounds) plus the distance to its centroid."""
    return """
WITH {kmeans}
SELECT f.vec_id, f.cell,
  {dist} AS sq_dist
FROM fit f
JOIN base b ON b.vec_id = f.vec_id
JOIN cent2 c ON c.cell = f.cell
""".format(kmeans=_kmeans_ctes(d), dist=_sqdist("b.qv", "c.cv", d))


def _ivf_topk(d: str, kmeans: str, qwhere: str) -> str:
    """Cell-pruned cosine top-5 of the ``base`` vectors matching
    ``qwhere`` against every vector in their fitted ``kmeans`` cell."""
    return """
WITH {kmeans},
q AS (
  SELECT b.vec_id AS query_id, b.qv, f.cell
  FROM base b JOIN fit f ON b.vec_id = f.vec_id
  WHERE {qwhere}
),
c AS (
  SELECT b.vec_id AS cand_id, b.qv AS cv, f.cell
  FROM base b JOIN fit f ON b.vec_id = f.vec_id
),
""".format(kmeans=kmeans, qwhere=qwhere) + _cosine_top5(d, _CELL_ON)


@query("ann_ivf_topk")
def q_ivf(d: str) -> str:
    """IVF-style cell-pruned top-5: candidates share the query's
    FITTED k-means cell (the ann_ivf_fit assignment, computed
    in-plan end-to-end)."""
    return _ivf_topk(d, _kmeans_ctes(d), "b.vec_id < 8")


def _rep_seeds(reps: int, k: int) -> str:
    """``cent0``: one rep of each of the first k distinct vectors of a
    ``_big_base(d, reps)`` corpus seeds the k-means cells."""
    return ("cent0 AS (SELECT CAST(vec_id / %d AS INT) AS cell, qv AS cv "
            "FROM base WHERE vec_id %% %d = 0 AND vec_id < %d)"
            % (reps, reps, k * reps))


@query("ann_ivf_topk_big")
def q_ivf_big(d: str) -> str:
    """IVF top-5 at 50,000 vectors (in-plan expansion, _big_base): the
    corpus size where cell pruning EARNS its fit cost — the scored-pair
    count is ~n·8/k versus brute force's n·8 (k=8 cells), and
    tools/ivf_breakeven.py documents the measured break-even.  Fully
    oracled like every other query; k-means seeds are one rep of each
    of the first k distinct base vectors."""
    reps, k = 100, 8
    return _ivf_topk(
        d, _kmeans_ctes(d, base_cte=_big_base(d, reps),
                        seed_cte=_rep_seeds(reps, k)),
        "b.vec_id %% %d = 0 AND b.vec_id < %d" % (reps, 8 * reps))


# 25k-vector corpus for the amortized pair (ann_ivf_topk_big keeps its
# own 50k): chosen so the brute twin stays bench-runnable ×3 on this
# co-tenant host while its 3.2M scored pairs still dominate its fixed
# stage costs — the regime where the candidate pruning is visible
_AMORT_REPS, _AMORT_K = 50, 8
# sampled coarse-quantizer training: Lloyd rounds over every 10th
# vector (5k of 50k; contains all seeds), full corpus assigned ONCE —
# the production IVF recipe (FAISS trains on samples), and the change
# that moves the measured break-even below two query batches
_AMORT_TRAIN = "vec_id % 10 = 0"


# four disjoint 32-query batches: rep-0/13/25/38 copies of base
# vectors 0-31.  BENCH/IVF.md's break-even analysis says the fit
# amortizes past ~2.6 batches; 128 total queries is additionally the
# regime where the BRUTE twin's per-pair volume (128×25k = 3.2M
# scored+windowed rows) dominates its fixed stage costs — at 8-query
# batches brute's wall is ~all fixed overhead and candidate pruning
# cannot show up in wall-clock at this corpus scale.
_AMORT_BATCH_REPS = (0, 13, 25, 38)
_AMORT_QUERIES_PER_BATCH = 32


def _amort_batches_sql(d: str) -> str:
    reps, nq = _AMORT_REPS, _AMORT_QUERIES_PER_BATCH
    tpl = ("SELECT {b} AS batch, b.vec_id AS query_id, b.qv, f.cell "
           "FROM base b JOIN fit f ON b.vec_id = f.vec_id "
           "WHERE b.vec_id % {reps} = {r} AND b.vec_id < {qmax}")
    return " UNION ALL ".join(
        tpl.format(b=i, reps=reps, r=r, qmax=nq * reps + r)
        for i, r in enumerate(_AMORT_BATCH_REPS))


@query("ann_ivf_amortized")
def q_ivf_amortized(d: str) -> str:
    """IVF in its WINNING regime (round-4 ask #7): one sample-trained
    fit serves FOUR query batches over the 50k corpus (break-even is
    2.6 batches — BENCH/IVF.md).  This SQL is the cross-engine oracle
    twin of ``amortized_ivf_demo`` (the production path: _ivf_fit_impl
    for the fit, centroids + cell-bucketed vectors persisted
    as tables, batches served from the persisted index); a test pins
    row-for-row agreement between the two forms.  BENCH_r04 measures
    this against ``ann_brute_big`` — the brute twin at the same scale
    and query load."""
    reps = _AMORT_REPS
    return """
WITH {kmeans},
q AS ({batches}),
c AS (
  SELECT b.vec_id AS cand_id, b.qv AS cv, f.cell
  FROM base b JOIN fit f ON b.vec_id = f.vec_id
),
{tail}""".format(
        kmeans=_kmeans_ctes(d, base_cte=_big_base(d, reps),
                            seed_cte=_rep_seeds(reps, _AMORT_K),
                            train_where=_AMORT_TRAIN),
        batches=_amort_batches_sql(d),
        tail=_cosine_top5(d, _CELL_ON, _BATCH_KEYS))


@query("ann_brute_big")
def q_brute_big(d: str) -> str:
    """Brute-force twin of ann_ivf_amortized: the SAME four 64-query
    batches over the SAME 50k corpus, full candidate set (12.8M scored
    pairs vs IVF's ~1.6M).  Bench-only (retired from the driver's 50):
    exists so BENCH_r04.json can show the amortized IVF beating brute
    at identical scale and query load."""
    reps, nq = _AMORT_REPS, _AMORT_QUERIES_PER_BATCH
    tpl = ("SELECT {b} AS batch, vec_id AS query_id, qv "
           "FROM base WHERE vec_id % {reps} = {r} AND vec_id < {qmax}")
    batches = " UNION ALL ".join(
        tpl.format(b=i, reps=reps, r=r, qmax=nq * reps + r)
        for i, r in enumerate(_AMORT_BATCH_REPS))
    if d == SPARK:
        # Round-6 Spark-side rewrite (guide §1 measurement: 20.0 s at
        # sf0.1, ~all of it in 3.2M interpreted-lambda cosines run on
        # the FOUR partitions of the union's tiny query scans).  Three
        # changes, result-identical (integer sums are order-free, the
        # final double ops are the same IEEE sequence):
        # * per-vector norms hoisted into q/c (they were recomputed
        #   per PAIR: 2×3.2M aggregate(zip_with) evaluations);
        # * the 128-row query side is hash-repartitioned on query_id
        #   (128 = the query's own batch load, not a cluster constant)
        #   so the BNLJ streams on every core, with the 25k-row
        #   candidate side explicitly the broadcast build side.
        # DuckDB oracle text unchanged.
        return """
WITH {base},
q0 AS ({batches}),
q AS (
  SELECT /*+ REPARTITION({nparts}, query_id) */
    batch, query_id, qv, {qssq0} AS qssq
  FROM q0
),
c AS (SELECT vec_id AS cand_id, qv AS cv, {cssq0} AS cssq FROM base),
scored AS (
  SELECT /*+ BROADCAST(c) */ batch, query_id, cand_id,
    CAST({dot} AS DOUBLE)
      / (sqrt(CAST(qssq AS DOUBLE)) * sqrt(CAST(cssq AS DOUBLE)))
      AS cosine
  FROM q JOIN c ON q.query_id <> c.cand_id
),
{tail}""".format(base=_big_base(d, reps), batches=batches,
           nparts=len(_AMORT_BATCH_REPS) * nq,
           tail=_top5_tail(_BATCH_KEYS), dot=_dot("q.qv", "c.cv", d),
           qssq0=_ssq("qv", d), cssq0=_ssq("qv", d))
    return """
WITH {base},
q AS ({batches}),
c AS (SELECT vec_id AS cand_id, qv AS cv FROM base),
{tail}""".format(base=_big_base(d, reps), batches=batches,
                 tail=_cosine_top5(d, "q.query_id <> c.cand_id",
                                   _BATCH_KEYS))


@query("dedup_embedding_cosine")
def q_embed_neardup(d: str) -> str:
    """Embedding-cosine near-duplicate pairs: candidates pruned to the
    coarse cell (label), kept when cosine ≥ 0.9 — the embedding tier
    of the dedup ladder (exact → minhash → simhash → embedding).
    Quantized-integer math as above → engine-identical doubles.

    The driver corpus has no near-dup vectors (random embeddings), so
    a twin tier is synthesized in-plan: every 10th vector re-enters
    with its first component nudged (+5% of the quantization unit) —
    cosine ≈ 0.999, found by the threshold; unrelated pairs stay far
    below it."""
    if d == SPARK:
        twin = ("concat(array(element_at(qv, 1) + 50000), "
                "slice(qv, 2, size(qv) - 1))")
    else:
        twin = "[qv[1] + 50000] || qv[2:len(qv)]"
    return """
WITH base AS (
  SELECT vec_id, {quant} AS qv, label FROM embeddings
),
q AS (
  SELECT vec_id, qv, label FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {twin} AS qv, label
  FROM base WHERE vec_id % 10 = 0
),
pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
    CAST({dot} AS DOUBLE)
      / (sqrt(CAST({assq} AS DOUBLE)) * sqrt(CAST({bssq} AS DOUBLE)))
      AS cosine
  FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT left_id, right_id, cosine FROM pairs WHERE cosine >= 0.9
""".format(quant=_quantized(d), twin=twin, dot=_dot("a.qv", "b.qv", d),
           assq=_ssq("a.qv", d), bssq=_ssq("b.qv", d))


_SEMDEDUP_EPS = "0.9"  # same bar as the embedding near-dup tier


@query("semdedup_prune")
def q_semdedup(d: str) -> str:
    """SemDeDup (Abbas et al. 2023): semantic deduplication = k-means
    cluster the embeddings, then inside each cluster drop every point
    whose cosine to ANY point ordered before it exceeds ε.  This is
    the published algorithm exactly: the within-cluster pairwise
    matrix is taken upper-triangular under a fixed ordering (here:
    distance to the fitted centroid DESCENDING, i.e. keep the
    "outliers", the paper's default keep-low-centroid-similarity
    policy; ties on vec_id), and a later point is pruned if its max
    similarity to any earlier point ≥ ε — earlier points suppress
    later ones whether or not they were themselves pruned.

    Corpus: the same in-plan twin tier as dedup_embedding_cosine
    (every 10th vector re-enters nudged, cosine ≈ 0.999) so the prune
    verdict class is really exercised; the k-means fit and all
    distances are the exact-integer forms of this module, the final
    cosines identical IEEE doubles in both engines.

    Shape at 10^12 vectors: the fit is the IVF coarse quantizer
    already computed for ANN (sampled Lloyd + one assignment pass);
    the prune is a per-cell self-join whose cost is Σ|cell|² — the
    paper keeps |cell| bounded by scaling k with the corpus (k ≈ n/
    target_cell), so the quadratic term stays constant per cell and
    embarrassingly parallel across cells; no global state beyond the
    k-row centroid table."""
    base = _twinned_base(d)
    cos = _cos("a.qv", "b.qv", d)
    return """
WITH {kmeans},
members AS (
  SELECT f.vec_id, f.cell, b.qv, {cdist} AS cdist
  FROM fit f
  JOIN base b ON b.vec_id = f.vec_id
  JOIN cent2 c ON c.cell = f.cell
),
ordered AS (
  SELECT vec_id, cell, qv, cdist,
    CAST(ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY cdist DESC, vec_id) AS BIGINT)
      AS keep_order
  FROM members
),
prior AS (
  SELECT b.vec_id, MAX({cos}) AS max_prior_cos
  FROM ordered a JOIN ordered b
    ON a.cell = b.cell AND a.keep_order < b.keep_order
  GROUP BY b.vec_id
)
SELECT o.vec_id, o.cell, o.keep_order,
  COALESCE(p.max_prior_cos, CAST(-1 AS DOUBLE)) AS max_prior_cosine,
  CASE WHEN p.max_prior_cos >= {eps} THEN 1 ELSE 0 END AS is_pruned
FROM ordered o LEFT JOIN prior p ON p.vec_id = o.vec_id
""".format(kmeans=_kmeans_ctes(d, base_cte=base),
           cdist=_sqdist("b.qv", "c.cv", d), cos=cos, eps=_SEMDEDUP_EPS)


# ------------------------------------------------------- production fit
def _ivf_fit_impl(embeddings: DataFrame, k: int = 8,
                  iters: int = 2, *, quantized: bool = False,
                  train_filter: str = None,
                  seed_df: DataFrame = None,
                  carry_qv: bool = False) -> tuple:
    """Iterative Lloyd's k-means over (vec_id, embedding) — the form
    you run on a cluster.  Same math as the ``ann_ivf_fit`` SQL (which
    remains the DuckDB-checkable oracle): floor(x*1e6) quantization,
    exact-integer distances, ties to the lowest cell, element-wise
    integer-floored means.

    Scale shape per round: ONE broadcast hash join of the vectors
    against the k-row centroid set (constant join key — the broadcast
    side is k rows, so this is the legal spelling of a tiny cross
    join), then ONE (cell, pos) shuffle of partial sums.  The training
    sample is cached once and reused every round instead of being
    re-derived — the property the inlined-CTE SQL form cannot
    express.

    ``quantized=True``: input already carries ``(vec_id, qv)``.
    ``train_filter``: SQL predicate selecting the Lloyd-round sample
    (production/FAISS shape — see _kmeans_ctes); the final assignment
    always covers the full corpus, and ONLY the sample is persisted
    (the full corpus is touched in exactly one streamed pass).
    ``seed_df``: explicit (cell, cv) seed centroids (default: the
    first k vectors — which must lie inside the sample).
    ``carry_qv=True``: the returned assignment keeps the quantized
    vector alongside the cell — lets a caller write the cell-bucketed
    index table without a self-join.

    Assignment strategy (measured): every assignment — rounds and the
    final full-corpus pass — uses the broadcast-join + min_by form.
    The lambda code is IDENTICAL across rounds and calls, so Janino's
    generated-class cache compiles it once per session; the
    alternative (folding driver-resident centroids into a literal
    512-term ``least(struct(dist,cell)...)`` projection) re-compiles
    ~3-6s for every stage whose constants changed and measured 10×
    slower end-to-end despite executing faster per row."""
    qv_expr = ("qv" if quantized else
               "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
               " * 1000000.0) AS BIGINT))")
    base = embeddings.select("vec_id", F.expr(qv_expr).alias("qv"))
    spark = embeddings.sparkSession
    sqdist = F.expr(_SQDIST_EXPR)

    def assign_join(rows, over: DataFrame,
                    carry: bool = False) -> DataFrame:
        cdf = spark.createDataFrame(rows, "cell int, cv array<bigint>")
        scored = (
            over.withColumn("_one", F.lit(1))
            .join(F.broadcast(cdf.withColumn("_one", F.lit(1))), "_one")
            .select("vec_id", "qv", "cell", sqdist.alias("sq_dist"))
        )
        # carry=True: keep qv through the min_by agg (the
        # ivf_index_append pattern — qv is constant across a vec_id's
        # k scored copies, so any_value is deterministic, and the k
        # copies collapse MAP-SIDE in the partial agg) instead of
        # re-attaching it with a post-assignment self-join of the
        # payload (round 6; the join was an extra payload shuffle)
        aggs = [F.min_by("cell", F.struct("sq_dist", "cell")).alias("cell")]
        if carry:
            aggs.append(F.any_value("qv").alias("qv"))
        out = scored.groupBy("vec_id").agg(*aggs)
        return out.select("vec_id", "qv", "cell") if carry else \
            out.select("vec_id", "cell")

    with scope(spark) as st:
        # the Lloyd SAMPLE is deliberately small (FAISS-style);
        # partition it at sample-appropriate width instead of
        # inheriting the corpus width — a 64-wide persisted 2.5k-row
        # sample made every round's jobs mostly-empty tasks (measured
        # 2.2 -> 1.5 s per fit at fixture scale); width scales with
        # LINE_PARTITIONS, floor k
        train = st.cache(
            base.filter(train_filter)
            .repartition(max(k, LINE_PARTITIONS // 8), "vec_id")
            if train_filter else base)
        cent0 = seed_df if seed_df is not None else train.filter(
            F.col("vec_id") < k).select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("qv").alias("cv"))
        cent_rows = sorted((r.cell, list(r.cv)) for r in cent0.collect())
        for _ in range(iters):
            # round 6: the assignment CARRIES qv through the min_by agg
            # and the mean explodes it afterwards — the previous form
            # joined the assignment back to a persisted pre-exploded
            # components table, an extra shuffle join per round
            # (measured ~1 s/round of stage latency at fixture scale
            # for identical math; at corpus scale it is one fewer
            # shuffle of the sample per round)
            assigned = assign_join(cent_rows, train, carry=True)
            means = (
                assigned.select("cell",
                                F.posexplode("qv").alias("pos", "v"))
                .groupBy("cell", "pos")
                .agg(F.expr("CAST(floor(SUM(v) / CAST(COUNT(*) AS"
                            " DOUBLE)) AS BIGINT)").alias("m"))
            )
            # k·dim mean rows → the next round's centroids (the same
            # driver materialization the original per-round collect
            # did)
            by_cell: dict = {}
            for r in means.collect():
                by_cell.setdefault(r.cell, []).append((r.pos, r.m))
            cent_rows = sorted(
                (cell, [m for _, m in sorted(pms)])
                for cell, pms in by_cell.items())

    final = assign_join(cent_rows, base, carry=carry_qv)
    cent = spark.createDataFrame(cent_rows, "cell int, cv array<bigint>")
    return final, cent


# ------------------------------------------------- amortized IVF demo
_SQDIST_EXPR = _sqdist("qv", "cv", SPARK)

_COSINE_EXPR = (
    "CAST(%s AS DOUBLE)"
    " / (sqrt(CAST(%s AS DOUBLE))"
    " * sqrt(CAST(%s AS DOUBLE)))"
    % (_dot("q_qv", "c_qv", SPARK), _ssq("q_qv", SPARK),
       _ssq("c_qv", SPARK)))

# the hoisted-norm serve form: per-vector norms land in qssq/cssq
# columns computed ONCE per vector instead of once per scored pair.
# The per-pair dot stays the LAMBDA form: feeding a window/sort, the
# unrolled Add-chain measured 4-5x SLOWER than the lambda (14.6 s vs
# 3.0 s on the brute pair stage — whole-stage codegen of the
# join+project+sort stage degrades with the 64-term tree), while with
# a plain aggregate consumer the unrolled form wins.  Hoisting the
# norms is the part that pays everywhere.
_COSINE_HOISTED_EXPR = (
    "CAST(%s AS DOUBLE)"
    " / (sqrt(CAST(qssq AS DOUBLE)) * sqrt(CAST(cssq AS DOUBLE)))"
    % _dot("q_qv", "c_qv", SPARK))


def big_base_df(spark, reps: int = _AMORT_REPS):
    """The 50k-vector corpus (``_big_base`` expansion) as a DataFrame
    of (vec_id, qv)."""
    return spark.sql("WITH %s SELECT vec_id, qv FROM base"
                     % _big_base(SPARK, reps))


def amortized_ivf_demo(spark) -> DataFrame:
    """The production amortized-IVF path (round-4 ask #7): fit ONCE via
    _ivf_fit_impl (sample-trained on every 10th vector,
    _AMORT_TRAIN), persist centroids AND the cell-bucketed vector table,
    then serve FOUR query batches from the persisted index — past
    BENCH/IVF.md's 2.6-batch break-even, where IVF beats the brute twin
    (ann_brute_big) end-to-end.  Row-identical to the ann_ivf_amortized
    SQL oracle (test-pinned).

    Plan shape: the fit touches the full 50k corpus in ONE streamed
    pass (rounds run on the persisted 5k sample); the index write needs
    no self-join (carry_qv); all four batches are served by ONE plan —
    union the tagged query sets, one cell equi-join, one window — so
    serve cost is one candidate pass regardless of batch count.

    The index lives in a temporary directory of its own, removed once
    the output is checkpointed."""
    import os
    import tempfile

    reps, k = _AMORT_REPS, _AMORT_K
    with scope(spark) as st, tempfile.TemporaryDirectory(
            prefix="pdf_parser_spark_ivf_") as root:
        # cache the expanded corpus for the fit+index-build window: the
        # in-plan ×100 expansion costs ~3s per pass at 50k and would
        # otherwise be recomputed by the seed collect, every Lloyd
        # round's sample scan, and the index write.  Repartition BEFORE
        # the persist (round 6): the expansion inherits the single
        # partition of the tiny base-vector scan, so every fit pass
        # (Lloyd assigns, means, the final full-corpus assignment)
        # otherwise runs one-task; the one ~13 MB shuffle buys fit-wide
        # parallelism (guide §2.5 input-skew fix — repartition right
        # after the skewed read).
        with scope(spark) as fit:
            base = fit.cache(big_base_df(spark, reps)
                             .repartition(LINE_PARTITIONS, "vec_id"))
            seed = base.filter(
                "vec_id %% %d = 0 AND vec_id < %d" % (reps, k * reps)
            ).select(
                F.expr("CAST(vec_id / %d AS INT)" % reps).alias("cell"),
                F.col("qv").alias("cv"))
            fitted, centroids = _ivf_fit_impl(
                base, k, 2, quantized=True, train_filter=_AMORT_TRAIN,
                seed_df=seed, carry_qv=True)
            # persist the index: centroids (k rows) + the cell-keyed
            # vector table — the artifact later query batches scan
            # without refitting (a real IVF index stores the vectors
            # bucketed by cell); repartition BY cell first so the
            # partitioned write emits one file per cell instead of
            # tasks×cells small files.  The two index writes are
            # independent — submit them from two driver threads so the
            # tiny centroid write back-fills executors during the vector
            # write's tail (guide §2.6)
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(2) as pool:
                f_c = pool.submit(
                    lambda: centroids.write.mode("overwrite")
                    .parquet(os.path.join(root, "centroids")))
                f_v = pool.submit(
                    lambda: fitted.repartition(k, "cell").write
                    .mode("overwrite").partitionBy("cell")
                    .parquet(os.path.join(root, "vectors")))
                f_c.result(), f_v.result()
        vectors = spark.read.parquet(os.path.join(root, "vectors"))

        # serve: per-vector norms hoisted (computed once per candidate /
        # query instead of once per scored pair), queries broadcast into
        # a hash join on cell, candidates repartitioned so the ~400k-pair
        # scoring stage runs at full width instead of on the few packed
        # scan partitions of the 8 per-cell index files
        cands = (vectors.select(
            F.col("vec_id").alias("cand_id"), F.col("qv").alias("c_qv"),
            "cell")
            .repartition(LINE_PARTITIONS, "cand_id")
            .withColumn("cssq", F.expr(_ssq_unrolled("c_qv"))))
        nq = _AMORT_QUERIES_PER_BATCH
        # ONE scan of the index for all four batches (round 6: the
        # union-of-filters form scanned the vector table once per
        # batch); batch number derived from vec_id %% reps — identical
        # row set
        cond = " OR ".join(
            "(vec_id %% %d = %d AND vec_id < %d)" % (reps, r, nq * reps + r)
            for r in _AMORT_BATCH_REPS)
        batch_case = "CASE vec_id %% %d %s END" % (
            reps, " ".join("WHEN %d THEN %d" % (r, i)
                           for i, r in enumerate(_AMORT_BATCH_REPS)))
        qs = (vectors.filter(cond)
              .select(F.expr(batch_case).cast("int").alias("batch"),
                      F.col("vec_id").alias("query_id"),
                      F.col("qv").alias("q_qv"), "cell")
              .withColumn("qssq", F.expr(_ssq_unrolled("q_qv"))))
        scored = (cands.join(F.broadcast(qs), "cell")
                  .filter(F.col("query_id") != F.col("cand_id"))
                  .select("batch", "query_id", "cand_id",
                          F.expr(_COSINE_HOISTED_EXPR).alias("cosine")))
        w = Window.partitionBy("batch", "query_id").orderBy(
            F.desc("cosine"), "cand_id")
        return st.result(
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 5)
            .select("batch", "query_id",
                    F.col("cand_id").alias("neighbor_id"),
                    "rank", "cosine"))


# ------------------------------------------- incremental index ingest

def ivf_index_write(spark, index_dir: str, vectors: DataFrame,
                    centroids: DataFrame, k: int = _AMORT_K) -> None:
    """Persist an IVF index: centroids (k rows) + the cell-partitioned
    vector table (one file per cell via the pre-write repartition)."""
    import os

    centroids.write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids"))
    vectors.repartition(k, "cell").write.mode("overwrite") \
        .partitionBy("cell").parquet(os.path.join(index_dir, "vectors"))


def ivf_index_append(spark, index_dir: str,
                     new_vectors: DataFrame) -> None:
    """Incremental ingest into a PERSISTED IVF index — the serving-side
    lifecycle step after :func:`amortized_ivf_demo`'s fit: new vectors
    are assigned to their nearest existing centroid (broadcast k-row
    join, no refit, no full-corpus scan) and appended to the
    cell-partitioned vector table.  This is how production IVF indexes
    absorb a growing corpus between periodic refits; recall for the
    new vectors is exact w.r.t. the CURRENT centroids (the standard
    contract — drift is handled by the next refit).

    ``new_vectors``: (vec_id bigint, qv array<bigint>) — quantized
    like the index.  At 10^12 scale this is a map-only pass plus a
    k-way partitioned append: no shuffle beyond the cell repartition,
    no state beyond the k centroids."""
    import os

    centroids = spark.read.parquet(os.path.join(index_dir, "centroids"))
    sqdist = F.expr(_SQDIST_EXPR)
    # min_by hash-agg, not a row_number window: the window spelling
    # shuffles all n*k scored rows; this one partial-aggregates
    # map-side and shuffles ~n rows (same tie-break as
    # _ivf_fit_impl.assign_join); qv is constant per vec_id across the
    # k scored copies, so any_value is deterministic here
    assigned = (
        new_vectors.withColumn("_one", F.lit(1))
        .join(F.broadcast(centroids.withColumn("_one", F.lit(1))),
              "_one")
        .select("vec_id", "qv", "cell", sqdist.alias("sq_dist"))
        .groupBy("vec_id")
        .agg(F.min_by("cell", F.struct("sq_dist", "cell")).alias("cell"),
             F.any_value("qv").alias("qv"))
        .select("vec_id", "qv", "cell")
    )
    k = centroids.count()
    assigned.repartition(k, "cell").write.mode("append") \
        .partitionBy("cell").parquet(os.path.join(index_dir, "vectors"))


def ivf_persisted_topk(spark, index_dir: str, n_queries: int = 8,
                       nprobe: int = 1, topn: int = 5) -> DataFrame:
    """Serve cosine top-k from a persisted index (centroids + cell
    table) WITHOUT refitting — queries probe their ``nprobe`` nearest
    cells; nprobe=k degenerates to exact brute force over everything
    the index holds (the equivalence the ingest test leans on)."""
    import os

    vectors = spark.read.parquet(os.path.join(index_dir, "vectors"))
    centroids = spark.read.parquet(os.path.join(index_dir, "centroids"))
    sqdist = F.expr(_SQDIST_EXPR)
    queries = vectors.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "qv")
    probed = (
        queries.withColumn("_one", F.lit(1))
        .join(F.broadcast(centroids.withColumn("_one", F.lit(1))),
              "_one")
        .select("vec_id", "qv", "cell", sqdist.alias("sq_dist"))
        .withColumn("cell_rank", F.row_number().over(
            Window.partitionBy("vec_id").orderBy("sq_dist", "cell")))
        .filter(F.col("cell_rank") <= nprobe)
        .select(F.col("vec_id").alias("query_id"),
                F.col("qv").alias("q_qv"), "cell")
    )
    cands = vectors.select(
        F.col("vec_id").alias("cand_id"), F.col("qv").alias("c_qv"),
        "cell")
    scored = (probed.join(cands, "cell")
              .filter(F.col("query_id") != F.col("cand_id"))
              .select("query_id", "cand_id",
                      F.expr(_COSINE_EXPR).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                              "cand_id")
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= topn)
            .select("query_id", F.col("cand_id").alias("neighbor_id"),
                    "rank", "cosine"))


# --------------------------------------- sign-random-projection LSH

_SRP_BITS = 24       # hyperplanes (signature bits)
_SRP_BANDS = 3       # bands of _SRP_BITS/_SRP_BANDS bits each
_SRP_EPS = "0.9"     # same verification bar as the other dedup tiers
# SUPER-BUCKET guard, same rationale as the text LSH tier
# (ops/dedup.py _lsh_ctes): 8-bit band values give only 256 buckets,
# so any degenerate embedding cluster (near-identical vectors — all
# land in ONE bucket) collapses banding toward the n²/2 all-pairs it
# exists to avoid.  Buckets above the cap are dropped from candidate
# generation, bounding the join at ANY corpus size; members of such
# buckets are exact/near-identical clusters the upstream exact-dedup
# tier already collapses.  64 = the span tier's cap; measured max
# fixture bucket is 28 at sf0.1 (10 at sf0.01), so the cap drops
# NOTHING on real data — recall pin stays 100% at both SFs.
_SRP_BUCKET_CAP = 64


def _srp_planes() -> list:
    """The 24×64 hyperplane matrix, materialized ONCE in Python.

    Hyperplane j's component i is a deterministic pseudo-random signed
    integer in [-1000, 1000]: (HEX2INT(md5('srp|j|i')) % 2001) - 1000
    — the md5 hash is the shared cross-engine randomness source of the
    sketch tier.  Derivation is byte-for-byte the HEX2INT contract
    (first 15 hex chars → nonnegative BIGINT, so Python's and SQL's %
    agree); both dialects embed the SAME literal matrix, so the oracle
    shifts identically.  Hoisted to plan-build time because Catalyst
    cannot constant-fold the md5 calls out of a lambda: the in-plan
    form re-evaluated 24×64 = 1,536 md5() per ROW (measured 2× the
    whole query's runtime at sf0.1)."""
    import hashlib
    return [[int(hashlib.md5(("srp|%d|%d" % (j, i)).encode())
                 .hexdigest()[:15], 16) % 2001 - 1000
             for i in range(64)] for j in range(_SRP_BITS)]


def _srp_sig_cte(d: str) -> str:
    """The ``sig(vec_id, qv, sig)`` CTE chain over ``base(vec_id,
    qv)``: the 24-bit SRP signature, exact-integer.

    Bit j = [<qv, h_j> >= 0] against the hoisted hyperplane matrix of
    :func:`_srp_planes`; each product is <= 1e6*1000 = 1e9 and the
    64-term sum <= 6.4e10, comfortably BIGINT.  The signature is the
    bit-packed BIGINT sum of 2^j.

    The two dialects need DIFFERENT shapes for the same hoisting win
    (measured at sf0.01, 550 rows):

    * Spark: one inline higher-order expression over a literal
      array<array<int>> — ConstantFolding collapses CreateArray-of-
      literals to a single Literal, and element_at(literal, j+1)
      inside the lambda is an O(1) runtime access.
    * DuckDB: the literal-indexing form re-materializes the indexed
      list literal PER ELEMENT EVALUATION (the whole matrix: minutes;
      even per-row 64-literals: 5.5 s) — so the matrix becomes a
      24-row ``planes(j, w)`` VALUES relation and the signature a
      CROSS JOIN + SUM group-by, where ``w`` is a plain column
      reference (0.03 s vs 0.36 s for the old per-row md5 form).
    """
    planes = _srp_planes()
    if d == SPARK:
        hp = "array(%s)" % ", ".join(
            "array(%s)" % ", ".join(str(w) for w in row)
            for row in planes)
        expr = (
            "aggregate(transform(sequence(0, {B1}), j -> CASE WHEN "
            "aggregate(zip_with(qv, element_at({hp}, j + 1), "
            "(x, w) -> x * w), "
            "CAST(0 AS BIGINT), (a2, v2) -> a2 + v2) >= 0 "
            "THEN shiftleft(CAST(1 AS BIGINT), j) "
            "ELSE CAST(0 AS BIGINT) END), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).format(B1=_SRP_BITS - 1, hp=hp)
        return "sig AS (\n  SELECT vec_id, qv, %s AS sig FROM base\n)" % expr
    vals = ", ".join(
        "(%d, [%s])" % (j, ",".join(str(w) for w in row))
        for j, row in enumerate(planes))
    return (
        "planes AS (SELECT j, w FROM (VALUES {vals}) AS t(j, w)),\n"
        "sig AS (\n"
        "  SELECT vec_id, qv, CAST(SUM(CASE WHEN "
        "CAST(list_sum([qv[i] * w[i] for i in range(1, 65)]) AS BIGINT)"
        " >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) "
        "END) AS BIGINT) AS sig\n"
        "  FROM base CROSS JOIN planes GROUP BY vec_id, qv\n"
        ")"
    ).format(vals=vals)


@query("embed_srp_neardup")
def q_srp_neardup(d: str) -> str:
    """Embedding near-dup via sign-random-projection LSH (Charikar,
    STOC 2002): hash each vector to a 24-bit hyperplane-sign
    signature, band it 3x8 bits, candidate pairs share a band value,
    verify candidates at exact cosine >= 0.9.

    This is the label-free scale path of the embedding dedup tier:
    ``dedup_embedding_cosine`` prunes candidates to a PRE-EXISTING
    coarse cell (the fixture's label column); real corpora have no
    such column.  SRP needs nothing but the vectors — the signature
    is a narrow per-row projection (24 x 64 integer multiplies
    against a plan-build-time literal hyperplane matrix — see
    ``_srp_planes``; no per-row hashing, no explode, no fit), banding
    is a 3x unpivot, and candidates come from ONE band-key equi-join
    guarded by the standard super-bucket cap (``_SRP_BUCKET_CAP``) —
    the identical surviving shape as the MinHash/LSH text tier
    (ops/dedup.py), with the candidate volume dialed by bits-per-band
    (8 bits => ~1/256 collision rate for unrelated vectors vs
    P(bit agree) = 1 - theta/pi per bit for near-dups; at cosine
    0.999, P(all 24 bits agree) ~ 0.71 and P(>=1 of 3 bands) >
    0.9999).

    Same in-plan twin tier as ``dedup_embedding_cosine`` (every 10th
    vector re-enters nudged, cosine ~ 0.999) so genuine near-dups
    exist; the test pins that SRP recovers ALL of them at fixture
    scale plus the measured candidate-reduction factor vs the n^2/2
    cross join.  Output: verified pairs with the integer Hamming
    distance of the full signatures and the exact cosine (the same
    IEEE-double sequence as the rest of this module).
    """
    if d == SPARK:
        bandrows = "SELECT explode(sequence(0, %d)) AS b" % (
            _SRP_BANDS - 1)
        bandval = "(shiftright(s.sig, r.b * 8) & 255)"
        hamming = "bit_count(sa.sig ^ sb.sig)"
    else:
        bandrows = "SELECT unnest(range(0, %d)) AS b" % _SRP_BANDS
        bandval = "((s.sig >> (r.b * 8)) & 255)"
        hamming = "bit_count(xor(sa.sig, sb.sig))"
    cos = _cos("sa.qv", "sb.qv", d)
    return """
WITH {base},
{sig},
bands AS (
  SELECT s.vec_id, r.b, {bandval} AS bv
  FROM sig s CROSS JOIN ({bandrows}) r
),
bucket_ok AS (
  SELECT b, bv FROM bands
  GROUP BY b, bv HAVING COUNT(*) <= {cap}
),
cand AS (
  SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
  FROM bands a
  JOIN bucket_ok s ON s.b = a.b AND s.bv = a.bv
  JOIN bands b
    ON a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id
)
SELECT c.left_id, c.right_id,
  CAST({hamming} AS INT) AS hamming,
  {cos} AS cosine
FROM cand c
JOIN sig sa ON sa.vec_id = c.left_id
JOIN sig sb ON sb.vec_id = c.right_id
WHERE {cos} >= {eps}
""".format(base=_twinned_base(d), sig=_srp_sig_cte(d),
           bandval=bandval, bandrows=bandrows, hamming=hamming,
           cos=cos, eps=_SRP_EPS, cap=_SRP_BUCKET_CAP)


# ------------------------------------------------ product quantization
# IVF's cell pruning cuts the CANDIDATE COUNT; product quantization
# cuts the BYTES PER CANDIDATE — at 10^12 vectors a 64-dim float
# corpus is ~256 TB of vector payload, while the PQ code table below
# is M=8 single-byte codes per vector (~8 TB), and the query-time scan
# never touches the raw vectors until the final shortlist re-rank.
# This is the Jegou/Douze/Schmid TPAMI 2011 recipe (and the FAISS
# IVFADC default): per-subspace k-means codebooks, asymmetric distance
# computation (ADC) via a per-query (m, code) lookup table, exact
# re-rank of the shortlist.
_PQ_M = 8          # subspaces (64 dims -> 8x 8-dim sub-vectors)
_PQ_SUBDIM = 8
_PQ_K = 16         # codes per sub-codebook -> codebook = 128 rows
_PQ_ITERS = 2      # Lloyd rounds, same as the IVF tier
_PQ_SHORTLIST = 32 # ADC shortlist re-ranked at exact cosine


def _pq_ctes(d: str) -> str:
    """CTE chain: quantized vectors → M sub-vectors each → per-subspace
    deterministic Lloyd k-means (seeds = sub-vectors of the first K
    vec_ids, ties to the lowest code, integer-floored means — the
    exact conventions of ``_kmeans_ctes``, generalized with the
    subspace id ``m`` in every join/group key) → ``codes(vec_id, m,
    code)`` (the PQ encoding) + ``pcent{iters}`` (the final codebook).

    Every per-round join carries ``m`` as an equi-key and the codebook
    side is M·K = 128 rows — broadcastable at any corpus size."""
    m, sub, k, iters = _PQ_M, _PQ_SUBDIM, _PQ_K, _PQ_ITERS
    if d == SPARK:
        mrange = ("SELECT CAST(m0 AS INT) AS m FROM "
                  "(SELECT explode(sequence(0, %d)) AS m0) t" % (m - 1))
        comps = ("SELECT vec_id, m, pos, v FROM subs "
                 "LATERAL VIEW posexplode(sv) t AS pos, v")
    else:
        mrange = ("SELECT CAST(unnest(range(0, %d)) AS INT) AS m" % m)
        comps = ("SELECT vec_id, m, CAST(pos AS INT) AS pos, "
                 "sv[pos + 1] AS v FROM "
                 "(SELECT vec_id, m, sv, unnest(range(0, len(sv))) AS pos "
                 "FROM subs) t")
    parts = [
        "base AS (SELECT vec_id, %s AS qv FROM embeddings)" % _quantized(d),
        "mrange AS (%s)" % mrange,
        "subs AS (SELECT b.vec_id, r.m, %s AS sv "
        "FROM base b CROSS JOIN mrange r)"
        % SLICE("b.qv", "r.m * %d + 1" % sub, str(sub), d),
        "comps AS (%s)" % comps,
        "pcent0 AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS cv "
        "FROM subs WHERE vec_id < %d)" % k,
    ]
    assign_tpl = """
passign{r} AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                         ORDER BY {dist}, c.code) AS rn
    FROM subs s JOIN pcent{p} c ON s.m = c.m
  ) t WHERE rn = 1
)"""
    cent_tpl = """
pcent{r} AS (
  SELECT m, code, {arr} AS cv FROM (
    SELECT a.m, a.code, c.pos,
      CAST(floor(SUM(c.v) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mv
    FROM passign{r} a JOIN comps c ON a.vec_id = c.vec_id AND a.m = c.m
    GROUP BY a.m, a.code, c.pos
  ) g GROUP BY m, code
)"""
    dist = _sqdist("s.sv", "c.cv", d)
    for r in range(1, iters + 1):
        parts.append(assign_tpl.format(r=r, p=r - 1, dist=dist).strip())
        parts.append(cent_tpl.format(r=r, arr=ORD_ARRAY("mv", "pos", d))
                     .strip())
    parts.append(assign_tpl.format(r=iters + 1, p=iters, dist=dist).strip())
    parts.append("codes AS (SELECT vec_id, m, code FROM passign%d)"
                 % (iters + 1))
    return ",\n".join(parts)


@query("ann_pq_codes")
def q_pq_codes(d: str) -> str:
    """The PQ encoder: every vector reduced to M=8 sub-codebook codes
    (the byte-per-subspace representation that makes a 10^12-vector
    scan read ~8 TB of codes instead of ~256 TB of floats)."""
    return "WITH %s\nSELECT vec_id, m, code FROM codes" % _pq_ctes(d)


@query("ann_pq_adc")
def q_pq_adc(d: str) -> str:
    """IVFADC-style search: per-query (m, code) distance table against
    the FITTED codebook (M·K = 128 rows/query), ADC distance = exact
    integer sum of the per-subspace table entries over each vector's
    codes, shortlist of {short} by ADC, exact-cosine re-rank, top-5.

    Scale shape: the distance table is |queries|·M·K rows (broadcast);
    the ADC scan is codes ⨝ dtab on (m, code) + partial-agg SUM —
    map-side at any corpus size; raw vectors are touched only for the
    {short}-row shortlist re-rank (FAISS's IVFADC + refine recipe,
    Jegou/Douze/Schmid TPAMI 2011)."""
    cos = _cos("qb.qv", "cb.qv", d)
    return """
WITH {pq},
dtab AS (
  SELECT s.vec_id AS query_id, c.m, c.code, {dist} AS dist
  FROM subs s JOIN pcent{f} c ON s.m = c.m
  WHERE s.vec_id < 8
),
adc AS (
  SELECT t.query_id, k.vec_id AS cand_id,
    CAST(SUM(t.dist) AS BIGINT) AS adc_dist
  FROM codes k JOIN dtab t ON k.m = t.m AND k.code = t.code
  WHERE k.vec_id <> t.query_id
  GROUP BY t.query_id, k.vec_id
),
short AS (
  SELECT query_id, cand_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist, cand_id) AS arn
  FROM adc
),
rr AS (
  SELECT s.query_id, s.cand_id, s.adc_dist, {cos} AS cosine
  FROM short s
  JOIN base qb ON qb.vec_id = s.query_id
  JOIN base cb ON cb.vec_id = s.cand_id
  WHERE s.arn <= {short}
),
ranked AS (
  SELECT query_id, cand_id, adc_dist, cosine,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM rr
)
SELECT query_id, cand_id AS neighbor_id, rank, cosine, adc_dist
FROM ranked WHERE rank <= 5
""".format(pq=_pq_ctes(d), f=_PQ_ITERS,
           dist=_sqdist("s.sv", "c.cv", d), cos=cos,
           short=_PQ_SHORTLIST)


_PQ_SUB_SQDIST = (
    "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)")


def _pq_subs(embeddings: DataFrame, m: int, sub: int) -> DataFrame:
    base = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
               " * 1000000.0) AS BIGINT))").alias("qv"))
    return base.select(
        "vec_id", "qv",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m")
    ).select(
        "vec_id", "qv", F.col("m").cast("int").alias("m"),
        F.expr("slice(qv, m * %d + 1, %d)" % (sub, sub)).alias("sv"))


def pq_fit_frame(st, embeddings: DataFrame, m: int = _PQ_M,
                 sub: int = _PQ_SUBDIM, k: int = _PQ_K,
                 iters: int = _PQ_ITERS) -> tuple:
    """PQ training + encoding for ``pq_topk_frame`` — the iterative,
    cached form of the ``ann_pq_codes`` SQL (code-for-code identical,
    test-pinned).  Returns ``(codes, codebook)``: codes is
    (vec_id, m, code), codebook is (m, code, cv).  The ``ann_pq_codes``
    row itself runs its SQL on Spark: alone, this fit measured no
    faster (BENCH/twins.json); inside the ADC search it wins at 10×
    the sf0.1 vector count.

    Scale shape per Lloyd round: ONE broadcast hash join of the n·M
    sub-vector rows against the M·K = 128-row codebook (equi-key m),
    then ONE (m, code, pos) shuffle of partial sums; sub-vectors and
    their exploded components are persisted once and reused every
    round.  Codebook rows round-trip through the driver between
    rounds — a BOUNDED M·K-row collect, like the IVF centroids."""
    spark = embeddings.sparkSession
    subs = st.cache(_pq_subs(embeddings, m, sub).select("vec_id", "m", "sv"))
    seed = subs.filter(F.col("vec_id") < k).select(
        "m", F.col("vec_id").cast("int").alias("code"),
        F.col("sv").alias("cv"))
    cb_rows = sorted((r.m, r.code, list(r.cv)) for r in seed.collect())
    sqdist = F.expr(_PQ_SUB_SQDIST)

    def assign_join(rows, carry_sv: bool = False) -> DataFrame:
        # round 6: Lloyd rounds CARRY the sub-vector through the
        # min_by assignment (any_value is deterministic — sv is
        # functionally dependent on the (vec_id, m) group key) and
        # posexplode it after, instead of shuffle-joining the
        # assignment back to a persisted pre-exploded components
        # table — one fewer shuffle join per round (the same carry
        # the IVF fit got this round; guide §8: don't let a
        # re-attach join sneak a payload shuffle back in).
        cdf = spark.createDataFrame(
            rows, "m int, code int, cv array<bigint>")
        cols = ["vec_id", "m", "code", sqdist.alias("sq_dist")]
        if carry_sv:
            cols.append("sv")
        scored = subs.join(F.broadcast(cdf), "m").select(*cols)
        aggs = [F.min_by("code", F.struct("sq_dist", "code")).alias("code")]
        if carry_sv:
            aggs.append(F.any_value("sv").alias("sv"))
        return scored.groupBy("vec_id", "m").agg(*aggs)

    for _ in range(iters):
        assigned = assign_join(cb_rows, carry_sv=True)
        means = (assigned
                 .select("m", "code", F.posexplode("sv").alias("pos", "v"))
                 .groupBy("m", "code", "pos")
                 .agg(F.expr("CAST(floor(SUM(v) / CAST(COUNT(*) AS"
                             " DOUBLE)) AS BIGINT)").alias("mv")))
        by_key: dict = {}
        for r in means.collect():
            by_key.setdefault((r.m, r.code), []).append((r.pos, r.mv))
        cb_rows = sorted(
            (mm, code, [v for _, v in sorted(pvs)])
            for (mm, code), pvs in by_key.items())

    codes = assign_join(cb_rows)
    codebook = spark.createDataFrame(
        cb_rows, "m int, code int, cv array<bigint>")
    return codes, codebook


def pq_topk_frame(st, embeddings: DataFrame, m: int = _PQ_M,
                  sub: int = _PQ_SUBDIM, k: int = _PQ_K,
                  iters: int = _PQ_ITERS, shortlist: int = _PQ_SHORTLIST,
                  topn: int = 5, n_queries: int = 8) -> DataFrame:
    """PRODUCTION IVFADC-style search — row-identical to the
    ``ann_pq_adc`` oracle SQL (test-pinned).  The per-query distance
    table (n_queries·M·K rows) is broadcast into the ADC scan, which
    is a map-side (m, code) hash join over the byte-sized code table
    plus a partial-agg SUM — the only pass that touches all n rows
    reads codes, never vectors; raw vectors are re-read for the
    ``shortlist``-row exact-cosine refine only."""
    codes, codebook = pq_fit_frame(st, embeddings, m, sub, k, iters)
    qsubs = _pq_subs(embeddings, m, sub) \
        .filter(F.col("vec_id") < n_queries)
    dtab = (qsubs.join(F.broadcast(codebook), "m")
            .select(F.col("vec_id").alias("query_id"), "m", "code",
                    F.expr(_PQ_SUB_SQDIST).alias("dist")))
    adc = (codes.join(F.broadcast(dtab), ["m", "code"])
           .filter(F.col("vec_id") != F.col("query_id"))
           .groupBy("query_id", F.col("vec_id").alias("cand_id"))
           .agg(F.sum("dist").cast("bigint").alias("adc_dist")))
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    short = (adc.withColumn("arn", F.row_number().over(w_adc))
             .filter(F.col("arn") <= shortlist)
             .select("query_id", "cand_id", "adc_dist"))
    base = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
               " * 1000000.0) AS BIGINT))").alias("qv"))
    qb = base.select(F.col("vec_id").alias("query_id"),
                     F.col("qv").alias("q_qv"))
    cb = base.select(F.col("vec_id").alias("cand_id"),
                     F.col("qv").alias("c_qv"))
    cosine = F.expr(_COSINE_EXPR)
    rr = (short.join(qb, "query_id").join(cb, "cand_id")
          .select("query_id", "cand_id", "adc_dist",
                  cosine.alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (rr.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= topn)
            .select("query_id", F.col("cand_id").alias("neighbor_id"),
                    "rank", "cosine", "adc_dist"))


pq_topk_df = materialized(pq_topk_frame)
