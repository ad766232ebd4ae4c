"""Training-sequence preparation — the last mile of a pretraining data
pipeline: split documents into overlapping token-window chunks, and
pack the corpus into fixed-length training sequences (the GPT-style
concat-and-cut protocol: concatenate documents in a deterministic
order, slice at fixed token boundaries, record which documents span
which sequences).

The reference has no counterpart (training-data tier).  Both operators
are pure window/aggregate SQL over whitespace tokens: no UDF, no
driver loop.

Shape at 10^12 docs: ``doc_chunking`` is posexplode + per-token chunk
assignment + (doc_id, chunk_no) hash agg — the array-free k-gram shape
(see ops/dedup._exploded_shingles for why the slice-lambda form is
O(words^2) on Spark).  ``sequence_packing`` needs one global ordered
cumsum — a genuine single-partition window at naive scale, so the SQL
orders by doc_id and at cluster scale the same math runs hierarchically
(per-partition subtotals + broadcast prefix offsets); the docstring of
q_packing carries the plan note.
"""

from __future__ import annotations

from ..relational import DUCK, SPARK, LEN, POS_TOKS_CTE

QUERIES = {}


def query(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


_CHUNK, _OVERLAP = 32, 8      # window / overlap (tokens)
_STRIDE = _CHUNK - _OVERLAP
_SEQ_LEN = 512                # training-sequence length (tokens)


@query("doc_chunking")
def q_chunking(d: str) -> str:
    """Overlapping token-window chunks per document: windows of
    _CHUNK (32) tokens every _STRIDE (24), overlap _OVERLAP (8) — one
    window at every stride start below the token count (the stride
    marches to the end, tail windows truncated: standard
    sliding-window semantics).  Output pins exact chunk membership via
    an md5 over the space-joined window.  Tokens are split-by-space
    positions — the SAME universe sequence_packing counts, so the two
    maps compose."""
    toks = POS_TOKS_CTE(d)
    # token at pos belongs to chunk c iff c*stride <= pos < c*stride +
    # chunk, i.e. c in [max(0, ceil((pos-chunk+1)/stride)) ..
    # floor(pos/stride)]; membership is 1 or 2 chunks for
    # overlap < stride*2
    lo = ("greatest(CAST(ceil((pos - %d + 1) / %d.0) AS BIGINT), 0)"
          % (_CHUNK, _STRIDE))
    hi = "CAST(floor(pos / %d.0) AS BIGINT)" % _STRIDE
    if d == SPARK:
        member = ("SELECT doc_id, pos, w, c FROM toks "
                  "LATERAL VIEW explode(sequence(%s, %s)) s AS c"
                  % (lo, hi))
        chunk_text = ("concat_ws(' ', transform(array_sort("
                      "collect_list(struct(pos AS o, w AS v))), "
                      "x -> x.v))")
    else:
        member = ("SELECT doc_id, pos, w, unnest(range(%s, (%s) + 1)) "
                  "AS c FROM toks" % (lo, hi))
        chunk_text = "string_agg(w, ' ' ORDER BY pos)"
    return """
WITH {toks},
member AS ({member}),
chunks AS (
  SELECT doc_id, c AS chunk_no,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    md5({chunk_text}) AS chunk_digest
  FROM member GROUP BY doc_id, c
)
SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no, n_tokens,
       chunk_digest
FROM chunks
""".format(toks=toks.strip(), member=member, chunk_text=chunk_text)


@query("sequence_packing")
def q_packing(d: str) -> str:
    """Concat-and-cut sequence packing: documents concatenate in
    doc_id order; each takes the token interval
    [start_offset, start_offset + n_tokens) of the global stream,
    which is cut into training sequences of _SEQ_LEN (512) tokens.
    Per
    document: its offset, the first/last sequence it lands in, and how
    many sequences it spans — the doc→sequence attribution map a
    pretraining dataloader (and any contamination audit of a trained
    model) needs.

    Plan note: the cumsum window here is ordered over all docs (fine
    at fixture scale; Spark plans one Exchange + Window).  At 10^12
    docs the same math is hierarchical: per-partition token subtotals
    (tiny) are collected, prefix-summed, and broadcast back as
    per-partition base offsets — two narrow passes, no global sort of
    the data itself."""
    # split-by-space token count — the SAME universe doc_chunking
    # windows over (a regex \S+ count here would disagree on docs
    # with doubled/leading/trailing spaces and mis-attribute offsets)
    split = ("split(text, ' ')" if d == SPARK
             else "string_split(text, ' ')")
    n_tok = "CAST(%s AS BIGINT)" % LEN(split, d)
    return """
WITH counted AS (
  SELECT doc_id, {n_tok} AS n_tokens FROM documents
),
offs AS (
  SELECT doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS start_offset
  FROM counted
)
SELECT doc_id, n_tokens, start_offset,
  CAST(floor(start_offset / {seq}.0) AS BIGINT) AS first_seq,
  CAST(floor((start_offset + n_tokens - 1) / {seq}.0) AS BIGINT)
    AS last_seq,
  CAST(floor((start_offset + n_tokens - 1) / {seq}.0)
       - floor(start_offset / {seq}.0) + 1 AS BIGINT) AS n_seqs
FROM offs WHERE n_tokens > 0
""".format(n_tok=n_tok, seq=_SEQ_LEN)


_N_TRAIN_SHARDS = 16
_EPOCH_SEED = 1


@query("epoch_shard_plan")
def q_epoch_shard(d: str) -> str:
    """Deterministic epoch shuffle + shard export map — how a
    pretraining run orders a corpus WITHOUT materializing a random
    permutation: key every document by ``md5(seed, doc_id)``, shard by
    the key, order within the shard by the key.  A different epoch
    seed is a different (but reproducible) global order; resharding
    is pure recomputation, no stored state.

    Output per document: shard, position within the shard, token
    count, and the shard-local token offset (the cumulative start the
    sequence writer needs — prefix sum over the hash order).

    Shape at 10^12 docs: ONE shuffle (repartition by shard) +
    per-shard sort on the 60-bit key — the DataFrame twin is
    ``repartition(shard).sortWithinPartitions(h)``; the within-shard
    prefix sum is a plain window over the already-sorted partition,
    and shards are independent so nothing is global."""
    from ..relational import HEX2INT

    n_tok = "CAST(%s AS BIGINT)" % LEN(
        ("split(text, ' ')" if d == SPARK
         else "string_split(text, ' ')"), d)
    h = HEX2INT("md5('epoch-%d-' || CAST(doc_id AS %s))"
                % (_EPOCH_SEED, "STRING" if d == SPARK else "VARCHAR"), d)
    return """
WITH keyed AS (
  SELECT doc_id, {n_tok} AS n_tokens, {h} AS h
  FROM documents
),
sharded AS (
  SELECT doc_id, n_tokens, h,
    CAST(h % {shards} AS INT) AS shard
  FROM keyed
)
SELECT doc_id, shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
       AS INT) AS pos,
  n_tokens,
  CAST(COALESCE(SUM(n_tokens) OVER (
    PARTITION BY shard ORDER BY h, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS token_offset
FROM sharded
""".format(n_tok=n_tok, h=h, shards=_N_TRAIN_SHARDS)
