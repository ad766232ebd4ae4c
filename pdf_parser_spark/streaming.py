"""Structured Streaming variant of the extraction pipeline.

The reference is request/response (SURVEY.md §2.10 — no watermarks or
cross-document state exist), so the streaming job is the SAME dataflow
run incrementally: every operator is per-url, no watermark is ever
required, and ``Trigger.AvailableNow`` drains whatever landed since
the last checkpoint then stops — incremental ingestion with exactly
the batch semantics.

``foreachBatch`` routes each micro-batch through the batch writer
(TableIO snapshot appends), so resume/lineage behavior is identical to
the batch job; the streaming checkpoint adds source-offset tracking on
top (files already drained are never re-read, even without the
anti-join).

Stateless per-document stages (the MinHash band keys) run through
``pipeline.flat_map_rows`` (``mapInArrow``); only the
``applyInPandasWithState`` state functions see pandas frames, because
Spark's stateful API hands them pandas.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .io_tables import TableIO
from .pages_source import PAGES_SCHEMA
from .pipeline import flat_map_rows, parse_pages, split_outputs


def stream_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: Optional[str] = None,
    partitions: Optional[int] = None,
):
    """Drain all available page files → parsed tables; returns the
    finished StreamingQuery (already awaited)."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    io = TableIO.from_conf(spark, out_dir)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_pages(batch_df, partitions).persist()
        try:
            txs, docs = split_outputs(parsed)
            if docs.count():
                io.append_many(
                    {"transactions": txs, "doc_metrics": docs},
                    run_id="stream-%d" % batch_id,
                )
        finally:
            parsed.unpersist()

    query = (
        stream.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


# ------------------------------------------------------------------
# Custom STATEFUL streaming operator: gap-sessionization with
# applyInPandasWithState — the streaming twin of the batch
# ``events_sessions`` query (relational.py), differential-tested to
# row-identical output over the same events.
# ------------------------------------------------------------------

SESSION_OUT_SCHEMA = ("user_id bigint, session_id bigint, "
                      "n_events bigint, total_value double, "
                      "span_sec bigint")
# last_es: epoch-seconds of the last event seen (ts order);
# counter: sessions opened so far; open_*: the OPEN session's
# accumulators (micros = exact decimal(38,6) integer representation,
# matching the batch DECSUM semantics across micro-batch boundaries —
# a float accumulator would drift)
SESSION_STATE_SCHEMA = ("last_es bigint, counter bigint, open_n bigint, "
                        "open_micros bigint, open_min bigint, "
                        "open_max bigint")

_GAP_SEC = 1800


def _value_micros(v: float):
    """double → exact decimal(38,6) micro-units, the same quantization
    Spark's cast(double as decimal(38,6)) applies (shortest repr —
    see relational.DECSUM)."""
    from decimal import Decimal
    return int(Decimal(repr(float(v))).scaleb(6).to_integral_value())


def sessionize_state_func(key, pdf_iter, state):
    """Per-user gap-sessionizer (reference semantics = the batch SQL):
    an event more than 1800 s after the previous one opens a new
    session; emits a row per CLOSED session.  A sentinel event
    (event_id < 0) closes the open session without starting one —
    the stream-end flush, since AvailableNow stops without a
    watermark ever passing the last real event.

    Exactness notes: gap detection runs in (ts, event_id) order (the
    batch LAG's ORDER BY) while session assignment runs in
    (es, event_id) order (the batch window's ORDER BY) — the two can
    disagree only for same-user events sharing a truncated second, so
    micro-batch boundaries must not split a same-(user, es) tie (the
    writer below splits on whole-second boundaries)."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_es, counter, open_n, open_micros, open_min, open_max = \
            state.get
    else:
        last_es, counter = None, 0
        open_n, open_micros, open_min, open_max = 0, 0, None, None

    out = []
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        pdf = pdf.copy()
        pdf["es"] = pdf["ts"].astype("datetime64[us]").astype("int64") \
            // 1_000_000
        # phase 1: is_new flags in (ts, event_id) order — the LAG order
        p1 = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        is_new = {}
        for row in p1.itertuples(index=False):
            new = last_es is None or (row.es - last_es) > _GAP_SEC \
                or row.event_id < 0
            is_new[(row.es, row.event_id)] = new
            last_es = row.es
        # phase 2: assignment/accumulation in (es, event_id) order —
        # the session-window order
        p2 = pdf.sort_values(["es", "event_id"], kind="mergesort")
        for row in p2.itertuples(index=False):
            if is_new[(row.es, row.event_id)]:
                if open_n:
                    out.append((user_id, counter, open_n,
                                float(open_micros) / 1e6,
                                open_max - open_min))
                open_n, open_micros = 0, 0
                open_min, open_max = None, None
                if row.event_id < 0:
                    continue  # sentinel: flush only, no new session
                counter += 1
            open_n += 1
            open_micros += _value_micros(row.value)
            open_min = row.es if open_min is None else min(open_min,
                                                           row.es)
            open_max = row.es if open_max is None else max(open_max,
                                                           row.es)

    state.update((last_es, counter, open_n, open_micros,
                  open_min if open_min is not None else -1,
                  open_max if open_max is not None else -1))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "session_id",
                                         "n_events", "total_value",
                                         "span_sec"])


def stream_sessionize(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, query_name: str):
    """readStream over time-ordered event files → stateful
    sessionization (one micro-batch per file via maxFilesPerTrigger) →
    append-mode memory sink.  Returns the finished query."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir))
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize_state_func, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout)
    q = (sessions.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def stream_dedup_exact(spark: SparkSession, input_dir: str,
                       checkpoint_dir: str, out_dir: str):
    """Streaming INGEST dedup — the cross-micro-batch twin of the
    batch ``dedup_exact`` tier (ops/dedup.py): readStream over
    document files → content digest → ``dropDuplicates`` whose state
    store carries every seen digest across micro-batches, so a
    duplicate arriving hours after its original is still dropped.
    This is the shape a Common-Crawl ingest pipeline runs at the edge:
    dedup-at-arrival instead of a later full-corpus groupBy.

    No watermark on purpose: the batch tier has no retention bound
    either (state = one row per distinct digest; at 10^12 docs the
    state store is RocksDB-backed and sharded by digest hash —
    ``dropDuplicatesWithinWatermark`` is the bounded-retention variant
    when near-in-time dups dominate).  ``Trigger.AvailableNow`` drains
    the backlog then stops, same as stream_extraction.
    Returns the finished query; survivors land in the parquet file
    sink ``out_dir`` (the exactly-once sink that supports restarting
    from ``checkpoint_dir`` — the memory sink does not)."""
    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir))
    survivors = (
        stream.selectExpr("doc_id", "md5(text) AS content_hash")
        .dropDuplicates(["content_hash"])
    )
    q = (survivors.writeStream.format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


# ------------------------------------------------------------------
# Streaming NEAR-dup candidate detection: MinHash/LSH banding with
# cross-micro-batch bucket state — the ingest-time twin of the batch
# ``dedup_lsh_pairs`` tier (ops/dedup.py), same shingle/hash chain
# (4-word shingles; sig_i = min md5("i:"+shingle), 8 sigs; band_b =
# md5(sig_2b || sig_2b+1), 4 bands), so a batch-vs-stream differential
# can demand exact candidate-set equality.
# ------------------------------------------------------------------

DOCS_SCHEMA = ("doc_id bigint, text string, lang string, "
               "source string, n_chars bigint")

LSH_BAND_SCHEMA = "band_no int, band_key string, doc_id bigint"
LSH_PAIR_SCHEMA = "left_id bigint, right_id bigint, band_no int"
LSH_STATE_SCHEMA = "ids array<bigint>"


def _minhash_band_rows(doc_id, text):
    """flat_map_rows body: per document, the 4 LSH band keys — the
    exact Python mirror of ops/dedup's SQL chain (shingle tail
    semantics included: <=4 words collapse to one whole-text
    shingle)."""
    import hashlib

    if text is None:
        return  # the batch twin's posexplode(split(NULL)) yields no
        # shingles either
    words = text.split(" ")
    if len(words) <= 4:
        shingles = [" ".join(words)]
    else:
        shingles = [" ".join(words[i:i + 4])
                    for i in range(len(words) - 3)]
    sigs = [
        min(hashlib.md5(("%d:%s" % (i, s)).encode()).hexdigest()
            for s in shingles)
        for i in range(8)
    ]
    for b in range(4):
        key = hashlib.md5(
            (sigs[2 * b] + sigs[2 * b + 1]).encode()).hexdigest()
        yield b, key, doc_id


def lsh_bucket_state_func(key, pdf_iter, state, bucket_cap=None):
    """Per (band_no, band_key) bucket: state = every doc_id ever seen
    in the bucket; each arriving doc emits a candidate pair with each
    earlier member (and earlier arrivals in the same batch).  A pair
    colliding in k bands is emitted k times — at-least-once per band,
    dedup at consumption, exactly like the batch ``cand`` CTE before
    its DISTINCT.

    ``bucket_cap`` (bound via functools.partial so the value ships
    to executors inside the pickled callable — a module global would
    NOT propagate, module-level functions pickle by reference): the
    streaming form of the batch tier's super-bucket guard
    (ops/dedup._lsh_ctes bucket_cap) — once a bucket holds cap
    members, new arrivals neither emit nor join it, bounding BOTH the
    per-arrival emission (cap pairs) and the state row (cap ids) at
    any corpus size; degenerate-signature buckets otherwise grow
    toward n and turn banding into all-pairs."""
    import pandas as pd

    band_no = int(key[0])
    seen = list(state.get[0]) if state.exists else []
    out = []
    incoming = sorted(
        {int(d) for pdf in pdf_iter for d in pdf["doc_id"]})
    already = set(seen)
    for d in incoming:
        if d in already:
            continue  # re-delivered doc (replay/backfill): already a
            # bucket member — no self-pair, no duplicate state entry
        if bucket_cap is not None and len(seen) >= bucket_cap:
            break  # saturated super-bucket: stop emitting AND growing
        for s in seen:
            lo, hi = (s, d) if s < d else (d, s)
            out.append((lo, hi, band_no))
        seen.append(d)
        already.add(d)
    state.update((seen,))
    yield pd.DataFrame(out,
                       columns=["left_id", "right_id", "band_no"])


def stream_lsh_candidates(spark: SparkSession, input_dir: str,
                          checkpoint_dir: str, out_dir: str,
                          bucket_cap: int = None):
    """readStream over document files → per-doc band keys (stateless
    Arrow pass) → stateful band-bucket join via applyInPandasWithState
    → parquet sink.  Near-duplicates arriving in ANY later micro-batch
    still pair with their original: the bucket membership is state,
    not a per-batch join.  At 10^12 docs the state store shards by
    (band_no, band_key) hash; ``bucket_cap`` is the super-bucket
    guard (see lsh_bucket_state_func) — leave None for exact batch
    equality, set it at scale."""
    import functools
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir))
    banded = flat_map_rows(stream.select("doc_id", "text"),
                           LSH_BAND_SCHEMA, _minhash_band_rows)
    func = functools.partial(lsh_bucket_state_func,
                             bucket_cap=bucket_cap)
    pairs = banded.groupBy("band_no", "band_key").applyInPandasWithState(
        func, LSH_PAIR_SCHEMA, LSH_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout)
    q = (pairs.writeStream.format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


# ------------------------------------------------------------------
# Watermarked windowed aggregation: the streaming twin of the batch
# ``events_hourly_rollup`` tier (relational.q_hourly) — tumbling 1h
# event-time windows with late-data handling.
# ------------------------------------------------------------------

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")

FLUSH_TYPE = "___flush___"   # sentinel event type: a far-future event
                             # appended to the final micro-batch pushes
                             # the watermark past every real window so
                             # append mode flushes them all (same
                             # stream-end-flush trick as sessionize);
                             # its own window stays in state and is
                             # excluded from the output by type


def stream_hourly_rollup(spark: SparkSession, input_dir: str,
                         checkpoint_dir: str, out_dir: str,
                         watermark: str = "24 hours"):
    """Tumbling 1-hour event-time windows per event type over a file
    stream, with a watermark bounding how late an event may arrive:

    * an event within the watermark lands in its (possibly hours-old)
      window, which has NOT yet been finalized — cross-micro-batch
      window state;
    * an event older than the watermark is dropped and its already
      emitted window is never revised (append mode emits each window
      exactly once, when the watermark passes its end) — the
      at-scale retention contract that keeps state finite: without it
      a 10^12-event stream's window state grows unboundedly.

    The aggregate math is copied verbatim from the batch SQL
    (count + decimal-cast sum → double, same order-independence
    guarantee), so a long-watermark run must equal the batch rollup
    row-for-row; a short-watermark run must equal the batch rollup
    over exactly the non-late events — both pinned by tests."""
    from pyspark.sql import functions as F

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir))
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
           .agg(F.count("*").cast("long").alias("events"),
                # verbatim DECSUM(value) — see relational.DECSUM for
                # why scale 6 is the cross-engine-stable choice
                F.expr("cast(sum(cast(value as decimal(38,6))) "
                       "as double)").alias("total_value"))
           .select("event_type",
                   F.floor(F.unix_timestamp(F.col("win.start")) / 3600)
                   .cast("long").alias("hour_bucket"),
                   "events", "total_value"))
    q = (agg.writeStream.format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


# ------------------------------------------------------------------
# Stateful per-URL change detection: the streaming twin of the batch
# ``recrawl_schedule`` diff (ops/crawl.py) — verdicts at ARRIVAL time
# instead of a two-snapshot batch join.
# ------------------------------------------------------------------

SNAP_SCHEMA = "url string, snap_no bigint, digest string"
CHANGE_OUT_SCHEMA = "url string, snap_no bigint, verdict string"
CHANGE_STATE_SCHEMA = "digest string"


def change_detect_state_func(key, pdf_iter, state):
    """Per-url verdict ladder against the remembered content digest:
    no state → 'new'; digest differs → 'changed'; equal →
    'unchanged'.  'gone' is deliberately NOT a streaming verdict —
    absence has no arrival event; liveness sweeps are the batch
    ``recrawl_schedule`` join's job (documented asymmetry).  Rows are
    processed in snap_no order so a url appearing in several queued
    snapshots resolves deterministically."""
    import pandas as pd

    (url,) = key
    last = state.get[0] if state.exists else None
    out = []
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        for row in pdf.sort_values("snap_no",
                                   kind="mergesort").itertuples(False):
            verdict = ("new" if last is None else
                       "changed" if row.digest != last else "unchanged")
            out.append((url, int(row.snap_no), verdict))
            last = row.digest
    state.update((last,))
    if out:
        yield pd.DataFrame(out, columns=["url", "snap_no", "verdict"])


def stream_change_detect(spark: SparkSession, input_dir: str,
                         checkpoint_dir: str, out_dir: str):
    """readStream over snapshot files (one crawl generation per file
    → one micro-batch via maxFilesPerTrigger) → per-url stateful
    change detection → parquet sink (exactly-once, restartable from
    the checkpoint: state carries each url's last digest across
    micro-batches AND across restarts — a snapshot arriving days
    later still diffs against the remembered digest).

    At 10^12 urls the state store is one row per url, RocksDB-backed
    and sharded by url hash (the same partitioning the snapshots
    already carry); each micro-batch shuffles only its own
    generation's rows to their state partitions.  No watermark: url
    state has no retention bound in the batch tier either (eviction
    of dead urls is the batch liveness sweep's output applied as a
    state drop)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (spark.readStream.schema(SNAP_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir))
    verdicts = stream.groupBy("url").applyInPandasWithState(
        change_detect_state_func, CHANGE_OUT_SCHEMA, CHANGE_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout)
    q = (verdicts.writeStream.format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


# ------------------------------------------------------------------
# per-host token-bucket rate limiting — the STREAMING twin of the
# batch politeness_schedule operator (ops/crawl.py)
# ------------------------------------------------------------------

REQ_SCHEMA = "host string, req_no bigint, ts_ms bigint, url string"
RATE_OUT_SCHEMA = ("host string, req_no bigint, url string, "
                   "verdict string, tokens_after bigint")
RATE_STATE_SCHEMA = "tokens bigint, refill_ms bigint"

RATE_CAPACITY = 4       # bucket size = allowed burst
RATE_REFILL_MS = 1000   # one token per second per host


def rate_limit_state_func(key, pdf_iter, state):
    """Per-host token bucket in exact integer arithmetic: a bucket
    starts FULL (capacity {cap}); elapsed time refills whole tokens
    ((ts - last_refill) // {ms} of them, capped at capacity) and the
    refill clock advances by exactly the tokens granted — remainder
    milliseconds are never lost, the standard token-bucket contract.
    A request with ≥ 1 token is 'fetch' (and spends one); otherwise
    'defer'.  Rows are processed in (ts_ms, req_no) order so queued
    micro-batches resolve deterministically; state carries (tokens,
    refill_clock) across micro-batches and restarts."""
    import pandas as pd

    (host,) = key
    if state.exists:
        tokens, refill = state.get
    else:
        tokens, refill = RATE_CAPACITY, None
    out = []
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        for row in pdf.sort_values(["ts_ms", "req_no"],
                                   kind="mergesort").itertuples(False):
            ts = int(row.ts_ms)
            if refill is None:
                refill = ts
            elif ts > refill:
                grant = (ts - refill) // RATE_REFILL_MS
                if tokens + grant >= RATE_CAPACITY:
                    tokens = RATE_CAPACITY
                    refill = ts
                else:
                    tokens += grant
                    refill += grant * RATE_REFILL_MS
            if tokens >= 1:
                tokens -= 1
                verdict = "fetch"
            else:
                verdict = "defer"
            out.append((host, int(row.req_no), row.url, verdict,
                        int(tokens)))
    state.update((int(tokens), int(refill if refill is not None else 0)))
    if out:
        yield pd.DataFrame(out, columns=["host", "req_no", "url",
                                         "verdict", "tokens_after"])


rate_limit_state_func.__doc__ = rate_limit_state_func.__doc__.format(
    cap=RATE_CAPACITY, ms=RATE_REFILL_MS)


def stream_rate_limit(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, out_dir: str):
    """readStream over request-log files (one frontier cycle per file
    → one micro-batch) → per-host stateful token bucket → parquet
    sink.  At 10^12 urls the state store is two integers per HOST
    (~10^7 rows), sharded by the host hash — the same key the fetch
    queues already partition on; each micro-batch shuffles only its
    own cycle's requests.  No watermark: a host's bucket has no
    retention bound (idle hosts refill to capacity and stay)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (spark.readStream.schema(REQ_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir))
    verdicts = stream.groupBy("host").applyInPandasWithState(
        rate_limit_state_func, RATE_OUT_SCHEMA, RATE_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout)
    q = (verdicts.writeStream.format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q
