"""Benchmark harness — one JSON line on stdout.

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]:

* the Arrow fidelity pipeline over a replicated synthesized page corpus
  (PDF/HTML/text payloads — REAL byte-level extraction work), reported
  both as seconds and docs/sec + MB/sec;
* the relational/ops headliners (window segmentation parse, detection,
  LSH dedup, simhash, ANN top-k, sessionization, lineage rollup).

Protocol: one warm-up job first (JIT + worker spin-up excluded), then
each query timed over its full action (count / write-less collect-to-
count), THREE runs per query.  The host is co-tenant with ±50-80%
per-query wobble on single runs (BENCH/BASELINE.md), so per-query
results are reported as {"best", "median", "spread"} (round-4 ask #6)
— the suite "value" is the sum of bests (the steady-state composite;
the spread column is the noise floor a reader should apply).
Output: {"metric", "value" (total sec), "unit", "queries", "sf",
extraction throughput extras, and the amortized-IVF-vs-brute
head-to-head (round-4 ask #7)}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEAT = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "40"))

HEADLINERS = [
    "generic_relational",
    "chase_relational",
    "citi_relational",
    "c1_detect_issuer",
    "g4_block_text",
    "span_neardup",
    "dedup_lsh_verified",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "multimodal_features",
    "extraction_spans",
    "events_sessions",
    "g7_lineage_rollup",
    "quality_score",
]

# the amortized-IVF head-to-head: same 50k corpus, same 2×8-query
# load; ann_brute_big is driver-retired but registered for exactly
# this measurement
ANN_PAIR = ["ann_ivf_amortized", "ann_brute_big"]


def main() -> None:
    from pdf_parser_spark.session import get_spark
    from pdf_parser_spark.pages_source import fixture_pages_df, \
        fixture_pages_rows
    from pdf_parser_spark.pipeline import parse_pages
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py"))
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)

    spark = get_spark(app="bench", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.all_queries()

    def timed3(fn) -> dict:
        # one UNTIMED warm pass first: each query's first execution
        # carries its own codegen/JIT ramp (measured: generic needs
        # ~2 runs to reach steady state), and the protocol's stated
        # goal is steady-state wall with JIT excluded
        fn()
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn()
            runs.append(time.time() - t0)
        s = sorted(runs)
        return {"best": round(s[0], 3), "median": round(s[1], 3),
                "spread": round(s[-1] - s[0], 3)}

    # the host is co-tenant (identical runs vary ±70% across bursts,
    # BENCH/BASELINE.md): give a burst up to 90s to drain before timing
    deadline = time.time() + int(
        os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "90"))
    while os.getloadavg()[0] > 6 and time.time() < deadline:
        time.sleep(5)

    # ---- warm-up: spin python workers + JIT on tiny slices (the
    # measurement protocol in BENCH/BASELINE.md: warm JVM, steady state)
    queries["g4_block_text"](spark, "/root/testdata/sf0.001").count()
    parse_pages(fixture_pages_df(spark, repeat=1)).count()

    timings: dict[str, dict] = {}

    # ---- extraction throughput (the hot path)
    rows = fixture_pages_rows(repeat=REPEAT)
    n_docs = len(rows)
    payload_bytes = sum(
        len(r[2] or b"") + len((r[3] or "").encode("utf-8")) for r in rows
    )
    pages = fixture_pages_df(spark, repeat=REPEAT).persist()
    pages.count()  # materialize input outside the timed window
    n_rows = parse_pages(pages).count()
    timings["fidelity_pipeline"] = timed3(
        lambda: parse_pages(pages).count())
    extract_sec = timings["fidelity_pipeline"]["best"]
    pages.unpersist()

    # ---- relational / ops headliners
    for name in HEADLINERS + ANN_PAIR:
        timings[name] = timed3(
            lambda name=name: queries[name](spark, SF_DIR).count())

    # ---- post-cap text-ops tier: measured separately so the headline
    # suite stays round-over-round comparable (these rows are outside
    # the driver's 50-row contract)
    textops: dict[str, dict] = {}
    for name in ("quality_repetition", "pii_scrub", "decontam_13gram",
                 "quality_sampling", "curation_pipeline",
                 "doc_chunking", "sequence_packing",
                 "link_graph", "host_pagerank", "boilerplate_lines",
                 "bm25_topk", "dedup_substring", "ccnet_ppl_buckets",
                 "c4_clean", "url_host_filter", "bpe_train_merges",
                 "kmv_distinct", "hll_distinct", "bloom_url_seen",
                 "domain_mix_weights", "split_leakage_safe",
                 "semdedup_prune", "dsir_select", "text_normalize",
                 "dedup_incremental", "cms_heavy_hitters",
                 "robots_filter", "anchor_text_topk", "crawl_budget",
                 "tfidf_keywords", "dedup_keep_best", "crawl_frontier",
                 "trustrank_seeds", "hits_scores", "recrawl_schedule",
                 "shard_rendezvous", "phrase_search",
                 # (phrase_serve_persisted itemized below: one-shot
                 # phrase_index_build + steady-state phrase_serve_only)
                 "cocitation_pairs",
                 # session-7 additions (trustrank_seeds/hits_scores
                 # above now time the iterative production twins —
                 # all_queries() serves those as the Spark side)
                 "embed_srp_neardup", "url_trap_filter",
                 "bm25_maxscore", "dedup_containment", "mirror_hosts",
                 "length_quantiles", "robots_wildcard_filter",
                 "quality_classifier", "cdc_chunks", "triangle_counts",
                 "proximity_search",
                 # final-session additions
                 "simhash_hamming", "label_propagation",
                 "politeness_schedule", "quantile_sketch",
                 "bpe_encode", "redirect_resolve", "spell_suggest",
                 "range_partition_plan", "pmi_collocations",
                 "salsa_scores",
                 # round-5 second-session additions
                 "ann_pq_codes", "ann_pq_adc", "feed_ingest",
                 "script_detect", "epoch_shard_plan",
                 "decontam_fuzzy", "intradoc_dedup", "winnow_matches",
                 "dedup_allpairs_prefix",
                 # final-session additions: serve-side snippets,
                 # k-core peeling (iterative twin), outline
                 # extraction, PDF link annotations
                 # (kcore_peel / hyperball_nf unrolled SQL are oracle
                 # machinery — Catalyst CTE inlining re-derives the
                 # edge pipeline 3^rounds / 2^rounds times; the timed
                 # rows are the *_df_production twins below)
                 "search_snippets", "headings_outline",
                 "pdf_link_extract", "pdf_outline_extract",
                 # round-5 continuation-session additions
                 "bigram_lm_score", "rocchio_expand",
                 "host_reputation", "jsonld_extract",
                 # round-5 final-session additions
                 "events_funnel", "events_retention", "kmv_overlap",
                 "zorder_cluster", "hreflang_alternates",
                 "registered_domain", "opengraph_cards",
                 "domain_cap_sample", "amp_canonical_pairs",
                 "content_sniff", "link_spam_score",
                 "minmax_prune_stats", "bitext_mine",
                 "posting_compression", "soft404_detect",
                 "sitemap_gap", "content_drift", "bm25f_fielded",
                 "microdata_extract", "opic_priority",
                 "langseg_spans", "hard_negatives",
                 "template_cluster", "index_partition_plan",
                 "conditional_revalidate", "skipgram_pairs"):
        textops[name] = timed3(
            lambda name=name: queries[name](spark, SF_DIR).count())

    # the unrolled host_pagerank SQL re-derives the edge CTEs once per
    # round (Catalyst inlines CTE references — it exists as the
    # cross-engine oracle twin); the production iterative form is what
    # runs at scale, so measure it too, edges pre-materialized
    from pdf_parser_spark.ops.webgraph import pagerank_df
    edges = queries["link_graph"](spark, SF_DIR).persist()
    edges.count()
    textops["host_pagerank_df_production"] = timed3(
        lambda: pagerank_df(edges).count())
    from pdf_parser_spark.ops.webgraph import kcore_df
    textops["kcore_df_production"] = timed3(
        lambda: kcore_df(spark, edges=edges).count())
    from pdf_parser_spark.ops.webgraph import hyperball_df
    textops["hyperball_df_production"] = timed3(
        lambda: hyperball_df(spark, edges=edges).count())
    from pdf_parser_spark.ops.webgraph import crawl_depth_df
    textops["crawl_depth_df_production"] = timed3(
        lambda: crawl_depth_df(spark, edges=edges).count())
    edges.unpersist()

    # persisted BM25 index amortization: build once, then each served
    # batch reads only matching postings (shard-pruned) — vs the
    # in-plan query re-tokenizing the corpus every time
    import tempfile
    from pdf_parser_spark.ops.retrieval import bm25_serve, text_index_append
    with tempfile.TemporaryDirectory() as idx:
        t0 = time.time()
        text_index_append(spark, idx, spark.table("documents")
                          .select("doc_id", "text"))
        build_sec = round(time.time() - t0, 3)
        serve = timed3(lambda: bm25_serve(spark, idx).count())
    textops["bm25_index_build"] = {"best": build_sec, "median": build_sec,
                                   "spread": 0.0}
    textops["bm25_serve_persisted"] = serve

    # compaction lifecycle, ITEMIZED (round-4 ask #5): the old
    # bm25_serve_compacted row re-ran append+append+compact+vacuum+
    # serve per invocation, so a ~10 s of one-time commit machinery
    # read as a slow query.  Each maintenance stage is a one-shot
    # fixed cost (timed once); the steady-state op — serving from the
    # compacted artifact — is what repeats, so IT gets the best-of-3
    # row under the old name.
    from pyspark.sql import functions as F
    from pdf_parser_spark.ops.retrieval import (
        text_index_compact, text_index_vacuum,
    )
    docs = spark.table("documents").select("doc_id", "text")
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2

    def once(fn):
        t0 = time.time()
        fn()
        s = round(time.time() - t0, 3)
        return {"best": s, "median": s, "spread": 0.0}

    with tempfile.TemporaryDirectory() as croot:
        textops["bm25_lifecycle_append"] = once(lambda: (
            text_index_append(spark, croot,
                              docs.filter(F.col("doc_id") <= mid)),
            text_index_append(spark, croot,
                              docs.filter(F.col("doc_id") > mid))))
        textops["bm25_lifecycle_compact"] = once(
            lambda: text_index_compact(spark, croot))
        textops["bm25_lifecycle_vacuum"] = once(
            lambda: text_index_vacuum(croot))
        textops["bm25_serve_compacted"] = timed3(
            lambda: bm25_serve(spark, croot).count())

    # positional phrase index: same split — the registered
    # phrase_serve_persisted row rebuilds its index per invocation
    # (the correctness contract needs the full lifecycle in one
    # callable), so for the scoreboard the one-shot build is timed
    # once and the steady-state serve best-of-3
    from pdf_parser_spark.ops.retrieval import phrase_serve
    with tempfile.TemporaryDirectory() as proot:
        textops["phrase_index_build"] = once(
            lambda: text_index_append(spark, proot, docs))
        textops["phrase_serve_only"] = timed3(
            lambda: phrase_serve(spark, proot).count())

    # WARC source ingestion: real gzip-member container files → framed
    # records (binaryFile scan + mapInArrow; 32 files = 32 tasks)
    from pdf_parser_spark.warc import read_warc, write_warc_files
    wrows = [(r[0], r[1]) for r in spark.table("documents")
             .select("doc_id", "text").collect()]
    with tempfile.TemporaryDirectory() as wdir:
        write_warc_files(wrows, wdir, n_files=32)
        textops["warc_ingest_read"] = timed3(
            lambda: read_warc(spark, wdir).count())

    total = round(sum(t["best"] for t in timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    ivf, brute = (timings[n] for n in ANN_PAIR)
    extraction = {
        "docs": n_docs,
        "payload_mb": round(payload_bytes / 1e6, 2),
        "output_rows": n_rows,
        "docs_per_sec": round(n_docs / extract_sec, 1),
        "mb_per_sec": round(payload_bytes / 1e6 / extract_sec, 2),
    }
    ivf_pair = {
        "ivf_fit_index_4_batches_sec": ivf["best"],
        "brute_same_128_queries_sec": brute["best"],
        "speedup": round(brute["best"] / ivf["best"], 2)
        if ivf["best"] else None,
    }
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # The full dispersion payload (best/median/spread per query, the
    # whole text-ops tier) goes to a sidecar file: round 4's single
    # stdout JSON line outgrew the driver's tail-capture window and
    # the perf headline was lost ("parsed": null in BENCH_r04.json).
    detail_path = os.path.join(
        REPO, "BENCH",
        os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "bench_detail_r05.json"))
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as fh:
        json.dump({
            "queries_detail": timings,
            "textops": {k: v["best"] for k, v in textops.items()},
            "textops_detail": textops,
            "extraction": extraction,
            "ivf_amortized_vs_brute": ivf_pair,
            "sf": sf_val,
            "cpus": CPUS,
        }, fh, indent=1)

    # stdout: ONE compact line only (driver contract) — value,
    # queries name→sec, extraction throughput, ivf head-to-head
    print(json.dumps({
        "metric": "extraction+relational headline suite wall seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: v["best"] for k, v in timings.items()},
        "sf": sf_val,
        "extraction": extraction,
        "ivf_amortized_vs_brute": ivf_pair,
        "detail_file": os.path.relpath(detail_path, REPO),
        "cpus": CPUS,
    }))


if __name__ == "__main__":
    main()
