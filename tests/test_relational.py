"""Relational-path checks:

1. Spark↔DuckDB oracle parity for a representative query subset
   (the full 25-query sweep runs via tools/check_oracles.py);
2. differential: the relational GenericParser plan must agree with the
   Python engine run over the same derived lines (SURVEY §5.3);
3. driver-contract shape.
"""

import importlib.util
import pathlib

import duckdb
import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_SUBSET = [
    "s3_lines", "g1_block_ids", "g4_block_text", "generic_relational",
    "c1_detect_issuer", "dedup_exact", "dedup_lsh_pairs",
    "dedup_lsh_verified", "span_neardup", "dedup_components",
    "ann_cosine_topk", "ann_ivf_fit", "ann_ivf_topk",
    "ann_ivf_amortized", "validation_join",
    "events_sessions", "quality_score", "doc_fingerprint",
    "url_canonicalize", "quality_repetition", "pii_scrub",
    "decontam_13gram", "quality_sampling", "curation_pipeline",
    "doc_chunking", "sequence_packing",
    "link_graph", "host_pagerank", "boilerplate_lines", "bm25_topk",
    "bm25_serve_persisted", "dedup_substring", "ccnet_ppl_buckets",
    "warc_ingest", "c4_clean", "url_host_filter", "bpe_train_merges",
    "kmv_distinct", "bloom_url_seen", "domain_mix_weights",
    "split_leakage_safe", "semdedup_prune", "dsir_select",
    "hll_distinct", "text_normalize", "dedup_incremental",
    "cms_heavy_hitters",
    "robots_filter", "anchor_text_topk", "crawl_budget",
    "tfidf_keywords", "dedup_keep_best", "crawl_frontier",
    "trustrank_seeds", "hits_scores", "recrawl_schedule",
    "shard_rendezvous", "phrase_search", "bm25_serve_compacted",
    "phrase_serve_persisted", "cocitation_pairs", "embed_srp_neardup",
    "url_trap_filter", "bm25_maxscore", "dedup_containment",
    "mirror_hosts", "length_quantiles", "robots_wildcard_filter",
    "quality_classifier", "cdc_chunks", "triangle_counts",
    "proximity_search", "simhash_hamming", "label_propagation",
    "politeness_schedule", "quantile_sketch", "bpe_encode",
    "redirect_resolve", "spell_suggest", "range_partition_plan",
    "pmi_collocations", "salsa_scores", "ann_pq_codes", "ann_pq_adc",
    "feed_ingest", "sitemap_ingest", "html_meta_extract", "script_detect",
    "epoch_shard_plan", "decontam_fuzzy", "intradoc_dedup",
    "winnow_matches", "dedup_allpairs_prefix", "search_snippets",
    "kcore_peel", "headings_outline", "hyperball_nf", "html_to_markdown",
    "sentence_split", "html_table_extract", "readability_score",
    "bigram_lm_score", "rocchio_expand", "host_reputation",
    "jsonld_extract", "events_funnel", "events_retention",
    "kmv_overlap", "zorder_cluster", "hreflang_alternates",
    "registered_domain", "opengraph_cards", "domain_cap_sample",
    "amp_canonical_pairs", "content_sniff", "link_spam_score",
    "minmax_prune_stats", "bitext_mine", "posting_compression",
    "soft404_detect", "sitemap_gap", "content_drift",
    "crawl_depth", "bm25f_fielded", "microdata_extract",
    "opic_priority", "langseg_spans", "hard_negatives",
    "template_cluster", "index_partition_plan",
    "conditional_revalidate", "skipgram_pairs",
    # parquet-golden-oracled Arrow paths (read_parquet oracles)
    "extraction_metrics", "multimodal_features", "multimodal_frames",
    "extraction_spans", "span_dedup", "pdf_link_extract",
    "pdf_outline_extract", "pdf_form_extract", "pdf_labels_extract",
    "pdf_meta_extract", "pdf_grid_extract",
]


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", REPO / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                % (t, SF_DIR, t))
    return con


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(
            repr(r[i]) if isinstance(r[i], float) else str(r[i])
            for i in order))
    return sorted(out), [cols[i] for i in order]


def _retained(spark):
    """(persistent RDD count, temp views other than the sf tables)."""
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    return (spark.sparkContext._jsc.getPersistentRDDs().size(),
            views - set(TABLES))


@pytest.mark.parametrize("name", _SUBSET)
def test_oracle_parity(spark, duck, entry_mod, name):
    rdds0, views0 = _retained(spark)
    sdf = entry_mod.all_queries()[name](spark, SF_DIR)
    s_rows, s_cols = _norm(sdf.columns, [tuple(r) for r in sdf.collect()])
    rdds1, views1 = _retained(spark)
    dres = duck.sql(entry_mod.all_oracles()[name])
    d_rows, d_cols = _norm(dres.columns, dres.fetchall())
    assert s_cols == d_cols
    assert s_rows == d_rows
    # a query leaves nothing behind in the session but its own output
    assert views1 - views0 == set()
    assert rdds1 - rdds0 <= 1


@pytest.mark.parametrize("name", [
    "bm25_serve_persisted", "bm25_serve_compacted",
    "phrase_serve_persisted", "warc_ingest", "ann_ivf_amortized"])
def test_lifecycle_rows_remove_their_artifacts(spark, entry_mod, tmp_path,
                                               monkeypatch, name):
    """A persisted-lifecycle row writes its index or WARC files under a
    temporary root and removes it before returning; the returned rows
    stay readable without it."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = entry_mod.all_queries()[name](spark, SF_DIR).collect()
    assert rows
    assert not list(tmp_path.glob("pdf_parser_spark_*"))


def test_relational_generic_matches_engine(spark, entry_mod):
    """Differential: relational plan vs Python engine on identical
    derived lines."""
    from pdf_parser_spark.engine.banks import parse_generic
    from pdf_parser_spark.engine.direction import finalize_records

    lines_df = entry_mod.all_queries()["s3_lines"](spark, SF_DIR)
    by_doc = {}
    for r in lines_df.collect():
        by_doc.setdefault(r.doc_id, []).append((r.line_no, r.line))

    expected = {}
    for doc_id, pairs in by_doc.items():
        pairs.sort()
        recs = finalize_records(
            parse_generic([l for _, l in pairs], 2024))
        expected[doc_id] = [
            (i, t["date"], t["description"], repr(t["amount"]),
             t["direction"])
            for i, t in enumerate(recs)
        ]

    got = {}
    rel = entry_mod.queries()["generic_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount),
             r.direction))
    for doc_id in got:
        got[doc_id].sort()

    assert set(got) <= set(expected)
    mismatches = [
        doc_id for doc_id in expected
        if expected[doc_id] != got.get(doc_id, [])
    ]
    assert mismatches == [], mismatches[:5]


def test_driver_contract_shape(entry_mod):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) == set(qs)  # EVERY query is fully oracled
    # the non-SQL paths are oracled against golden-expected parquet
    assert "read_parquet" in oracles["fidelity_pipeline"]
    assert "read_parquet" in oracles["multimodal_features"]
    # EXACTLY the driver's 50-row cap: every distinct component is
    # driver-adjudicated, no sacrificial tail (round-4 ask #3)
    assert len(oracles) == 50
    assert list(qs) == list(oracles)
    # retired rows stay runnable for tests/fuzz via all_queries()
    # (round-5 rotation: dedup_substring/c4_clean moved INTO the 50;
    # ten long-stable showcase rows moved out — see the ROTATION
    # POLICY block in __spark_entry__.py)
    retired = {"s3_lines", "g1_block_ids", "dedup_lsh_pairs",
               "ifb_relational", "pnb_relational", "ann_brute_big",
               "dedup_components", "quality_repetition", "pii_scrub",
               "decontam_13gram", "quality_sampling", "curation_pipeline",
               "doc_chunking", "sequence_packing",
               "link_graph", "host_pagerank", "boilerplate_lines",
               "bm25_topk", "bm25_serve_persisted",
               "ccnet_ppl_buckets", "warc_ingest",
               "url_host_filter", "bpe_train_merges",
               # round-5 rotated OUT
               "d1_amount_lexer", "d2_slash_dates", "d3_d4_d5_dates",
               "d6_first_amount", "d8_clean_description",
               "f_noise_battery", "g4_block_text", "c9_section_window",
               "set_union_except", "dedup_minhash_sigs"}
    assert retired.isdisjoint(qs)
    assert retired < set(entry_mod.all_queries())
    # round-5 rotated IN: never driver-adjudicated before
    promoted = {"embed_srp_neardup", "dedup_substring", "c4_clean",
                "simhash_hamming", "quantile_sketch",
                "redirect_resolve", "trustrank_seeds",
                "label_propagation", "bpe_encode"}
    assert promoted < set(qs)
    # round-5 FINAL rotation: the six final-session additions are in
    # the contract; their six retired stand-ins are out but runnable
    final_in = {"search_snippets", "kcore_peel", "headings_outline",
                "hyperball_nf", "pdf_link_extract",
                "pdf_outline_extract"}
    final_out = {"c1_detect_issuer", "c2_direction_rules",
                 "d13_chase_amount", "c11_wire_fee_multiemit",
                 "ann_ivf_fit", "bm25_maxscore"}
    assert final_in < set(qs)
    assert final_out.isdisjoint(qs)
    assert final_out < set(entry_mod.all_queries())


def test_dedup_components_is_union_find_fixpoint(spark, entry_mod):
    """The unrolled min-label propagation must have converged: its
    labels equal the connected components of a Python union-find over
    the same verified pairs (keeper = a component's min doc_id),
    proving _CC_ROUNDS suffices for this corpus's near-dup cluster
    diameters (the SQL is only exact when converged)."""
    from pdf_parser_spark.ops.dedup import _verified_pairs_ctes

    sql_rows = sorted(
        tuple(r) for r in
        entry_mod.all_queries()["dedup_components"](spark, SF_DIR)
        .collect())
    pairs = spark.sql("WITH %s SELECT left_id, right_id FROM verified"
                      % _verified_pairs_ctes("spark")).collect()

    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = sorted((v, find(v), int(v > find(v))) for v in list(parent))
    assert sql_rows == want
    assert len(want) > 0 and any(dup for _, _, dup in want)


def test_d13_dollar_priority_beats_1e8_bare(spark, entry_mod):
    """Round-4 ask #2 regression pin: chase's $-priority must hold even
    when a bare amount exceeds every $-token by >= $100,000,000.  The
    old SQL encoded priority as max_by(val, val + 1e8), so a
    450,000,000.00 bare token outranked $812.03 — diverging from the
    reference (chase.py:212-215: $-tokens win unconditionally) and the
    engine.  The fixed SQL (coalesce(max FILTER has_dollar, max)) must
    match the engine on every line; the old boosted-max semantics must
    provably diverge on this corpus."""
    from query_registry import QUERY_SQL
    from pdf_parser_spark.engine.banks import (
        _chase_block_amount, _chase_signed, money_tokens,
    )

    text = ("payment $812.03 then 450,000,000.00 arrived today "
            "plus filler words keep the chunker busy here "
            "another $99.10 with 2,500,000,000.00 rider attached now")
    spark.createDataFrame(
        [(0, text, "en", "fuzz", len(text))],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint").createOrReplaceTempView("documents")

    lines = {r.line_no: r.line
             for r in spark.sql(QUERY_SQL["s3_lines"]["spark"]).collect()}
    got = {r.line_no: r.amount
           for r in spark.sql(QUERY_SQL["d13_chase_amount"]["spark"])
           .collect()}

    def old_sql_pick(line):
        # the retired encoding: max_by(val, val + 1e8 boost for $)
        pairs = [(t, _chase_signed(t)) for t in money_tokens(line)]
        pairs = [(t, v) for t, v in pairs if v is not None]
        if not pairs:
            return None
        return max(pairs, key=lambda p:
                   p[1] + 1e8 if "$" in p[0] else p[1])[1]

    diverged = 0
    for line_no, line in lines.items():
        expected = _chase_block_amount([line], line)
        assert got.get(line_no) == expected, (line_no, line)
        if expected is not None and old_sql_pick(line) != expected:
            diverged += 1
    assert diverged > 0, "corpus no longer exercises the >=1e8 trap"


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "tx_index", "date", "description",
                          "amount", "direction"]


def _derived_lines(spark, entry_mod):
    lines_df = entry_mod.all_queries()["s3_lines"](spark, SF_DIR)
    by_doc = {}
    for r in lines_df.collect():
        by_doc.setdefault(r.doc_id, []).append((r.line_no, r.line))
    for pairs in by_doc.values():
        pairs.sort()
    return by_doc


def _tx_tuple(recs):
    return [
        (i, t["date"], t["description"], repr(t["amount"]), t["direction"])
        for i, t in enumerate(recs)
    ]


def test_relational_truist_matches_engine(spark, entry_mod):
    """Differential: truist_relational vs the Python engine over the
    same section-injected lines (every 9th line → a section header,
    mirroring the SQL injection)."""
    from pdf_parser_spark.engine.banks import parse_truist
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import truist_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [truist_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_truist(lines, 2024)))

    got = {}
    rel = entry_mod.all_queries()["truist_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (mismatch[:3],
                            expected.get(mismatch[0]) if mismatch else None,
                            got.get(mismatch[0]) if mismatch else None)


def test_relational_valley_matches_engine(spark, entry_mod):
    """Differential: valley_relational vs the Python engine over the
    same long-line-injected lines (every 23rd line padded past the
    250-char cutoff, mirroring the SQL injection)."""
    from pdf_parser_spark.engine.banks import parse_valley
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import valley_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [valley_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_valley(lines, 2024)))

    got = {}
    rel = entry_mod.queries()["valley_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (mismatch[:3],
                            expected.get(mismatch[0]) if mismatch else None,
                            got.get(mismatch[0]) if mismatch else None)


def test_relational_chase_matches_engine(spark, entry_mod):
    """Differential: chase_relational (the hardest state machine as
    windows+CASE) vs the Python engine over identically-injected
    lines — sections, noise pairs, legal/daily/phone traps included."""
    from pdf_parser_spark.engine.banks import parse_chase
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import chase_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [chase_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_chase(lines, 2024)))

    got = {}
    rel = entry_mod.queries()["chase_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (
        len(mismatch), mismatch[:3],
        expected.get(mismatch[0]) if mismatch else None,
        got.get(mismatch[0]) if mismatch else None)


def test_relational_bofa_matches_engine(spark, entry_mod):
    """Differential: bofa_relational (single-line machine with daily-
    balance skip state + wire-fee multi-emit) vs the Python engine."""
    from pdf_parser_spark.engine.banks import parse_bofa
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import bofa_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [bofa_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_bofa(lines, 2024)))

    got = {}
    rel = entry_mod.queries()["bofa_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (
        len(mismatch), mismatch[:3],
        expected.get(mismatch[0]) if mismatch else None,
        got.get(mismatch[0]) if mismatch else None)


def test_relational_bofa_rel_matches_engine(spark, entry_mod):
    """Differential: bofa_rel_relational (section open/CLOSE state) vs
    the Python engine."""
    from pdf_parser_spark.engine.banks import parse_bofa_relationship
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import rel_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [rel_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_bofa_relationship(lines, 2024)))

    got = {}
    rel = entry_mod.queries()["bofa_rel_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (
        len(mismatch), mismatch[:3],
        expected.get(mismatch[0]) if mismatch else None,
        got.get(mismatch[0]) if mismatch else None)


def test_relational_mercury_matches_engine(spark, entry_mod):
    """Differential: mercury_relational (Mmm-first date priority) vs
    the Python engine on Mmm-injected lines."""
    from pdf_parser_spark.engine.banks import parse_mercury
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import mercury_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [mercury_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_mercury(lines, 2024)))

    got = {}
    rel = entry_mod.all_queries()["mercury_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (
        len(mismatch), mismatch[:3],
        expected.get(mismatch[0]) if mismatch else None,
        got.get(mismatch[0]) if mismatch else None)


def test_relational_wf_matches_engine(spark, entry_mod):
    """Differential: wf_relational (date-fragment-aware amount pick +
    split-segment description cut) vs the Python engine."""
    from pdf_parser_spark.engine.banks import parse_wf
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import wf_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [wf_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_wf(lines, 2024)))

    got = {}
    rel = entry_mod.queries()["wf_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (
        len(mismatch), mismatch[:3],
        expected.get(mismatch[0]) if mismatch else None,
        got.get(mismatch[0]) if mismatch else None)


def test_relational_citi_matches_engine(spark, entry_mod):
    """Differential: citi_relational (checking positional amount/cut +
    savings two-column logic + noise-skip blocks) vs the Python
    engine."""
    from pdf_parser_spark.engine.banks import parse_citi
    from pdf_parser_spark.engine.direction import finalize_records
    from pdf_parser_spark.relational_banks import citi_inject_py

    expected = {}
    for doc_id, pairs in _derived_lines(spark, entry_mod).items():
        lines = [citi_inject_py(doc_id, n, l) for n, l in pairs]
        expected[doc_id] = _tx_tuple(
            finalize_records(parse_citi(lines, 2024)))

    got = {}
    rel = entry_mod.queries()["citi_relational"](spark, SF_DIR)
    for r in rel.collect():
        got.setdefault(r.doc_id, []).append(
            (r.tx_index, r.date, r.description, repr(r.amount), r.direction))
    for rows in got.values():
        rows.sort()
    mismatch = [k for k in expected if expected[k] != got.get(k, [])]
    assert mismatch == [], (
        len(mismatch), mismatch[:3],
        expected.get(mismatch[0]) if mismatch else None,
        got.get(mismatch[0]) if mismatch else None)


def test_pii_scrub_semantics(duck, entry_mod):
    """Independent Python recomputation: every doc_id-keyed injected
    email/phone/SSN is counted and redacted; clean text retains no
    PII-shaped substring (not just engine parity — both engines could
    share a wrong regex)."""
    rows = duck.sql(entry_mod.all_oracles()["pii_scrub"]).fetchall()
    assert len(rows) == 500
    by_id = {r[0]: r for r in rows}
    for doc_id, n_em, n_ph, n_ssn, tot, digest, tail in rows:
        exp_em = 1 if doc_id % 3 == 0 else 0
        exp_ph = 1 if doc_id % 4 in (0, 2) else 0
        exp_ssn = 1 if doc_id % 11 == 0 else 0
        # the word-soup base text is letters-only → injected PII is
        # exactly what the patterns must find
        assert (n_em, n_ph, n_ssn) == (exp_em, exp_ph, exp_ssn), doc_id
        assert tot == exp_em + exp_ph + exp_ssn
        assert "@" not in tail.replace("<EMAIL>", "")
        import re
        assert not re.search(r"\d{3}-\d{2,3}-\d{4}", tail)
    # placeholders actually appear where PII was injected
    assert "<EMAIL>" in by_id[0][6] and "<PHONE>" in by_id[0][6]
    assert "<SSN>" in by_id[0][6]


def test_quality_repetition_semantics(duck, entry_mod):
    """Independent Python recomputation of the Gopher fractions for a
    sample of documents."""
    from collections import Counter
    rows = duck.sql(entry_mod.all_oracles()["quality_repetition"]
                    ).fetchall()
    assert len(rows) == 500
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    checked = 0
    for doc_id, n_tok, top_w, top_g2, dup_g3, keep in rows:
        if doc_id % 37:
            continue
        toks = docs[doc_id].lower().split(" ")
        assert n_tok == len(toks)
        wc = Counter(toks)
        assert abs(top_w - wc.most_common(1)[0][1] / len(toks)) < 1e-12
        g2 = Counter(" ".join(toks[i:i + 2])
                     for i in range(max(len(toks) - 1, 1)))
        assert abs(top_g2 - g2.most_common(1)[0][1]
                   / sum(g2.values())) < 1e-12
        g3 = [" ".join(toks[i:i + 3])
              for i in range(max(len(toks) - 2, 1))]
        exp_dup = (len(g3) - len(set(g3))) / len(g3)
        assert abs(dup_g3 - exp_dup) < 1e-12
        exp_keep = int(top_w <= 0.20
                       and top_g2 / 1.0 <= 0.18 and exp_dup <= 0.30)
        # recompute keep from the SQL's own (identical) fractions
        assert keep == exp_keep
        checked += 1
    assert checked >= 10


def test_decontam_13gram_semantics(duck, entry_mod):
    """Independent Python ground truth: recompute the 13-gram overlap
    screen from raw text (injections AND any natural train/eval
    near-duplicates the corpus construction produced) and require the
    SQL's flags to match exactly."""
    rows = duck.sql(entry_mod.all_oracles()["decontam_13gram"]).fetchall()
    assert len(rows) == 490  # 500 docs minus 10 eval rows
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())

    def grams(words):
        return set(" ".join(words[i:i + 13])
                   for i in range(len(words) - 12))

    ev_ids = [i for i in range(7, 500, 50) if len(docs[i].split(" ")) >= 13]
    ev_grams = set().union(*(grams(docs[i].split(" ")) for i in ev_ids))
    flagged = naturals = 0
    for doc_id, n_hits, flag in rows:
        words = docs[doc_id].split(" ")
        if doc_id % 17 == 3 and (7 + 50 * (doc_id % 10)) in ev_ids:
            words = words + docs[7 + 50 * (doc_id % 10)].split(" ")[:13]
        exp = len(grams(words) & ev_grams)
        assert (n_hits, flag) == (exp, int(exp > 0)), doc_id
        flagged += flag
        if flag and doc_id % 17 != 3:
            naturals += 1
    assert flagged >= 25        # the injected tier is found
    assert naturals >= 1        # the natural near-dup tier is found


def test_quality_sampling_semantics(duck, entry_mod):
    """Independent Python recomputation: strata assignment, the
    md5-keyed deterministic die, per-stratum keep rates, and the exact
    kept-set digest."""
    import hashlib
    import re as _re
    rows = duck.sql(entry_mod.all_oracles()["quality_sampling"]).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    strata, kept = {}, {}
    for doc_id, text in docs.items():
        n_tok = len(_re.findall(r"\S+", text))
        n_stop = len(_re.findall(r"\b(?:the|a|and|of|to|in|is)\b",
                                 text.lower()))
        if n_tok == 0:
            continue
        st = ("high" if n_tok >= 64 or n_stop * 4 >= n_tok
              else "mid" if n_tok >= 32 else "low")
        die = int(hashlib.md5(
            ("mix1:%d" % doc_id).encode()).hexdigest()[:15], 16) % 1000
        keep = (st == "high" or (st == "mid" and die < 400)
                or (st == "low" and die < 100))
        strata.setdefault(st, []).append(doc_id)
        if keep:
            kept.setdefault(st, []).append(doc_id)
    assert {r[0] for r in rows} == {"high", "mid", "low"}
    for st, n_docs, n_kept, first_kept, digest in rows:
        assert n_docs == len(strata[st])
        assert n_kept == len(kept.get(st, []))
        if not kept.get(st):
            # LEFT JOIN keeps the funnel row for an empty kept-set
            assert (first_kept, digest) == (None, None)
            continue
        assert first_kept == min(kept[st])
        exp = hashlib.md5(",".join(
            str(i) for i in sorted(kept[st])).encode()).hexdigest()
        assert digest == exp, st


def test_curation_pipeline_semantics(duck, entry_mod):
    """Independent Python recomputation of the full curation funnel
    (quality gate → exact dedup keeper → stratified sampling) and the
    final kept-set digest."""
    import hashlib
    import re as _re
    row = duck.sql(entry_mod.all_oracles()["curation_pipeline"]).fetchall()
    assert len(row) == 1
    n_ing, n_q, n_uniq, n_final, digest = row[0]
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    corpus = dict(docs)
    corpus.update({k + 1000000: v for k, v in docs.items() if k % 5 == 0})
    assert n_ing == len(corpus)

    seen, final = {}, []
    qpass = upass = 0
    for doc_id in sorted(corpus):
        text = corpus[doc_id]
        n_tok = len(_re.findall(r"\S+", text))
        n_stop = len(_re.findall(r"\b(?:the|a|and|of|to|in|is)\b",
                                 text.lower()))
        if n_tok < 24:
            continue
        qpass += 1
        h = hashlib.md5(text.encode()).hexdigest()
        if h in seen:
            continue
        seen[h] = doc_id
        upass += 1
        die = int(hashlib.md5(("mix1:%d" % doc_id).encode())
                  .hexdigest()[:15], 16) % 1000
        if (n_tok >= 64 or n_stop * 4 >= n_tok
                or (n_tok >= 32 and die < 400)
                or (n_tok < 32 and die < 100)):
            final.append(doc_id)
    assert (n_q, n_uniq, n_final) == (qpass, upass, len(final))
    fin = set(final)
    joined = ",".join(str(i) if i in fin else ""
                      for i in sorted(corpus))
    assert digest == hashlib.md5(joined.encode()).hexdigest()
    assert 0 < n_final < n_uniq < n_q < n_ing  # every stage attrits


def test_doc_chunking_semantics(duck, entry_mod):
    """Independent Python recomputation: overlapping 32/8 token
    windows every 24 tokens, tail chunks short-but-nonempty, digest
    over the exact window text."""
    import hashlib
    rows = duck.sql(entry_mod.all_oracles()["doc_chunking"]).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    got = {(r[0], r[1]): (r[2], r[3]) for r in rows}
    want = {}
    for doc_id, text in docs.items():
        words = text.split(" ")
        # a window at every stride start below n (standard sliding
        # window: the stride marches to the end, tail truncated)
        c = 0
        while c * 24 < len(words) or c == 0:
            win = words[c * 24:c * 24 + 32]
            want[(doc_id, c)] = (
                len(win),
                hashlib.md5(" ".join(win).encode()).hexdigest())
            c += 1
    assert got == want
    assert any(c > 0 for _, c in got)            # multi-chunk docs exist
    assert any(n < 32 for n, _ in got.values())  # short tails exist


def test_sequence_packing_semantics(duck, entry_mod):
    """Independent Python recomputation of the concat-and-cut layout:
    offsets are the doc_id-ordered token cumsum; first/last sequence
    from 512-token cuts; spans over boundaries exist."""
    rows = duck.sql(
        entry_mod.all_oracles()["sequence_packing"]).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents"
                         " ORDER BY doc_id").fetchall())
    off = 0
    want = {}
    for doc_id in sorted(docs):
        # split-by-space: the SAME token universe doc_chunking windows
        n = len(docs[doc_id].split(" "))
        if n > 0:
            want[doc_id] = (n, off, off // 512, (off + n - 1) // 512,
                            (off + n - 1) // 512 - off // 512 + 1)
        off += n
    got = {r[0]: tuple(r[1:]) for r in rows}
    assert got == want
    assert any(v[4] > 1 for v in want.values())  # boundary-spanning docs


def _py_webgraph_edges(doc_ids):
    """Independent Python derivation of the in-plan link graph (must
    mirror ops/webgraph._edges_ctes by SPEC, not by shared code)."""
    from collections import Counter
    edges = Counter()
    for i in doc_ids:
        src = "h%d.example" % (i % 40)
        dsts = ["h%d.example" % ((i * 7 + 1) % 40),
                "h%d.example" % ((i * 13 + 3) % 40),
                "h0.example"]
        if i % 10 == 0:
            dsts.append("sink%d.example" % (0 if i % 20 == 0 else 1))
        for dst in dsts:
            if dst != src:
                edges[(src, dst)] += 1
    return edges


def test_link_graph_semantics(duck, entry_mod):
    """Independent Python recomputation: anchor extraction drops
    mailto/fragment links, lowercases hosts, drops self-links, and
    aggregates per (src, dst)."""
    rows = duck.sql(entry_mod.all_oracles()["link_graph"]).fetchall()
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    want = _py_webgraph_edges(doc_ids)
    got = {(r[0], r[1]): r[2] for r in rows}
    assert got == dict(want)
    # the dangling sinks exist and the hub is power-law
    assert any(k[1].startswith("sink") for k in got)
    hub_in = sum(v for (s, t), v in got.items() if t == "h0.example")
    assert hub_in > len(doc_ids) // 2


def test_host_pagerank_semantics(duck, entry_mod):
    """Independent Python integer PageRank (floor-division spec from
    the module docstring) over independently derived edges — catches a
    shared-wrong SQL in both engines."""
    rows = duck.sql(entry_mod.all_oracles()["host_pagerank"]).fetchall()
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    edges = _py_webgraph_edges(doc_ids)
    nodes = sorted({h for e in edges for h in e})
    n = len(nodes)
    outw = {}
    for (s, t), w in edges.items():
        outw[s] = outw.get(s, 0) + w
    r = {h: 10 ** 9 // n for h in nodes}
    for _ in range(3):
        contrib = {h: 0 for h in nodes}
        for (s, t), w in edges.items():
            contrib[t] += r[s] * w * 85 // (outw[s] * 100)
        dm = sum(r[h] for h in nodes if h not in outw)
        base = 150000000 // n + dm * 85 // (n * 100)
        r = {h: base + contrib[h] for h in nodes}
    got = {h: v for h, v in rows}
    assert got == r
    # mass is conserved up to floor truncation, hub dominates
    assert 0 < 10 ** 9 - sum(r.values()) < 10 ** 6
    assert max(r, key=r.get) == "h0.example"


def test_pagerank_df_matches_sql(spark, entry_mod):
    """The production iterative form (per-round persisted DataFrames,
    1-row dangling-mass broadcast, no driver collect in the loop) is
    row-identical to the unrolled-SQL oracle twin."""
    from pdf_parser_spark.ops.webgraph import pagerank_df

    import query_registry

    edges = entry_mod.all_queries()["link_graph"](spark, SF_DIR)
    got = sorted((r.host, r.rank_ppb) for r in pagerank_df(edges).collect())
    # pin against the UNROLLED SQL explicitly (round-6 promotion makes
    # all_queries() serve the production twin for this name)
    exp = sorted((r.host, r.rank_ppb) for r in spark.sql(
        query_registry.QUERY_SQL["host_pagerank"]["spark"]).collect())
    assert got == exp


def test_boilerplate_lines_semantics(duck, entry_mod):
    """Independent Python recomputation of the CCNet line dedup:
    synthesize every doc's lines, apply the per-host majority rule,
    and require exact counts + kept-line digests."""
    import hashlib
    from collections import defaultdict

    rows = duck.sql(
        entry_mod.all_oracles()["boilerplate_lines"]).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())

    def lines_of(doc_id):
        host = "h%d.example" % (doc_id % 40)
        words = docs[doc_id].split(" ")
        out = [(0, "Welcome to " + host), (1, "Menu Home About Contact")]
        for seg in range((len(words) + 7) // 8):
            out.append((10 + seg, " ".join(words[seg * 8:seg * 8 + 8])))
        if doc_id % 3 != 0:
            out.append((1000000, "Subscribe to our newsletter"))
        else:
            out.append((1000001, "Promo of the day"))
        out.append((1000002, "Copyright " + host))
        return host, out

    host_docs = defaultdict(set)
    line_docs = defaultdict(set)
    per_doc = {}
    for doc_id in docs:
        host, ls = lines_of(doc_id)
        per_doc[doc_id] = (host, ls)
        host_docs[host].add(doc_id)
        for _, line in ls:
            line_docs[(host, line)].add(doc_id)

    want = {}
    for doc_id, (host, ls) in per_doc.items():
        kept = [(no, l) for no, l in ls
                if 2 * len(line_docs[(host, l)]) <= len(host_docs[host])]
        cat = "".join(hashlib.md5(l.encode()).hexdigest()
                      for _, l in sorted(kept)) or "EMPTY"
        want[doc_id] = (host, len(ls), len(kept),
                        hashlib.md5(cat.encode()).hexdigest())
    got = {r[0]: tuple(r[1:]) for r in rows}
    assert got == want
    # the designed tiers behave: chrome dropped, promo (1/3 tier) kept
    d0 = per_doc[0]
    assert got[0][2] < got[0][1]                    # something dropped
    assert any(l == "Promo of the day" and
               2 * len(line_docs[(d0[0], l)]) <= len(host_docs[d0[0]])
               for _, l in d0[1])


def test_bm25_topk_semantics(duck, entry_mod):
    """Independent Python recomputation of the integer-exact BM25
    surrogate and the per-query top-10 (ties by doc_id)."""
    from collections import Counter, defaultdict

    rows = duck.sql(entry_mod.all_oracles()["bm25_topk"]).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    toks = {i: t.split(" ") for i, t in docs.items()}
    dl = {i: len(w) for i, w in toks.items()}
    N, S = len(docs), sum(dl.values())
    queries = {0: ["spark", "join"], 1: ["dup"],
               2: ["window", "stream", "filter"],
               3: ["hash", "merge"], 4: ["zzzabsent"]}
    tf = {i: Counter(w) for i, w in toks.items()}
    want = []
    for qid, terms in queries.items():
        scores = defaultdict(int)
        for t in terms:
            df = sum(1 for i in docs if tf[i][t] > 0)
            if df == 0:
                continue
            idf = (N - df) * 1000 // (df + 1)
            for i in docs:
                if tf[i][t] > 0:
                    scores[i] += (idf * tf[i][t] * 22 * S
                                  // (10 * S * tf[i][t] + 3 * S
                                      + 9 * dl[i] * N))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rk, (i, sc) in enumerate(ranked[:10], 1):
            want.append((qid, i, sc, rk))
    assert sorted(rows) == sorted(want)
    # absent-term query yields no rows; rare-term query ranks by tf
    assert not any(r[0] == 4 for r in rows)
    assert len([r for r in rows if r[0] == 1]) == 10


def test_search_snippets_semantics(duck, entry_mod):
    """Independent Python recomputation of snippet selection: for each
    top-3 BM25 hit, the 8-token window anchored at a term hit covering
    the most distinct query terms (ties: more total hits, earliest),
    rendered with '**'-highlighted matches."""
    from collections import Counter, defaultdict

    rows = duck.sql(entry_mod.all_oracles()["search_snippets"]).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    toks = {i: t.split(" ") for i, t in docs.items()}
    dl = {i: len(w) for i, w in toks.items()}
    N, S = len(docs), sum(dl.values())
    queries = {0: ["spark", "join"], 1: ["dup"],
               2: ["window", "stream", "filter"],
               3: ["hash", "merge"], 4: ["zzzabsent"]}
    tf = {i: Counter(w) for i, w in toks.items()}
    want = []
    for qid, terms in queries.items():
        scores = defaultdict(int)
        for t in terms:
            df = sum(1 for i in docs if tf[i][t] > 0)
            if df == 0:
                continue
            idf = (N - df) * 1000 // (df + 1)
            for i in docs:
                if tf[i][t] > 0:
                    scores[i] += (idf * tf[i][t] * 22 * S
                                  // (10 * S * tf[i][t] + 3 * S
                                      + 9 * dl[i] * N))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rk, (i, _) in enumerate(ranked[:3], 1):
            ws = toks[i]
            hitpos = [p for p, w in enumerate(ws) if w in terms]
            cands = []
            for p in hitpos:
                inwin = [ws[j] for j in hitpos if p <= j < p + 8]
                cands.append((-len(set(inwin)), -len(inwin), p))
            nt, _, start = min(cands)
            snippet = " ".join(
                "**%s**" % w if w in terms else w
                for w in ws[start:start + 8])
            want.append((qid, i, rk, start, -nt, snippet))
    assert sorted(rows) == sorted(want)
    assert not any(r[0] == 4 for r in rows)       # absent term: no rows
    # multi-term query 2 found a window with >1 distinct term somewhere
    assert any(r[0] == 2 and r[4] >= 2 for r in rows) or \
        all(r[4] == 1 for r in rows if r[0] == 2)


def test_text_index_incremental_append_and_serve(spark, entry_mod, duck,
                                                 tmp_path):
    """The persisted BM25 index's additive contract: build on part of
    the corpus, append the rest WITHOUT rebuilding, and the served
    top-k equals the in-plan bm25_topk over exactly the ingested docs
    at BOTH points — BM25's sufficient statistics are exactly
    additive, so ingest is append-only (no refit, no read-modify-
    write)."""
    from pdf_parser_spark.ops.retrieval import (
        bm25_serve, text_index_append,
    )

    entry_mod.all_queries()["s3_lines"]  # force module import side
    root = str(tmp_path / "bm25_index")
    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")

    def inplan_over(pred):
        duck.sql("CREATE OR REPLACE VIEW documents AS "
                 "SELECT * FROM '%s/documents.parquet' WHERE %s"
                 % (SF_DIR, pred))
        try:
            return sorted(duck.sql(
                entry_mod.all_oracles()["bm25_topk"]).fetchall())
        finally:
            duck.sql("CREATE OR REPLACE VIEW documents AS "
                     "SELECT * FROM '%s/documents.parquet'" % SF_DIR)

    text_index_append(spark, root, docs.filter("doc_id < 400"))
    got_partial = sorted(tuple(r) for r in
                         bm25_serve(spark, root).collect())
    assert got_partial == inplan_over("doc_id < 400")

    text_index_append(spark, root, docs.filter("doc_id >= 400"))
    got_full = sorted(tuple(r) for r in
                      bm25_serve(spark, root).collect())
    assert got_full == inplan_over("TRUE")
    assert got_full != got_partial   # the append actually changed ranks


def test_bm25_serve_plan_reads_index_only(spark, tmp_path):
    """Scale gate for the serve path: the plan scans the persisted
    index with shard partition-pruning and broadcasts the query-term
    side — and never rescans the corpus (that is the whole point of
    building the index)."""
    from pdf_parser_spark.ops.retrieval import bm25_serve, text_index_append

    root = str(tmp_path / "bm25_index")
    text_index_append(spark, root, spark.read.parquet(
        SF_DIR + "/documents.parquet").select("doc_id", "text"))
    serve = bm25_serve(spark, root)
    plan = serve._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan
    assert "PartitionFilters" in plan and "shard" in plan
    assert "BroadcastHashJoin" in plan


def test_dedup_substring_semantics(duck, entry_mod):
    """Full independent Python recomputation of exact-substring dedup:
    rebuild the injected corpus, count every 8-gram's corpus
    occurrences, derive coverage/islands/clean text per doc, and
    require exact equality — including the corpus's own planted
    jitter-twin runs (docs sharing long natural substrings)."""
    from collections import Counter

    from pdf_parser_spark.ops.dedup import _SUB_BOILER

    rows = duck.sql(entry_mod.all_oracles()["dedup_substring"]).fetchall()
    assert len(rows) == 500
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    K = 8
    corpus = {}
    for i, t in docs.items():
        b = _SUB_BOILER[i % 3]
        if i % 13 == 5:
            t = t + " " + b + " " + b
        elif i % 13 == 6:
            t = t + " " + b
        corpus[i] = t.split(" ")
    cnt = Counter()
    for words in corpus.values():
        for i in range(len(words) - K + 1):
            cnt[" ".join(words[i:i + K])] += 1
    injected = natural = 0
    for doc_id, n_spans, removed, kept, clean in rows:
        words = corpus[doc_id]
        covered = [False] * len(words)
        for i in range(len(words) - K + 1):
            if cnt[" ".join(words[i:i + K])] > 1:
                for j in range(i, i + K):
                    covered[j] = True
        exp_spans = sum(1 for i, c in enumerate(covered)
                        if c and (i == 0 or not covered[i - 1]))
        exp_clean = " ".join(w for w, c in zip(words, covered) if not c)
        assert (n_spans, removed, kept, clean) == (
            exp_spans, sum(covered), len(words) - sum(covered),
            exp_clean), doc_id
        if removed and doc_id % 13 in (5, 6):
            injected += 1
        elif removed:
            natural += 1
    assert injected >= 70   # every boilerplate carrier is trimmed
    assert natural >= 2     # the planted near-dup families are found


def test_ccnet_ppl_buckets_semantics(duck, entry_mod):
    """Independent Python recomputation of the CCNet tercile split:
    unigram counts, the rational information surrogate, per-doc means,
    and the per-language ntile(3) assignment (extras to the first
    groups, ties broken by doc_id)."""
    from collections import Counter

    rows = duck.sql(entry_mod.all_oracles()["ccnet_ppl_buckets"]).fetchall()
    docs = duck.sql("SELECT doc_id, lang, text FROM documents").fetchall()
    assert len(rows) == len(docs) == 500
    tf = Counter()
    for _, _, t in docs:
        tf.update(t.split(" "))
    nt = sum(tf.values())
    exp = {}
    for doc_id, lang, t in docs:
        toks = t.split(" ")
        info = sum((nt * 1000) // tf[w] for w in toks)
        exp[doc_id] = (lang, len(toks), info // len(toks))
    by_lang = {}
    for doc_id, (lang, _, ppl) in exp.items():
        by_lang.setdefault(lang, []).append((ppl, doc_id))
    tercile = {}
    for lang, lst in by_lang.items():
        lst.sort()
        base, extra = divmod(len(lst), 3)
        i = 0
        for t_ix in (1, 2, 3):
            for _ in range(base + (1 if t_ix <= extra else 0)):
                tercile[lst[i][1]] = t_ix
                i += 1
    for doc_id, lang, n_tokens, ppl, t_ix, bucket in rows:
        assert (lang, n_tokens, ppl) == exp[doc_id], doc_id
        assert t_ix == tercile[doc_id], doc_id
        assert bucket == {1: "head", 2: "middle", 3: "tail"}[t_ix]


def test_c4_clean_semantics(duck, entry_mod):
    """Independent Python recomputation of the full C4 battery: page
    synthesis, every line rule, the page verdict with its precedence,
    and the ordered kept-digest."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["c4_clean"]).fetchall()
    assert len(rows) == 500
    docs = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    for doc_id, n_lines, n_kept, digest, page_kept, reason in rows:
        toks = docs[doc_id].split(" ")
        lines = [(0, "Read more"),
                 (1, "Click here to subscribe to our newsletter today")]
        if doc_id % 4 == 1:
            lines.append(
                (2, "Please enable javascript to view this page "
                    "properly."))
        if doc_id % 37 == 3:
            lines.append(
                (3, "Lorem ipsum dolor sit amet consectetur "
                    "adipiscing elit."))
        if doc_id % 41 == 5:
            lines.append((4, "var config = { mode: production };"))
        for seg in range(0, len(toks), 8):
            lines.append((10 + seg // 8,
                          " ".join(toks[seg:seg + 8]) + "."))
        lines.sort()

        def kept(line):
            lo = line.lower()
            return (line[-1] in '.!?"' and
                    len([w for w in line.split() if w]) >= 5 and
                    "javascript" not in lo and "lorem ipsum" not in lo
                    and "{" not in line)

        kept_lines = [ln for _, ln in lines if kept(ln)]
        assert n_lines == len(lines), doc_id
        assert n_kept == len(kept_lines), doc_id
        cat = "".join(hashlib.md5(ln.encode()).hexdigest()
                      for ln in kept_lines) or "EMPTY"
        assert digest == hashlib.md5(cat.encode()).hexdigest(), doc_id
        lorem = any("lorem ipsum" in ln.lower() for _, ln in lines)
        brace = any("{" in ln for _, ln in lines)
        exp_reason = ("lorem_ipsum" if lorem else
                      "brace" if brace else
                      "few_sentences" if len(kept_lines) < 3 else "kept")
        assert reason == exp_reason, doc_id
        assert page_kept == int(exp_reason == "kept"), doc_id


def test_url_host_filter_semantics(duck, entry_mod):
    """Independent Python recomputation: the messy-url generator, full
    canonicalization, keyword injection, suffix-chain blocklist match,
    and the verdict precedence."""
    rows = duck.sql(entry_mod.all_oracles()["url_host_filter"]).fetchall()
    assert len(rows) == 500
    blocklist = {"example7.com", "site3.org", "host11.net", "plain9.com"}
    hit = {"blocked_host": 0, "keyword": 0, "kept": 0}
    for doc_id, host, url, is_kept, reason in rows:
        m = doc_id % 4
        if m == 0:
            exp_host = "example%d.com" % (doc_id % 50)
            exp_url = "http://%s/Path/%d?id=%d" % (
                exp_host, doc_id, doc_id)
        elif m == 1:
            exp_host = "www.site%d.org" % (doc_id % 50)
            exp_url = "https://%s/a//b/%d" % (exp_host, doc_id)
        elif m == 2:
            exp_host = "cdn.host%d.net" % (doc_id % 50)
            exp_url = "https://%s/x?q=%d&keep=1" % (exp_host, doc_id)
        else:
            exp_host = "plain%d.com" % (doc_id % 50)
            exp_url = "http://%s/" % exp_host
        if doc_id % 11 == 4:
            exp_url += "/casino/promo"
        assert (host, url) == (exp_host, exp_url), doc_id
        labels = exp_host.split(".")
        suffixes = {".".join(labels[i:]) for i in range(len(labels))}
        exp_reason = ("blocked_host" if suffixes & blocklist else
                      "keyword" if "casino" in exp_url.lower() else
                      "kept")
        assert reason == exp_reason, doc_id
        assert is_kept == int(exp_reason == "kept"), doc_id
        hit[reason] += 1
    assert min(hit.values()) >= 5   # every branch genuinely exercised


def test_text_index_uncommitted_append_is_invisible(spark, entry_mod,
                                                    tmp_path):
    """The manifest commit is the visibility point: a crashed append
    (all data written, no manifest) must change NOTHING a serve sees;
    publishing the manifest afterwards makes exactly that data
    appear.  This is what makes a mid-append failure or a retry under
    a fresh append_id safe (no partial-stats scoring, no
    double-counting)."""
    from pdf_parser_spark.ops.retrieval import (
        _append_data, _commit, bm25_serve, text_index_append,
    )

    root = str(tmp_path / "bm25_index_vis")
    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")
    text_index_append(spark, root, docs.filter("doc_id < 400"))
    before = sorted(tuple(r) for r in bm25_serve(spark, root).collect())

    # simulated crash: the second append writes everything but dies
    # before its manifest lands
    _append_data(spark, root, docs.filter("doc_id >= 400"), "deadbeef")
    mid = sorted(tuple(r) for r in bm25_serve(spark, root).collect())
    assert mid == before

    _commit(root, "deadbeef")
    after = sorted(tuple(r) for r in bm25_serve(spark, root).collect())
    assert after != before


def test_bpe_train_merges_semantics(duck, entry_mod):
    """Full independent Python BPE recomputation: word-frequency
    vocab, overlap-counted weighted pairs, the (count DESC, left ASC,
    right ASC) argmax, and the canonical left-to-right non-overlapping
    merge application — every round must match exactly."""
    from collections import Counter

    rows = duck.sql(entry_mod.all_oracles()["bpe_train_merges"]).fetchall()
    assert len(rows) == 4
    texts = [t for (t,) in
             duck.sql("SELECT text FROM documents").fetchall()]
    vocab = Counter(w for t in texts for w in t.split(" ") if w)
    syms = {w: list(w) for w in vocab}
    for rnd, a, b, merged, cnt in rows:
        pairs = Counter()
        for w, c in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        best_pair, best_cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        assert (a, b, merged, cnt) == (
            best_pair[0], best_pair[1],
            best_pair[0] + best_pair[1], best_cnt), rnd
        for w in syms:                       # apply the merge
            s, out, i = syms[w], [], 0
            while i < len(s):
                if (i + 1 < len(s) and s[i] == a and s[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out


def test_bpe_train_df_matches_sql(spark, entry_mod):
    """The production iterative trainer (per-round persisted
    DataFrames, 1-row argmax collected per round) must be
    row-identical to the unrolled-SQL oracle twin."""
    from pdf_parser_spark.ops.bpe import bpe_train_df

    import query_registry

    # pin against the UNROLLED SQL explicitly (round-6 promotion makes
    # all_queries() serve the production twin for this name)
    entry_mod._register(spark, SF_DIR)
    sql_rows = sorted(
        tuple(r) for r in
        spark.sql(query_registry.QUERY_SQL["bpe_train_merges"]["spark"])
        .collect())
    df_rows = sorted(tuple(r) for r in bpe_train_df(spark).collect())
    assert df_rows == sql_rows
    assert len(df_rows) == 4


def _py_visits(duck):
    """Python twin of sketches._visits_cte."""
    rows = duck.sql("SELECT doc_id FROM documents").fetchall()
    return [(did, "h%d" % (did % 8),
             "https://h%d.example/p%d" % (did % 8, (did * 7919) % 97))
            for (did,) in rows]


def _h60(s):
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_kmv_distinct_semantics(duck, entry_mod):
    """Independent Python recomputation of the KMV estimator: per
    host, hash the distinct urls, take the 16th smallest, apply
    (k-1)·2^60 / h_k, floor — must equal the SQL to the integer."""
    rows = duck.sql(entry_mod.all_oracles()["kmv_distinct"]).fetchall()
    assert len(rows) == 8
    visits = _py_visits(duck)
    by_host = {}
    for _, host, url in visits:
        by_host.setdefault(host, set()).add(url)
    for host, exact, est, err in rows:
        urls = by_host[host]
        assert exact == len(urls)
        hs = sorted(_h60(u) for u in urls)
        if len(hs) >= 16:
            exp = int((15.0 * 1152921504606846976.0) / hs[15])
        else:
            exp = len(urls)
        assert est == exp, host
        assert abs(err - 100.0 * abs(est - exact) / exact) < 1e-9
    # the sketch must actually be estimating, not copying: at least
    # one host's estimate differs from exact (k=16 << ~60 distinct)
    assert any(r[1] != r[2] for r in rows)


def test_bloom_url_seen_semantics(duck, entry_mod):
    """Independent Python Bloom filter (same geometry: 1024 bits, 32
    32-bit words, 3 md5 hashes) rebuilt from scratch; per-url verdicts
    must match exactly, the one-sided-error contract must hold, and
    all three verdict classes must be exercised."""
    rows = duck.sql(entry_mod.all_oracles()["bloom_url_seen"]).fetchall()
    visits = _py_visits(duck)
    seen = {u for did, _, u in visits if did % 2 == 0}
    frontier = {u for _, _, u in visits} | {
        "https://h%d.example/p%d" % (did % 8, 1000 + did % 50)
        for did, _, _ in visits if did % 3 == 0}
    assert len(rows) == len(frontier)

    def positions(url):
        return [_h60("%d|%s" % (j, url)) % 1024 for j in range(3)]

    words = [0] * 32
    for u in seen:
        for p in positions(u):
            words[p // 32] |= 1 << (p % 32)
    verdicts = {}
    for u in frontier:
        maybe = all(words[p // 32] & (1 << (p % 32)) for p in positions(u))
        verdicts[u] = ("false_positive" if maybe and u not in seen
                       else "hit" if maybe else "novel")
    got = {r[0]: (r[1], r[2], r[3]) for r in rows}
    for u in frontier:
        t, m, v = got[u]
        assert t == (1 if u in seen else 0), u
        assert v == verdicts[u], u
        assert m == (0 if v == "novel" else 1)
        if m == 0:
            assert t == 0  # no false negatives, ever
    cls = {v for _, _, v in got.values()}
    assert cls == {"hit", "novel", "false_positive"}


def test_cms_heavy_hitters_semantics(duck, entry_mod):
    """Independent Python Count-Min sketch (same 3×16 geometry):
    every estimate must match to the integer, the one-sided contract
    must hold (estimate ≥ exact for EVERY probe, never under), and
    the fixture must exercise both the exact and the collision
    class."""
    rows = duck.sql(
        entry_mod.all_oracles()["cms_heavy_hitters"]).fetchall()
    docs = duck.sql("SELECT text FROM documents").fetchall()
    cnt = {}
    for (text,) in docs:
        if text is None:
            continue
        for w in text.split(" "):
            cnt[w] = cnt.get(w, 0) + 1
    counters = {}
    for w, c in cnt.items():
        for j in range(3):
            col = _h60("%d|%s" % (j, w)) % 16
            counters[(j, col)] = counters.get((j, col), 0) + c
    top = sorted(cnt.items(), key=lambda t: (-t[1], t[0]))[:20]
    exp = {w: (i + 1, c,
               min(counters[(j, _h60("%d|%s" % (j, w)) % 16)]
                   for j in range(3)))
           for i, (w, c) in enumerate(top)}
    assert len(rows) == 20
    for rank, word, exact, est, over in rows:
        er, ec, ee = exp[word]
        assert (rank, exact, est) == (er, ec, ee), word
        assert over == est - exact
        assert est >= exact          # one-sided error, always
    overs = [r[4] for r in rows]
    assert any(o > 0 for o in overs)   # collisions really happen
    assert any(o == 0 for o in overs)  # and some probes stay exact


def test_dedup_incremental_semantics(duck, entry_mod):
    """Independent Python mirror of the whole incremental-dedup hash
    chain (shingles → minhash → bands → bucket join → new-side filter
    → Jaccard → verdict ladder) — every verdict, match and jaccard
    must agree; plus the tier contract on this corpus: all verbatim
    re-crawls exact_dup, all jittered re-crawls near_dup, all
    word-reversed pages kept."""
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    rows = duck.sql(
        entry_mod.all_oracles()["dedup_incremental"]).fetchall()
    docs = dict(duck.sql(
        "SELECT doc_id, text FROM documents").fetchall())
    corpus = dict(docs)
    for i, t in docs.items():
        if i % 4 == 0:
            sp = t.find(" ")
            corpus[i + 1000000] = t[sp + 1:] if sp >= 0 else t
        if i % 7 == 0:
            corpus[i + 2000000] = t
        if i % 9 == 0:
            corpus[i + 3000000] = " ".join(reversed(t.split(" ")))

    sh = {i: {" ".join(t.split(" ")[p:p + 4])
              for p in range(max(len(t.split(" ")) - 3, 1))}
          for i, t in corpus.items()}
    sigs = {i: [min(md5("%d:" % k + s) for s in ss)
                for k in range(8)] for i, ss in sh.items()}
    buckets = {}
    for i, m in sigs.items():
        for b in range(4):
            buckets.setdefault(
                (b, md5(m[2 * b] + m[2 * b + 1])), []).append(i)
    cand = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b and b >= 1000000:
                    cand.add((a, b))
    exact = {}
    by_hash = {}
    for i in sorted(corpus):
        by_hash.setdefault(md5(corpus[i]), []).append(i)
    for ids in by_hash.values():
        for i in ids:
            if i >= 1000000 and ids[0] < i:
                exact[i] = ids[0]
    near = {}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        j = inter / float(len(sh[a]) + len(sh[b]) - inter)
        if j >= 0.5:
            cur = near.get(b)
            if cur is None or (-j, a) < (-cur[1], cur[0]):
                near[b] = (a, j)
    assert len(rows) == sum(1 for i in corpus if i >= 1000000)
    for doc_id, verdict, match_id, jac in rows:
        if doc_id in exact:
            assert (verdict, match_id, jac) == \
                ("exact_dup", exact[doc_id], None), doc_id
        elif doc_id in near:
            assert verdict == "near_dup" and \
                match_id == near[doc_id][0], doc_id
            assert abs(jac - near[doc_id][1]) < 1e-12, doc_id
        else:
            assert (verdict, match_id, jac) == ("kept", None, None)
    tier = {r[0] // 1000000: set() for r in rows}
    for r in rows:
        tier[r[0] // 1000000].add(r[1])
    assert tier[1] == {"near_dup"}
    assert tier[2] == {"exact_dup"}
    assert tier[3] == {"kept"}
    # incremental contract: no old doc appears as a screened row
    assert all(r[0] >= 1000000 for r in rows)


def test_text_normalize_semantics(duck, entry_mod):
    """Independent Python re-implementation of the normalization
    battery (dirty-corpus injections included): every count, the
    digest of the cleaned text, and the tail must match row-for-row;
    plus the contract that no format/control/curly/nbsp characters
    survive in any cleaned tail."""
    import hashlib
    import re
    rows = duck.sql(
        entry_mod.all_oracles()["text_normalize"]).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    FMT = "[​‌‍﻿­]"
    NBSP = "[  ]"
    QUOTE = "[‘’“”]"
    DASH = "[–—…]"
    CTRL = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    exp = {}
    for doc_id, text in docs:
        t = text
        if doc_id % 3 == 0:
            t += " “smart” ‘quotes’"
        if doc_id % 4 == 0:
            t += " em—dash – range… end"
        if doc_id % 5 == 0:
            t += " zero​width﻿ soft­hyphen"
        elif doc_id % 5 == 1:
            t += "  double  spaced   run "
        if doc_id % 7 == 0:
            t += " nb space " + chr(7) + "bell\ttabbed"
        cnts = tuple(len(re.findall(p, t))
                     for p in (FMT, NBSP, QUOTE, DASH, CTRL))
        ta = re.sub(FMT, "", t)
        tb = re.sub(NBSP, " ", ta)
        tc = (tb.replace("‘", "'").replace("’", "'")
                .replace("“", '"').replace("”", '"')
                .replace("–", "-").replace("—", "-")
                .replace("…", "..."))
        td = re.sub(CTRL, " ", tc)
        n_ws = len(re.findall(r"[ \t]{2,}", td))
        clean = re.sub(r"[ \t]+", " ", td).strip(" ")
        start = max(len(clean) - 59, 1)
        exp[doc_id] = (cnts, n_ws, len(t), len(clean),
                       hashlib.md5(clean.encode()).hexdigest(),
                       clean[start - 1:start + 59], clean)
    assert len(rows) == len(docs)
    junk = re.compile("|".join((FMT, NBSP, QUOTE, DASH, CTRL)))
    for (doc_id, fmt, nbsp, quo, dash, ctrl, n_ws, before, after,
         digest, tail) in rows:
        ec, en, eb, ea, ed, et, clean = exp[doc_id]
        assert (fmt, nbsp, quo, dash, ctrl) == ec, doc_id
        assert (n_ws, before, after) == (en, eb, ea), doc_id
        assert digest == ed and tail == et, doc_id
        assert not junk.search(clean)
        assert "  " not in clean and not clean.startswith(" ") \
            and not clean.endswith(" ")
    # every rule class fires somewhere on the dirty corpus
    assert all(sum(r[i] for r in rows) > 0 for i in range(1, 7))


def test_hll_distinct_semantics(duck, entry_mod):
    """Independent Python HLL: same geometry (64 registers, top-6-bit
    bucketing of the 60-bit md5 hash, exact-integer harmonic sum as
    Σ 2^(56-M)), raw estimator — per host the estimate must match to
    the integer and sit inside the ~3·RSE error band."""
    rows = duck.sql(entry_mod.all_oracles()["hll_distinct"]).fetchall()
    assert len(rows) == 8
    visits = _py_visits(duck)
    keys = {}
    for _, host, url in visits:
        for rep in range(200):
            keys.setdefault(host, set()).add("%s#%d" % (url, rep))
    alpha = 0.7213 / (1.0 + 1.079 / 64.0)
    for host, exact, est, err in rows:
        ks = keys[host]
        assert exact == len(ks)
        regs = {}
        for k in ks:
            h = _h60(k)
            b, w = h // (1 << 54), h % (1 << 54)
            rho = 55 if w == 0 else 55 - w.bit_length()
            regs[b] = max(regs.get(b, 0), rho)
        int_sum = (sum(1 << (56 - m) for m in regs.values())
                   + (64 - len(regs)) * (1 << 56))
        exp = int(alpha * 64.0 * 64.0 * 72057594037927936.0
                  / float(int_sum))
        assert est == exp, host
        assert abs(err - 100.0 * abs(est - exact) / exact) < 1e-9
        # raw-regime sanity: within ~3x the theoretical RSE (1.04/8)
        assert err < 40.0
    # it estimates, it doesn't copy
    assert any(r[1] != r[2] for r in rows)


def test_domain_mix_weights_semantics(duck, entry_mod):
    """Independent Python recomputation of the τ=0.5 temperature
    weights plus the budget-allocation invariants."""
    import math
    rows = duck.sql(
        entry_mod.all_oracles()["domain_mix_weights"]).fetchall()
    assert len(rows) == 8
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    counts = {}
    for did, text in docs:
        counts["h%d" % (did % 8)] = (counts.get("h%d" % (did % 8), 0)
                                     + len(text.split(" ")))
    total = sum(counts.values())
    wts = {h: math.sqrt(c / total) for h, c in counts.items()}
    s = sum(wts.values())
    wsum = 0.0
    for host, c, w, alloc, epochs in rows:
        assert c == counts[host]
        # engine normalizer is decimal-quantized at 1e-6 → tolerance
        assert abs(w - wts[host] / s) < 1e-5
        assert abs(alloc - 1e9 * w) <= 1.0     # floor of the same product
        assert abs(epochs - alloc / c) < 1e-9
        wsum += w
    assert abs(wsum - 1.0) < 1e-5
    assert sum(r[3] for r in rows) <= 1_000_000_000
    # temperature flattens: smallest domain is over-sampled relative
    # to its natural share, largest under-sampled
    small = min(rows, key=lambda r: r[1])
    large = max(rows, key=lambda r: r[1])
    assert small[2] > small[1] / total
    assert large[2] < large[1] / total


def test_split_leakage_safe_semantics(duck, entry_mod):
    """The anti-leakage contract, recomputed independently: (a) the
    cluster split never straddles a near-dup cluster; (b) the naive
    per-doc split demonstrably WOULD leak on this corpus; (c) cluster
    ids agree with dedup_components labels; (d) the eval fraction is
    in a sane band."""
    rows = duck.sql(
        entry_mod.all_oracles()["split_leakage_safe"]).fetchall()
    comp = duck.sql(
        entry_mod.all_oracles()["dedup_components"]).fetchall()
    labels = {r[0]: r[1] for r in comp}
    by_cluster = {}
    for doc_id, cid, split, naive, leak in rows:
        assert labels.get(doc_id, doc_id) == cid
        by_cluster.setdefault(cid, []).append((doc_id, split, naive, leak))
    assert len(rows) == 625  # 500 docs + 125 near-dup twins
    leaks = 0
    for cid, members in by_cluster.items():
        assert len({s for _, s, _, _ in members}) == 1, cid
        straddled = (len(members) > 1
                     and len({n for _, _, n, _ in members}) > 1)
        leaks += straddled
        # flag ⇔ the naive dies actually shear this cluster: every
        # member of a straddled cluster is flagged, nobody else is
        # (disagreement with the CLUSTER die alone is not leakage)
        assert all(lk == (1 if straddled else 0)
                   for _, _, _, lk in members), cid
    assert leaks > 0  # the naive split really does shear clusters
    n_eval = sum(1 for _, _, s, _, _ in rows if s == "eval")
    assert 0.03 < n_eval / len(rows) < 0.30


def test_semdedup_prune_semantics(duck, entry_mod):
    """Full independent recomputation of SemDeDup: quantize, twin
    tier, 2-round Lloyd fit, centroid-distance-descending order,
    upper-triangular max-cosine, ε-prune — every row must match.
    Also pins the fixture's one twin pair whose nudge crosses a
    Voronoi boundary (cells differ → escapes the cell-local prune:
    SemDeDup's documented recall limitation)."""
    import math
    rows = duck.sql(
        entry_mod.all_oracles()["semdedup_prune"]).fetchall()
    vecs = duck.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    base = {vid: [int(math.floor(float(x) * 1e6)) for x in emb]
            for vid, emb in vecs}
    for vid in list(base):
        if vid % 10 == 0:
            tw = list(base[vid])
            tw[0] += 50000
            base[vid + 1000000] = tw

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    cents = {c: list(base[c]) for c in range(8)}
    assign = {}
    for rnd in range(3):  # rounds 1,2 recompute; round 3 = final fit
        assign = {vid: min(cents, key=lambda c: (sqd(qv, cents[c]), c))
                  for vid, qv in base.items()}
        if rnd == 2:
            break
        bycell = {}
        for vid, c in assign.items():
            bycell.setdefault(c, []).append(base[vid])
        cents = {c: [int(math.floor(sum(col) / len(vs)))
                     for col in zip(*vs)]
                 for c, vs in bycell.items()}

    ordered = {}
    for c in set(assign.values()):
        members = sorted((vid for vid, cc in assign.items() if cc == c),
                         key=lambda v: (-sqd(base[v], cents[c]), v))
        for i, vid in enumerate(members):
            ordered[vid] = (c, i + 1, members[:i])

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sqd(a, [0] * 64) * 1.0)
                      * math.sqrt(sqd(b, [0] * 64) * 1.0))

    assert len(rows) == 550
    escaped = 0
    for vid, cell, keep_order, maxcos, is_pruned in rows:
        ec, ei, prior = ordered[vid]
        assert (cell, keep_order) == (ec, ei), vid
        if prior:
            exp = max(cos(base[a], base[vid]) for a in prior)
            assert abs(maxcos - exp) < 1e-12, vid
            assert is_pruned == (1 if exp >= 0.9 else 0), vid
        else:
            assert maxcos == -1.0 and is_pruned == 0, vid
    pruned = {r[0] for r in rows if r[4]}
    cellof = {r[0]: r[1] for r in rows}
    for v in range(0, 500, 10):
        if cellof[v] == cellof[v + 1000000]:
            # exactly ONE of each same-cell twin pair is pruned
            assert (v in pruned) != (v + 1000000 in pruned), v
        else:
            escaped += 1
            assert v not in pruned and v + 1000000 not in pruned
    assert escaped == 1     # the boundary-crossing pair
    assert len(pruned) == 49


def test_dsir_select_semantics(duck, entry_mod):
    """Independent recomputation of the DSIR surrogate: hashed
    unigram buckets, add-1 rational weights, per-token fixed-point
    score, exact ntile(4) cut — plus the selection-preference
    invariant (target-language docs are selected at a higher rate)."""
    rows = duck.sql(entry_mod.all_oracles()["dsir_select"]).fetchall()
    docs = duck.sql("SELECT doc_id, lang, text FROM documents").fetchall()
    feat, raw, tgt = {}, {}, {}
    langof = {}
    for doc_id, lang, text in docs:
        langof[doc_id] = lang
        if text is None:
            continue
        for w in text.split(" "):
            b = _h60(w) % 256
            feat.setdefault(doc_id, {})[b] = feat.get(doc_id, {}).get(b, 0) + 1
            raw[b] = raw.get(b, 0) + 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
    wts = {b: (tgt.get(b, 0) + 1) * 1000 // (cr + 1)
           for b, cr in raw.items()}
    scored = []
    for doc_id, fs in feat.items():
        ssum = sum(c * wts[b] for b, c in fs.items())
        ntok = sum(fs.values())
        scored.append((doc_id, ssum * 1000 // ntok, ntok))
    scored.sort(key=lambda t: (-t[1], t[0]))
    n = len(scored)
    cut = n // 4 + (1 if n % 4 else 0)   # ntile(4) first-bucket size
    sel = {t[0] for t in scored[:cut]}
    exp = {t[0]: t for t in scored}
    assert len(rows) == n
    for doc_id, lang, ntok, score, is_t, selected in rows:
        assert lang == langof[doc_id]
        assert (ntok, score) == (exp[doc_id][2], exp[doc_id][1]), doc_id
        assert is_t == (1 if lang == "en" else 0)
        assert selected == (1 if doc_id in sel else 0), doc_id
    en = [r for r in rows if r[4] == 1]
    non = [r for r in rows if r[4] == 0]
    en_rate = sum(r[5] for r in en) / len(en)
    non_rate = sum(r[5] for r in non) / len(non)
    assert en_rate > non_rate  # the selection really prefers target


# ------------------------------------------------- crawl tier (ops/crawl.py)


def test_robots_filter_semantics(duck, entry_mod):
    """Independent Python recomputation of the full RFC 9309 ladder:
    rule synthesis, longest-prefix match, allow-beats-disallow on a
    length tie, and the no-rule default — plus branch coverage (every
    rule class must actually win somewhere)."""
    rows = duck.sql(entry_mod.all_oracles()["robots_filter"]).fetchall()
    assert len(rows) == 500

    def rules_for(hid):
        rules = [(0, "/private/")]
        if hid % 3 == 0:
            rules += [(0, "/p"), (1, "/p/ok/")]
        if hid % 7 == 0:
            rules += [(0, "/"), (1, "/public/")]
        if hid % 5 == 4:
            rules += [(0, "/dup/"), (1, "/dup/")]
        return rules

    seen = set()
    for doc_id, host, path, is_fetchable, matched in rows:
        hid = doc_id % 40
        assert host == "h%d.example" % hid, doc_id
        m = doc_id % 5
        exp_path = {0: "/p%d" % doc_id, 1: "/private/x%d" % doc_id,
                    2: "/public/a%d" % doc_id, 3: "/p/ok/%d" % doc_id
                    }.get(m, "/dup/z%d" % doc_id if doc_id % 10 == 4
                          else "/")
        assert path == exp_path, doc_id
        cand = [(len(p), a, p) for a, p in rules_for(hid)
                if path.startswith(p)]
        if not cand:
            exp_fetch, exp_rule = 1, "no_rule"
        else:
            _, a, p = max(cand)   # longest, then allow(1) > disallow(0)
            exp_fetch = a
            exp_rule = ("allow:" if a else "disallow:") + p
        assert (is_fetchable, matched) == (exp_fetch, exp_rule), doc_id
        seen.add(matched)
    # every rule class genuinely decides at least one URL
    assert {"no_rule", "allow:/p/ok/", "allow:/public/", "allow:/dup/",
            "disallow:/private/", "disallow:/p", "disallow:/"} <= seen


def test_anchor_text_topk_semantics(duck, entry_mod):
    """Independent recomputation: the snippet generator, href/text
    parse-back, per-destination histograms, and the (count DESC,
    anchor ASC) top-2 — exact set equality."""
    rows = duck.sql(entry_mod.all_oracles()["anchor_text_topk"]).fetchall()
    words = ["home", "login", "read more", "download",
             "contact", "news", "about", "api"]
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    counts = {}
    for doc_id in doc_ids:
        peer = "h%d.example" % ((doc_id * 7 + 1) % 40)
        for dst, w in [(peer, words[doc_id % 7]),
                       ("h0.example", words[(doc_id + 5) % 8])]:
            counts[(dst, w)] = counts.get((dst, w), 0) + 1
    exp = []
    hosts = {h for h, _ in counts}
    for h in hosts:
        ranked = sorted(((n, w) for (hh, w), n in counts.items()
                         if hh == h), key=lambda t: (-t[0], t[1]))
        exp += [(h, w, n, rk + 1) for rk, (n, w) in enumerate(ranked[:2])]
    assert sorted(rows) == sorted(exp)
    # the hub host's histogram really mixes words (top-2 is a choice)
    hub = [w for (h, w), n in counts.items() if h == "h0.example"]
    assert len(set(hub)) > 2


def test_crawl_budget_semantics(duck, entry_mod):
    """Independent Hamilton-apportionment recomputation + the exact-sum
    invariant float proration cannot give."""
    rows = duck.sql(entry_mod.all_oracles()["crawl_budget"]).fetchall()
    B = 97
    n_h = {}
    for (doc_id,) in duck.sql("SELECT doc_id FROM documents").fetchall():
        n_h[doc_id % 40] = n_h.get(doc_id % 40, 0) + 1
    N = sum(n_h.values())
    base = {h: B * c // N for h, c in n_h.items()}
    rem = {h: (B * c) % N for h, c in n_h.items()}
    left = B - sum(base.values())
    extra = {h for h, _ in
             sorted(rem.items(), key=lambda t: (-t[1], t[0]))[:left]}
    exp = sorted(("h%d.example" % h, c, base[h] + (h in extra), rem[h])
                 for h, c in n_h.items())
    assert sorted(rows) == exp
    assert sum(r[2] for r in rows) == B
    assert left > 0          # the remainder tier genuinely fires


def test_tfidf_keywords_semantics(duck, entry_mod):
    """Independent tf/df/top-k recomputation over the real corpus with
    the exact integer idf surrogate floor(SCALE*N/df)."""
    rows = duck.sql(entry_mod.all_oracles()["tfidf_keywords"]).fetchall()
    texts = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    N = len(texts)
    tf, dfc = {}, {}
    for doc_id, text in texts.items():
        words = [w for w in text.split(" ") if w]
        for w in words:
            tf[(doc_id, w)] = tf.get((doc_id, w), 0) + 1
        for w in set(words):
            dfc[w] = dfc.get(w, 0) + 1
    exp = []
    for doc_id in texts:
        scored = sorted(
            ((t * (10 ** 6 * N // dfc[w]), w, t) for (dd, w), t
             in tf.items() if dd == doc_id),
            key=lambda s: (-s[0], s[1]))
        exp += [(doc_id, w, t, dfc[w], sc, rk + 1)
                for rk, (sc, w, t) in enumerate(scored[:3])]
    assert sorted(rows) == sorted(exp)
    assert len(rows) == 3 * N


def test_dedup_keep_best_semantics(duck, entry_mod):
    """Keep-longest consistency on the fixture corpus: one keeper per
    cluster, the keeper is the (longest, then min-id) member, members
    carry their cluster's keeper; jitter twins (first word dropped —
    always shorter) never beat their original."""
    rows = duck.sql(entry_mod.all_oracles()["dedup_keep_best"]).fetchall()
    assert len(rows) == 625   # 500 docs + 125 doc_id%4==0 jitter twins
    clusters = {}
    for doc_id, cluster_id, n_chars, keeper_id, is_kept in rows:
        clusters.setdefault(cluster_id, []).append(
            (doc_id, n_chars, keeper_id, is_kept))
    multi = 0
    for cid, members in clusters.items():
        best = sorted(members, key=lambda m: (-m[1], m[0]))[0][0]
        assert sum(m[3] for m in members) == 1, cid
        for doc_id, n_chars, keeper_id, is_kept in members:
            assert keeper_id == best, cid
            assert is_kept == int(doc_id == best), cid
        if len(members) > 1:
            multi += 1
            twins = [m for m in members if m[0] >= 1000000]
            for t in twins:   # twin's original is in the same cluster
                assert t[0] - 1000000 in {m[0] for m in members}, cid
    assert multi >= 100   # the near-dup tier really clusters


def test_dedup_keep_best_diverges_from_min_id_on_longer_member(
        duck, entry_mod):
    """The crafted case the fixture cannot produce: a near-dup cluster
    whose HIGHER-id member is strictly longer.  keep-best must keep it
    while dedup_components' min-label keeper keeps the lower id — the
    two decision rules genuinely differ."""
    base = " ".join("tok%d" % i for i in range(30))
    longer = base + " extra trailing"
    duck.sql("CREATE OR REPLACE VIEW documents AS SELECT * FROM ("
             "VALUES (CAST(0 AS BIGINT), '%s', 'en', 'crafted',"
             " CAST(%d AS BIGINT)),"
             " (CAST(1 AS BIGINT), '%s', 'en', 'crafted',"
             " CAST(%d AS BIGINT))"
             ") AS t(doc_id, text, lang, source, n_chars)"
             % (base, len(base), longer, len(longer)))
    try:
        kb = duck.sql(entry_mod.all_oracles()["dedup_keep_best"]).fetchall()
        cc = duck.sql(
            entry_mod.all_oracles()["dedup_components"]).fetchall()
    finally:
        duck.sql("CREATE OR REPLACE VIEW documents AS "
                 "SELECT * FROM '%s/documents.parquet'" % SF_DIR)
    by_doc = {r[0]: r for r in kb}
    # docs 0 and 1 share 28 of ~29 shingles -> one cluster; doc 0's
    # jitter twin (first word dropped) rides along
    assert by_doc[0][1] == by_doc[1][1]        # same cluster
    keeper = by_doc[0][3]
    assert keeper == 1                          # longest wins, not min id
    assert by_doc[1][4] == 1 and by_doc[0][4] == 0
    cc_by_doc = {r[0]: r[1] for r in cc}
    assert cc_by_doc[1] == 0                    # min-label rule keeps 0


def test_crawl_frontier_semantics(duck, entry_mod):
    """Cross-query consistency: the frontier's rank_ppb must equal
    host_pagerank's rank per host, n_in must equal link_graph's
    per-destination in-link sum, the verdict ladder must match the
    independently recomputed crawled/blocked sets, and fetch_rank must
    order exactly the crawl-verdict rows by (rank DESC, host)."""
    oracles = entry_mod.all_oracles()
    rows = duck.sql(oracles["crawl_frontier"]).fetchall()
    ranks = dict(duck.sql(oracles["host_pagerank"]).fetchall())
    edges = duck.sql(oracles["link_graph"]).fetchall()
    n_in = {}
    for src, dst, n in edges:
        n_in[dst] = n_in.get(dst, 0) + n
    crawled = {src for src, _, _ in edges}
    blocked = {"h%d.example" % h for h in range(40) if h % 7 == 0}
    assert len(rows) == len(n_in)
    crawl_rows = []
    for host, nin, rank_ppb, verdict, fetch_rank in rows:
        assert nin == n_in[host], host
        assert rank_ppb == ranks[host], host
        exp = ("blocked_robots" if host in blocked else
               "already_indexed" if host in crawled else "crawl")
        assert verdict == exp, host
        if verdict == "crawl":
            crawl_rows.append((host, rank_ppb, fetch_rank))
        else:
            assert fetch_rank == 0, host
    # the frontier is exactly the sink hosts, priority-ordered
    assert sorted(h for h, _, _ in crawl_rows) == \
        ["sink0.example", "sink1.example"]
    exp_order = [h for h, _ in sorted(
        ((h, r) for h, r, _ in crawl_rows), key=lambda t: (-t[1], t[0]))]
    got_order = [h for h, _, _ in sorted(crawl_rows, key=lambda t: t[2])]
    assert got_order == exp_order
    assert {v for _, _, _, v, _ in rows} == \
        {"crawl", "already_indexed", "blocked_robots"}


def _py_pagerank(edges, rounds=3, seeds=None):
    """The shared integer recurrence: uniform teleport (PageRank) when
    seeds is None, seed-restricted teleport (TrustRank) otherwise."""
    nodes = sorted({h for e in edges for h in e})
    n = len(nodes)
    outw = {}
    for (s, t), w in edges.items():
        outw[s] = outw.get(s, 0) + w
    if seeds is None:
        r = {h: 10 ** 9 // n for h in nodes}
    else:
        ns = len(seeds)
        r = {h: (10 ** 9 // ns if h in seeds else 0) for h in nodes}
    for _ in range(rounds):
        contrib = {h: 0 for h in nodes}
        for (s, t), w in edges.items():
            contrib[t] += r[s] * w * 85 // (outw[s] * 100)
        dm = sum(r[h] for h in nodes if h not in outw)
        if seeds is None:
            base = {h: 150000000 // n + dm * 85 // (n * 100)
                    for h in nodes}
        else:
            ns = len(seeds)
            tele = 150000000 // ns + dm * 85 // (ns * 100)
            base = {h: (tele if h in seeds else 0) for h in nodes}
        r = {h: base[h] + contrib[h] for h in nodes}
    return r


def test_trustrank_semantics(duck, entry_mod):
    """Independent Python integer TrustRank (seed-restricted teleport)
    over independently derived edges, plus the share-relative verdict
    ladder: 'seed', trust_share>=rank_share 'trusted' (exact integer
    cross-multiplication), positive-but-below 'demoted', trust==0
    'untrusted'."""
    rows = duck.sql(entry_mod.all_oracles()["trustrank_seeds"]).fetchall()
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    edges = _py_webgraph_edges(doc_ids)
    seeds = {"h%d.example" % h for h in range(40) if h % 8 == 1}
    pr = _py_pagerank(edges)
    tr = _py_pagerank(edges, seeds=seeds)
    assert len(rows) == len(pr)
    rsum, tsum = sum(pr.values()), sum(tr.values())
    for host, rank_ppb, trust_ppb, is_seed, verdict in rows:
        assert rank_ppb == pr[host], host
        assert trust_ppb == tr[host], host
        assert is_seed == (1 if host in seeds else 0), host
        exp = ("seed" if host in seeds else
               "trusted" if trust_ppb * rsum >= rank_ppb * tsum else
               "demoted" if trust_ppb > 0 else "untrusted")
        assert verdict == exp, host
    # the seeded teleport must actually discriminate: some non-seed
    # host is demoted AND some non-seed host is trusted
    verds = {v for _, _, _, s, v in rows if s == 0}
    assert "demoted" in verds and "trusted" in verds
    # seeds hold disproportionate trust mass vs their rank mass
    t_seed = sum(t for _, _, t, s, _ in rows if s == 1)
    r_seed = sum(r for _, r, _, s, _ in rows if s == 1)
    t_all = sum(t for _, _, t, _, _ in rows)
    r_all = sum(r for _, r, _, _, _ in rows)
    assert t_seed * r_all > 2 * r_seed * t_all


def test_hits_semantics(duck, entry_mod):
    """Independent Python integer HITS (distinct edges, alternating
    I/O steps, exact-floor L1 normalization to ppm) — plus the
    structural expectations: sinks/hub are pure authorities (hub 0),
    and h0 holds the top authority score."""
    rows = duck.sql(entry_mod.all_oracles()["hits_scores"]).fetchall()
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    dedges = sorted(_py_webgraph_edges(doc_ids))
    nodes = sorted({h for e in dedges for h in e})
    n = len(nodes)
    S = 10 ** 6
    a = {h: S // n for h in nodes}
    h = {}
    for _ in range(2):
        hr = {}
        for s, t in dedges:
            hr[s] = hr.get(s, 0) + a[t]
        ht = sum(hr.values())
        h = {u: v * S // ht for u, v in hr.items()}
        ar = {}
        for s, t in dedges:
            ar[t] = ar.get(t, 0) + h[s]
        at = sum(ar.values())
        a = {u: v * S // at for u, v in ar.items()}
    got = {r[0]: (r[1], r[2]) for r in rows}
    assert set(got) == set(nodes)
    for host in nodes:
        assert got[host] == (h.get(host, 0), a.get(host, 0)), host
    # sinks never link out -> pure authorities; h0 is the top authority
    for host in nodes:
        if host.startswith("sink"):
            assert got[host][0] == 0 and got[host][1] > 0
    assert max(got, key=lambda k: got[k][1]) == "h0.example"


def test_recrawl_schedule_semantics(duck, entry_mod):
    """Independent Python recomputation of the two-snapshot diff:
    rebuild both snapshots' digests from (doc_id, text), full-outer
    them, roll up per host, and require exact counters + tiers.  The
    host classes must realize all three tiers."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["recrawl_schedule"]).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    per = {}
    for doc_id, text in docs:
        hid = doc_id % 40
        host = "h%d.example" % hid
        c = per.setdefault(host, [0, 0, 0, 0])   # unch, chg, new, gone
        in0, in1 = doc_id % 13 != 0, doc_id % 17 != 0
        changed = (0 if hid % 10 == 7 else
                   1 if hid % 10 == 3 else
                   1 if doc_id % 160 < 40 else 0)
        d0 = hashlib.md5(text.encode()).hexdigest()
        d1 = hashlib.md5(
            (text + ("|v2" if changed else "")).encode()).hexdigest()
        if in0 and in1:
            c[1 if d0 != d1 else 0] += 1
        elif in1:
            c[2] += 1
        elif in0:
            c[3] += 1
    assert len(rows) == len(per)
    tiers = set()
    for host, n_unch, n_chg, n_new, n_gone, tier, days in rows:
        assert [n_unch, n_chg, n_new, n_gone] == per[host], host
        seen = n_chg + n_unch
        exp = ("hot" if seen > 0 and 2 * n_chg >= seen else
               "warm" if n_chg > 0 else "cold")
        assert (tier, days) == (exp, {"hot": 1, "warm": 7,
                                      "cold": 30}[exp]), host
        tiers.add(tier)
    assert tiers == {"hot", "warm", "cold"}


def test_shard_rendezvous_semantics(duck, entry_mod):
    """Independent Python HRW recomputation (hashlib md5 argmin) of
    the full movement matrix, plus the defining minimal-movement
    property: every moved key moved INTO the new shard (shard_b = 8),
    and roughly 1/9 of keys moved."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["shard_rendezvous"]).fetchall()
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]

    def shard(url, n):
        return min(range(n), key=lambda j: hashlib.md5(
            ("%d|%s" % (j, url)).encode()).hexdigest())

    matrix = {}
    for did in doc_ids:
        url = "https://h%d.example/p%d" % (did % 40, did)
        key = (shard(url, 8), shard(url, 9))
        matrix[key] = matrix.get(key, 0) + 1
    got = {(a, b): n for a, b, _, n in rows}
    assert got == matrix
    moved = 0
    for a, b, m, n in rows:
        assert m == (1 if a != b else 0)
        if m:
            assert b == 8, (a, b)            # only INTO the new shard
            moved += n
    total = sum(matrix.values())
    assert 0.05 < moved / total < 0.18       # ~1/9 expected movement


def test_phrase_search_semantics(duck, entry_mod):
    """Independent Python recomputation: build every document's bigram
    stream from text.split(' '), count phrase occurrences, take top-5
    per phrase by (count DESC, doc_id ASC) — exact match, the no-match
    phrase (pid 3) absent, every real phrase matched."""
    rows = duck.sql(entry_mod.all_oracles()["phrase_search"]).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    phrases = {0: "hash join", 1: "the batch", 2: "window filter",
               3: "zz qq"}
    exp = {}
    for pid, phrase in phrases.items():
        counts = {}
        for doc_id, text in docs:
            ws = text.split(" ")
            n = sum(1 for i in range(len(ws) - 1)
                    if ws[i] + " " + ws[i + 1] == phrase)
            if n:
                counts[doc_id] = n
        top = sorted(counts.items(), key=lambda t: (-t[1], t[0]))[:5]
        for rk, (doc_id, n) in enumerate(top, 1):
            exp[(pid, doc_id)] = (phrase, n, rk)
    got = {(r[0], r[2]): (r[1], r[3], r[4]) for r in rows}
    assert got == exp
    assert not any(pid == 3 for pid, _ in got)
    assert {pid for pid, _ in got} == {0, 1, 2}


def test_trustrank_df_matches_sql(spark, entry_mod):
    """The production iterative forms are row-identical to their
    unrolled SQL oracle chains run ON SPARK (the registered Spark
    callables now ARE the production forms, so the pin compares
    against the raw SQL explicitly — not circularly)."""
    from query_registry import QUERY_SQL

    got = sorted(tuple(r) for r in entry_mod.all_queries()[
        "trustrank_seeds"](spark, SF_DIR).collect())
    exp = sorted(tuple(r) for r in spark.sql(
        QUERY_SQL["trustrank_seeds"]["spark"]).collect())
    assert got == exp


def test_hits_df_matches_sql(spark, entry_mod):
    """Iterative integer HITS ≡ the unrolled SQL chain on Spark."""
    from query_registry import QUERY_SQL

    got = sorted(tuple(r) for r in entry_mod.all_queries()[
        "hits_scores"](spark, SF_DIR).collect())
    exp = sorted(tuple(r) for r in spark.sql(
        QUERY_SQL["hits_scores"]["spark"]).collect())
    assert got == exp


def test_bm25_compact_serve_identical(spark, tmp_path):
    """LSM compaction is a physical rewrite with identical serve
    output: append two halves, compact, vacuum — the served top-k is
    byte-identical at every step, the retired generations' partition
    directories are physically gone after vacuum, and exactly one
    active generation remains."""
    import glob
    import os

    from pdf_parser_spark.ops.retrieval import (
        _committed_ids, _marker_ids, bm25_serve, text_index_append,
        text_index_compact, text_index_vacuum,
    )

    root = str(tmp_path / "bm25_compact")
    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")
    text_index_append(spark, root, docs.filter("doc_id < 400"))
    text_index_append(spark, root, docs.filter("doc_id >= 400"))
    olds = _committed_ids(root)
    assert len(olds) == 2
    before = sorted(tuple(r) for r in bm25_serve(spark, root).collect())

    cid = text_index_compact(spark, root)
    assert cid and _committed_ids(root) == [cid]
    assert set(_marker_ids(root)) == set(olds) | {cid}
    mid = sorted(tuple(r) for r in bm25_serve(spark, root).collect())
    assert mid == before

    removed = text_index_vacuum(root)
    assert sorted(removed) == sorted(olds)
    for aid in olds:
        assert not glob.glob(os.path.join(
            root, "*", "**", "append_id=%s" % aid), recursive=True)
    assert _marker_ids(root) == [cid]
    after = sorted(tuple(r) for r in bm25_serve(spark, root).collect())
    assert after == before
    # vacuum is idempotent; a second compact is a no-op
    assert text_index_vacuum(root) == []
    assert text_index_compact(spark, root) == ""


def test_bm25_compact_crash_invisible(spark, tmp_path, monkeypatch):
    """A compaction that writes its merged generation but dies before
    the marker rename changes NOTHING a serve sees; a rerun compacts
    the same actives under a fresh id and the serve stays identical."""
    import pdf_parser_spark.ops.retrieval as R

    root = str(tmp_path / "bm25_compact_crash")
    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")
    R.text_index_append(spark, root, docs.filter("doc_id < 400"))
    R.text_index_append(spark, root, docs.filter("doc_id >= 400"))
    before = sorted(tuple(r) for r in R.bm25_serve(spark, root).collect())
    olds = R._committed_ids(root)

    real_commit = R._commit

    def dying_commit(index_dir, aid, replaces=None):
        raise RuntimeError("simulated crash before marker rename")

    monkeypatch.setattr(R, "_commit", dying_commit)
    try:
        R.text_index_compact(spark, root)
    except RuntimeError:
        pass
    monkeypatch.setattr(R, "_commit", real_commit)
    # orphan generation written, nothing published
    assert R._committed_ids(root) == olds
    assert sorted(tuple(r)
                  for r in R.bm25_serve(spark, root).collect()) == before

    cid = R.text_index_compact(spark, root)
    assert cid and R._committed_ids(root) == [cid]
    assert sorted(tuple(r)
                  for r in R.bm25_serve(spark, root).collect()) == before


def test_phrase_serve_matches_inplan_and_survives_compaction(
        spark, tmp_path):
    """The positional-index phrase serve is row-identical to the
    in-plan phrase_search at every lifecycle point: after two
    incremental appends, after compaction, and after vacuum — and its
    plan never rescans the corpus."""
    from pdf_parser_spark.ops.retrieval import (
        phrase_serve, text_index_append, text_index_compact,
        text_index_vacuum,
    )

    root = str(tmp_path / "pos_index")
    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    import query_registry
    exp = sorted(tuple(r) for r in spark.sql(
        query_registry.QUERY_SQL["phrase_search"]["spark"]).collect())

    text_index_append(spark, root, docs.filter("doc_id < 400"))
    text_index_append(spark, root, docs.filter("doc_id >= 400"))
    serve = phrase_serve(spark, root)
    assert sorted(tuple(r) for r in serve.collect()) == exp
    plan = serve._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan
    assert "PartitionFilters" in plan and "shard" in plan

    text_index_compact(spark, root)
    assert sorted(tuple(r)
                  for r in phrase_serve(spark, root).collect()) == exp
    text_index_vacuum(root)
    assert sorted(tuple(r)
                  for r in phrase_serve(spark, root).collect()) == exp


def test_cocitation_semantics(duck, entry_mod):
    """Independent Python recomputation of co-citation: distinct
    edges, per-source destination pairs, global top-20 by
    (n_common DESC, host_a, host_b) — exact, including ranks.  The
    hub h0 must appear in the strongest pairs (every source links
    it, so its pair with any popular peer is near the per-source
    ceiling)."""
    rows = duck.sql(entry_mod.all_oracles()["cocitation_pairs"]).fetchall()
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    dd = sorted(_py_webgraph_edges(doc_ids))
    by_src = {}
    for s, t in dd:
        by_src.setdefault(s, set()).add(t)
    counts = {}
    for dsts in by_src.values():
        dl = sorted(dsts)
        for i in range(len(dl)):
            for j in range(i + 1, len(dl)):
                counts[(dl[i], dl[j])] = counts.get((dl[i], dl[j]), 0) + 1
    top = sorted(counts.items(), key=lambda t: (-t[1], t[0]))[:20]
    exp = [(a, b, n, rk) for rk, ((a, b), n) in enumerate(top, 1)]
    assert sorted(rows, key=lambda r: r[3]) == exp
    assert any("h0.example" in (a, b) for a, b, _, _ in rows[:5] or rows)


def test_embed_srp_neardup_semantics(duck, entry_mod):
    """Independent Python recomputation of SRP-LSH (own hashlib-md5
    hyperplanes, own bit packing, own banding/candidates/cosine):
    the oracle SQL's verified pairs must match exactly, EVERY twin
    pair (vec_id, vec_id+1000000) must be recovered (fixture-scale
    recall = 100%), and the banded candidate set must be >= 10x
    smaller than the n^2/2 cross join (the pruning the operator
    exists for)."""
    import hashlib
    import math
    from collections import defaultdict

    rows = duck.sql(entry_mod.all_oracles()["embed_srp_neardup"]
                    ).fetchall()
    vecs = duck.sql("SELECT vec_id, embedding FROM embeddings"
                    ).fetchall()
    qv = {vid: [math.floor(float(x) * 1e6) for x in emb]
          for vid, emb in vecs}
    for vid in sorted(qv):
        if vid % 10 == 0:
            v = qv[vid]
            qv[vid + 1000000] = [v[0] + 50000] + v[1:]
    planes = [[int(hashlib.md5(("srp|%d|%d" % (j, i)).encode()
                               ).hexdigest()[:15], 16) % 2001 - 1000
               for i in range(64)] for j in range(24)]
    sig = {}
    for vid, v in qv.items():
        s = 0
        for j in range(24):
            if sum(x * w for x, w in zip(v, planes[j])) >= 0:
                s |= 1 << j
        sig[vid] = s
    buckets = defaultdict(list)
    for vid, s in sig.items():
        for b in range(3):
            buckets[(b, (s >> (8 * b)) & 255)].append(vid)
    cand = set()
    for ids in buckets.values():
        if len(ids) > 64:  # _SRP_BUCKET_CAP super-bucket guard
            continue
        ids.sort()
        for i in range(len(ids)):
            for k in range(i + 1, len(ids)):
                cand.add((ids[i], ids[k]))
    n_tot = len(qv)
    assert len(cand) * 10 <= n_tot * (n_tot - 1) // 2, (
        len(cand), n_tot)

    def cosine(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return float(dot) / (math.sqrt(float(sum(x * x for x in a)))
                             * math.sqrt(float(sum(y * y for y in b))))

    exp = set()
    for lft, rgt in cand:
        c = cosine(qv[lft], qv[rgt])
        if c >= 0.9:
            ham = bin(sig[lft] ^ sig[rgt]).count("1")
            exp.add((lft, rgt, ham, repr(c)))
    got = {(l, r, h, repr(c)) for l, r, h, c in rows}
    assert got == exp
    twins = {(vid, vid + 1000000) for vid in qv
             if vid < 1000000 and vid % 10 == 0}
    assert twins <= {(l, r) for l, r, _, _ in got}


def test_embed_srp_bucket_cap_bounds_candidates(spark, entry_mod):
    """The SRP super-bucket guard (_SRP_BUCKET_CAP=64): a degenerate
    cluster of 160 IDENTICAL vectors (cosine 1.0 — all land in ONE
    band bucket per band, 160 > cap) must contribute ZERO output
    pairs on BOTH engines — without the cap it alone would emit
    160·159/2 = 12,720 — while the three well-spread twin pairs in
    the same corpus are still recovered (recall unharmed) — the
    embedding-tier analogue of the text LSH tier's ``bucket_cap``."""
    import duckdb as _duck
    import pandas as pd

    degen = [10 * k + 1 for k in range(160)]   # none %10==0 → no twins
    normal = [0, 10, 20]                       # each gets a twin
    rows = [(n, [0.25] * 64) for n in degen] + [
        (n, [((n * 7 + i * 13) % 17 - 8) / 16.0 for i in range(64)])
        for n in normal]
    # duckdb side
    con = _duck.connect()
    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows],
                        "embedding": [r[1] for r in rows]})
    con.register("emb_src", pdf)
    con.sql("CREATE VIEW embeddings AS SELECT vec_id, embedding "
            "FROM emb_src")
    d_pairs = {(l, r) for l, r, _, _ in con.sql(
        entry_mod.all_oracles()["embed_srp_neardup"]).fetchall()}

    # spark side (re-bind the temp view; other tests re-register)
    from query_registry import QUERY_SQL
    sdf = spark.createDataFrame(rows, "vec_id bigint, "
                                "embedding array<float>")
    sdf.createOrReplaceTempView("embeddings")
    try:
        s_pairs = {(r[0], r[1]) for r in spark.sql(
            QUERY_SQL["embed_srp_neardup"]["spark"]).collect()}
    finally:
        spark.catalog.dropTempView("embeddings")

    dset = set(degen)
    for pairs in (d_pairs, s_pairs):
        assert not any(l in dset and r in dset for l, r in pairs), (
            "super-bucket leaked intra-cluster pairs")
        assert {(n, n + 1000000) for n in normal} <= pairs
        assert len(pairs) < 100
    assert d_pairs == s_pairs


def test_url_trap_filter_semantics(duck, entry_mod):
    """Independent Python recomputation with urllib.parse: re-derive
    every feature (length, segment count, param count, consecutive
    repeats, year segments, session markers) from the synthesized URL
    itself and re-apply the first-match ladder; every trap class must
    be realized, the near-miss classes (2 consecutive repeats, 1 year
    segment) must KEEP, and the double-trap class must resolve to the
    FIRST matching rule (too_long over session_id)."""
    import re
    from urllib.parse import urlsplit

    sql = entry_mod.all_oracles()["url_trap_filter"]
    # recompute from the url itself: project it alongside the output
    rows = duck.sql(
        "SELECT f.*, u.url FROM (%s) f JOIN (%s) u USING (doc_id)"
        % (sql, sql.replace(
            "SELECT doc_id, url_len, n_seg, n_params,",
            "SELECT doc_id, url,").split("FROM feats")[0]
            + "FROM feats")).fetchall()
    assert len(rows) == 500
    seen = set()
    for doc_id, url_len, n_seg, n_params, verdict, url in rows:
        sp = urlsplit(url)
        segs = sp.path.split("/")
        exp_nseg = len([s for s in segs if s])
        exp_npar = len(sp.query.split("&")) if sp.query else 0
        rep = any(segs[i] and segs[i] == segs[i + 1] == segs[i + 2]
                  for i in range(len(segs) - 2))
        years = len([s for s in segs
                     if re.fullmatch(r"(19|20)\d{2}", s)])
        sess = any(m in url.lower() for m in
                   ("phpsessid=", "jsessionid=", "sessionid=",
                    "?sid=", "&sid="))
        if len(url) > 256:
            exp = "too_long"
        elif rep:
            exp = "repeated_segment"
        elif exp_nseg > 8:
            exp = "too_deep"
        elif sess:
            exp = "session_id"
        elif exp_npar > 5:
            exp = "too_many_params"
        elif years >= 2:
            exp = "calendar_trap"
        else:
            exp = "keep"
        assert (url_len, n_seg, n_params) == \
            (len(url), exp_nseg, exp_npar), doc_id
        assert verdict == exp, (doc_id, url, verdict, exp)
        seen.add((doc_id % 11, verdict))
    # every trap class realized; near-misses and controls keep;
    # the double-trap class (6: overlong AND session-id) -> too_long
    cls = dict((c, v) for c, v in seen)
    assert cls[0] == "repeated_segment" and cls[1] == "too_deep"
    assert cls[2] == "session_id" and cls[3] == "too_many_params"
    assert cls[4] == "calendar_trap" and cls[5] == "too_long"
    assert cls[6] == "too_long"
    assert cls[7] == cls[8] == cls[9] == cls[10] == "keep"


def test_bm25_maxscore_lossless_and_prunes(spark, duck, entry_mod):
    """MaxScore's defining contract, pinned on BOTH engines: the
    pruned top-k is ROW-IDENTICAL to unpruned evaluation of the same
    query set (ranks, scores, ties), while the candidate gate shows
    the rare-term queries scoring >=10x fewer docs and the
    absent-top-term query degrading to full evaluation (no silent
    under-read)."""
    from pdf_parser_spark.ops.retrieval import (
        bm25_maxscore_full_twin_sql, bm25_maxscore_gate_sql)

    ms_d = sorted(duck.sql(entry_mod.all_oracles()["bm25_maxscore"]
                           ).fetchall())
    full_d = sorted(duck.sql(bm25_maxscore_full_twin_sql("duckdb")
                             ).fetchall())
    assert ms_d == full_d and len(ms_d) == 40  # 4 real queries x k=10

    ms_s = sorted(tuple(r) for r in entry_mod.all_queries()
                  ["bm25_maxscore"](spark, SF_DIR).collect())
    full_s = sorted(tuple(r) for r in spark.sql(
        bm25_maxscore_full_twin_sql("spark")).collect())
    assert ms_s == full_s == ms_d

    gate = {q: (c, m) for q, c, m in
            duck.sql(bm25_maxscore_gate_sql("duckdb")).fetchall()}
    # rare+common queries: candidates collapse to the rare posting list
    assert gate[0][0] * 10 <= gate[0][1], gate
    assert gate[2][0] * 10 <= gate[2][1], gate
    # absent-top-term query: pruning degrades to full eval, exactly
    assert gate[3][0] == gate[3][1]
    # every candidate set is still >= k (the window has enough rows)
    assert all(c >= 10 for c, _ in gate.values())


def test_dedup_containment_semantics(duck, entry_mod):
    """Full independent Python recomputation of the containment
    pipeline — corpus twins, 4-shingles, md5 minhash signatures, LSH
    bands, candidate pairs, exact distinct-set arithmetic, verdict
    ladder — compared value-for-value with the oracle; plus the
    class-structure pins: prefix twins are right_in_left with
    c_right EXACTLY 1.0, superset twins are left_in_right with
    c_left EXACTLY 1.0, mutation twins are near_dup/overlap with
    NO containment, and all five verdicts are realized."""
    import hashlib
    from collections import defaultdict

    rows = duck.sql(entry_mod.all_oracles()["dedup_containment"]
                    ).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents"
                         ).fetchall())
    corpus = dict(docs)
    for did, text in docs.items():
        ws = text.split(" ")
        half = max(len(ws) // 2, 5)
        if did % 7 == 0:
            corpus[did + 2000000] = " ".join(ws[:half])
        if did % 9 == 0:
            corpus[did + 3000000] = " ".join(
                ws[:half] + ["qq%d" % (did * 31 + i)
                             for i in range(half)])
        if did % 11 == 0:
            corpus[did + 4000000] = text + " " + " ".join(
                "rr%d" % (did * 31 + i) for i in range(6))
        if did % 13 == 0:
            corpus[did + 5000000] = " ".join(
                "zz%d" % (did * 31 + i) if i % 12 == 0 else w
                for i, w in enumerate(ws))

    def shingles(text):
        ws = text.split(" ")
        return ["" .join([]) or " ".join(ws[i:i + 4])
                for i in range(max(len(ws) - 3, 1))]

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    sigs, sets = {}, {}
    for did, text in corpus.items():
        sh = shingles(text)
        sets[did] = set(sh)
        sigs[did] = [min(md5("%d:%s" % (k, s)) for s in sh)
                     for k in range(8)]
    buckets = defaultdict(list)
    for did, m in sigs.items():
        for b in range(4):
            buckets[(b, md5(m[2 * b] + m[2 * b + 1]))].append(did)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for k in range(i + 1, len(ids)):
                cand.add((ids[i], ids[k]))

    exp = set()
    for lft, rgt in cand:
        inter = len(sets[lft] & sets[rgt])
        if inter == 0:
            continue
        na, nb = len(sets[lft]), len(sets[rgt])
        jac = float(inter) / float(na + nb - inter)
        if jac < 0.2:
            continue
        cl, cr = float(inter) / float(na), float(inter) / float(nb)
        if cl >= 0.95 and cr >= 0.95:
            v = "duplicate"
        elif cl >= 0.95:
            v = "left_in_right"
        elif cr >= 0.95:
            v = "right_in_left"
        elif jac >= 0.5:
            v = "near_dup"
        else:
            v = "overlap"
        exp.add((lft, rgt, na, nb, inter,
                 repr(jac), repr(cl), repr(cr), v))
    got = {(l, r, na, nb, i, repr(j), repr(cl), repr(cr), v)
           for l, r, na, nb, i, j, cl, cr, v in rows}
    assert got == exp

    verdicts = {r[-1] for r in rows}
    assert verdicts == {"duplicate", "left_in_right", "right_in_left",
                        "near_dup", "overlap"}
    # pins apply to (original, its OWN twin) pairs — twins of the
    # same source doc also pair with each other (e.g. half+noise vs
    # superset), legitimately landing in the overlap/near_dup tiers
    for l, r, na, nb, i, j, cl, cr, v in rows:
        if l >= 1000000:
            continue
        if r == l + 2000000:
            assert v == "right_in_left" and cr == 1.0, (l, r)
        if r == l + 4000000:
            assert v == "left_in_right" and cl == 1.0, (l, r)
        if r == l + 5000000:
            assert v in ("near_dup", "overlap") \
                and cl < 0.95 and cr < 0.95, (l, r)


def test_crawl_frontier_production_matches_sql(spark, entry_mod):
    """The production composition (materialized edges + iterative
    pagerank_df, shared verdict CTEs) is row-identical to the
    registered one-plan SQL."""
    from pdf_parser_spark.ops.crawl import crawl_frontier_production_df

    import query_registry

    entry_mod.all_queries()["link_graph"](spark, SF_DIR).count()
    got = sorted(tuple(r)
                 for r in crawl_frontier_production_df(spark).collect())
    # pin against the UNROLLED SQL explicitly: since the round-6
    # promotion, all_queries() serves the production twin for this name
    entry_mod._register(spark, SF_DIR)
    exp = sorted(tuple(r) for r in spark.sql(
        query_registry.QUERY_SQL["crawl_frontier"]["spark"]).collect())
    assert got == exp


def test_mirror_hosts_semantics(duck, entry_mod):
    """Independent Python recomputation (own md5 digest sets, own
    min-normalized overlap) of every host pair; the class pins:
    m0/m1 are full mirrors at exactly 1.0, m2 is a partial mirror,
    m3 is related, and no unrelated host pair appears (documents are
    unique texts, so cross-host digest collisions cannot occur in
    this corpus)."""
    import hashlib
    from collections import defaultdict

    rows = duck.sql(entry_mod.all_oracles()["mirror_hosts"]).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    prof = defaultdict(set)
    for did, text in docs:
        prof["h%d.example" % (did % 40)].add(md5(text))
        if did % 40 in (0, 1):
            prof["m%d.example" % (did % 40)].add(md5(text))
        if did % 40 == 2:
            prof["m2.example"].add(
                md5(text) if did % 80 == 2 else md5(text + "|m2-only"))
        if did % 40 == 3:
            prof["m3.example"].add(
                md5(text) if did % 280 == 3 else md5(text + "|m3-only"))
    hosts = sorted(prof)
    exp = set()
    for i, a in enumerate(hosts):
        for b in hosts[i + 1:]:
            common = len(prof[a] & prof[b])
            if not common:
                continue
            ov = float(common) / float(min(len(prof[a]), len(prof[b])))
            v = ("mirror" if ov >= 0.9 else
                 "partial_mirror" if ov >= 0.4 else "related")
            exp.add((a, b, len(prof[a]), len(prof[b]), common,
                     repr(ov), v))
    got = {(a, b, na, nb, c, repr(ov), v)
           for a, b, na, nb, c, ov, v in rows}
    assert got == exp
    verd = {(a, b): v for a, b, *_, v in rows}
    assert verd[("h0.example", "m0.example")] == "mirror"
    assert verd[("h1.example", "m1.example")] == "mirror"
    assert verd[("h2.example", "m2.example")] == "partial_mirror"
    assert verd[("h3.example", "m3.example")] == "related"
    assert len(rows) == 4


def test_length_quantiles_semantics(duck, entry_mod):
    """Independent Python recomputation: exact type-1 quantiles from
    the raw texts (sorted token counts, rank ceil(q*n/100)) for every
    language, plus min/max and doc counts."""
    import math

    rows = duck.sql(entry_mod.all_oracles()["length_quantiles"]
                    ).fetchall()
    docs = duck.sql("SELECT doc_id, lang, text FROM documents"
                    ).fetchall()
    by_lang = {}
    for did, lang, text in docs:
        by_lang.setdefault(lang, []).append((len(text.split(" ")), did))
    exp = set()
    for lang, pairs in by_lang.items():
        pairs.sort()
        toks = [n for n, _ in pairs]
        n = len(toks)
        qs = [toks[math.ceil(q * n / 100) - 1] for q in (50, 90, 99)]
        exp.add((lang, n, min(toks), qs[0], qs[1], qs[2], max(toks)))
    assert set(map(tuple, rows)) == exp


def test_robots_wildcard_semantics(duck, entry_mod):
    """Independent Python recomputation with re.fullmatch-free
    translation of our own (fnmatch-style) — every URL's verdict is
    re-derived from the RAW rule list (own '*'/'$' translation via
    regex built independently), and the class pins: the $-anchor
    negative (.pdfx) is fetchable, the Allow-over-Disallow length
    ladder resolves /private/open*.pdf to allow, no-match defaults
    to fetch."""
    import re

    rules = [("/private/*", 0), ("/private/open*", 1),
             ("/*.pdf$", 0), ("/public*", 1), ("/tmp", 0)]

    def matches(rule, path):
        # own translation: split on '*', escape segments, anchor
        anchored = rule.endswith("$")
        body = rule[:-1] if anchored else rule
        rex = "^" + ".*".join(re.escape(seg)
                              for seg in body.split("*"))
        rex += "$" if anchored else ""
        return re.search(rex, path) is not None

    rows = duck.sql(entry_mod.all_oracles()["robots_wildcard_filter"]
                    ).fetchall()
    assert len(rows) == 500
    for doc_id, path, mrule, is_allow, verdict in rows:
        cand = [(len(r), a, r) for r, a in rules if matches(r, path)]
        if not cand:
            assert (mrule, is_allow, verdict) == (None, 1,
                                                  "no_rule_fetch")
            continue
        cand.sort(key=lambda t: (-t[0], -t[1], t[2]))
        wl, wa, wr = cand[0]
        assert mrule == wr and is_allow == wa, (doc_id, path)
        assert verdict == ("allow" if wa else "disallow")
    by_cls = {r[0] % 8: r[4] for r in rows}
    assert by_cls[3] == "no_rule_fetch"       # $-anchor negative
    assert by_cls[7] == "allow"               # 14-char Allow > 7-char
    assert by_cls[2] == "disallow" and by_cls[0] == "disallow"


def test_quality_classifier_semantics(duck, entry_mod):
    """Independent Python recomputation: logit = bias + sparse dot of
    token counts with the weight table, label by threshold — for
    every document."""
    from collections import Counter

    from pdf_parser_spark.ops.textstats import _QC_BIAS, _QC_WEIGHTS

    w = dict(_QC_WEIGHTS)
    rows = duck.sql(entry_mod.all_oracles()["quality_classifier"]
                    ).fetchall()
    docs = dict(duck.sql(
        "SELECT doc_id, lower(text) FROM documents").fetchall())
    assert len(rows) == 500
    for doc_id, n_hits, logit, label in rows:
        tc = Counter(docs[doc_id].split(" "))
        exp_hits = sum(c for t, c in tc.items() if t in w)
        exp_logit = _QC_BIAS + sum(w[t] * c for t, c in tc.items()
                                   if t in w)
        assert (n_hits, logit) == (exp_hits, exp_logit), doc_id
        assert label == ("keep" if exp_logit >= 0 else "drop")
    assert {r[3] for r in rows} == {"keep", "drop"}


def test_cdc_chunks_semantics(duck, entry_mod):
    """Independent Python recomputation of content-defined chunking:
    own bigram rolling-hash boundaries, own chunk assembly, own
    digest-set intersections for BOTH policies — plus the resync
    pins: fixed-size chunking shares ZERO chunks across the head-edit
    twins while CDC re-synchronizes (>=90% of pairs share a chunk,
    aggregate shared count in the hundreds)."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["cdc_chunks"]).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents"
                         ).fetchall())
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()

    def chunks(words):
        bounds = []
        for i, w in enumerate(words):
            nxt = words[i + 1] if i + 1 < len(words) else ""
            h = int(md5(w + "|" + nxt)[:15], 16)
            bounds.append(1 if h % 8 == 0 else 0)
        cdc, fixed, cid = {}, {}, 0
        run = 0
        for i, w in enumerate(words):
            cid = run
            cdc.setdefault(cid, []).append(w)
            fixed.setdefault(i // 8, []).append(w)
            run += bounds[i]
        c_digests = [md5(" ".join(v)) for v in cdc.values()]
        f_digests = [md5(" ".join(v)) for v in fixed.values()]
        return c_digests, f_digests

    exp = {}
    for did, text in docs.items():
        if did % 6:
            continue
        ws = text.split(" ")
        tws = ws[:3] + ["zz%d" % did, "qq%d" % did] + ws[3:]
        c0, f0 = chunks(ws)
        c1, f1 = chunks(tws)
        exp[did] = (len(c0), len(set(c0) & set(c1)),
                    len(set(f0) & set(f1)))
    got = {r[0]: (r[1], r[2], r[3]) for r in rows}
    assert got == exp
    tot_cdc = sum(v[1] for v in exp.values())
    tot_fix = sum(v[2] for v in exp.values())
    assert tot_fix == 0                       # fixed chunking: nothing
    assert tot_cdc >= 100                     # CDC: hundreds resync
    share = sum(1 for v in exp.values() if v[1] >= 1)
    assert share * 10 >= len(exp) * 9         # >=90% of pairs resync


def test_triangle_counts_semantics(duck, entry_mod):
    """Independent Python recomputation: brute-force triangle
    enumeration over the undirected host graph (itertools over
    adjacency sets — NOT the degree-ordered algorithm, so the
    orientation trick is verified against naive ground truth),
    plus per-host participation, exact-ppm clustering, and the
    hub pin (h0 neighbors everyone, so it touches every triangle)."""
    from itertools import combinations

    rows = duck.sql(entry_mod.all_oracles()["triangle_counts"]
                    ).fetchall()
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    und = set()
    for (s, t) in _py_webgraph_edges(doc_ids):
        if s != t:
            und.add((min(s, t), max(s, t)))
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tris = set()
    for u, v in und:
        for w in adj[u] & adj[v]:
            tris.add(tuple(sorted((u, v, w))))
    part = {}
    for t3 in tris:
        for h in t3:
            part[h] = part.get(h, 0) + 1
    exp = set()
    for h, nbrs in adj.items():
        dg = len(nbrs)
        if dg < 2:
            continue
        t = part.get(h, 0)
        ppm = (2 * t * 10 ** 6) // (dg * (dg - 1))
        exp.add((h, dg, t, ppm, len(tris)))
    assert set(map(tuple, rows)) == exp
    byhost = {r[0]: r for r in rows}
    assert byhost["h0.example"][2] == len(tris)  # hub touches all
    assert len(tris) > 0


def test_proximity_search_semantics(duck, entry_mod):
    """Independent Python recomputation: per (query, doc), the exact
    minimum position gap between the two terms, window cut, (min_gap,
    doc_id) rank — for all four query shapes including the
    absent-term query (zero rows)."""
    rows = duck.sql(entry_mod.all_oracles()["proximity_search"]
                    ).fetchall()
    docs = dict(duck.sql("SELECT doc_id, lower(text) FROM documents"
                         ).fetchall())
    queries = [(0, "spark", "join", 3), (1, "window", "filter", 5),
               (2, "dup", "merge", 8), (3, "spark", "zzzabsent", 4)]
    exp = []
    for qid, ta, tb, win in queries:
        cands = []
        for did, text in docs.items():
            ws = text.split(" ")
            pa = [i for i, w in enumerate(ws) if w == ta]
            pb = [i for i, w in enumerate(ws) if w == tb]
            if not pa or not pb:
                continue
            gap = min(abs(a - b) for a in pa for b in pb)
            if gap <= win:
                cands.append((gap, did))
        cands.sort()
        exp.extend((qid, did, gap, rk)
                   for rk, (gap, did) in enumerate(cands[:10], 1))
    assert sorted(rows) == sorted(exp)
    assert not any(r[0] == 3 for r in rows)   # absent term: no rows
    assert {r[0] for r in rows} >= {0, 1, 2}  # every real query hits


def test_simhash_hamming_semantics(duck, entry_mod):
    """Independent Python recomputation of the full Manku pipeline —
    48-bit simhash per doc (near-dup corpus), then the O(n²) scan at
    Hamming radius 3 — asserting the banded 4×12-bit block join loses
    ZERO pairs (the pigeonhole exhaustiveness guarantee) and invents
    none."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["simhash_hamming"]
                    ).fetchall()
    docs = dict(duck.sql("SELECT doc_id, text FROM documents"
                         ).fetchall())
    corpus = dict(docs)
    for did, text in docs.items():
        if did % 4 == 0:
            corpus[did + 1000000] = text[text.find(" ") + 1:]

    def simhash(text, nb=48):
        votes = [0] * nb
        for w in text.split(" "):
            hv = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(nb):
                votes[b] += 1 if (hv >> b) & 1 else -1
        return sum(1 << b for b in range(nb) if votes[b] > 0)

    sigs = {did: simhash(t) for did, t in corpus.items()}
    ids = sorted(sigs)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 3:
                truth.add((a, b, h))
    assert set(map(tuple, rows)) == truth
    # the engineered one-word-dropped twins are found, including
    # exact-fingerprint hits (the corpus also contains genuinely
    # similar distinct docs — templated text — so twins need not be
    # the whole verified set)
    twins = [(a, b, h) for a, b, h in rows if b - a == 1000000]
    assert len(twins) > 50
    assert any(h == 0 for _, _, h in twins)


def test_label_propagation_semantics(duck, entry_mod):
    """Independent Python recomputation of 3-round synchronous
    weighted LPA over the symmetrized link graph (max-weight neighbor
    label, lexicographic tie-break) — labels AND community sizes."""
    from collections import Counter, defaultdict

    rows = duck.sql(entry_mod.all_oracles()["label_propagation"]
                    ).fetchall()
    lg = duck.sql(entry_mod.all_oracles()["link_graph"]).fetchall()
    adj = defaultdict(int)
    for s, t, w in lg:
        if s != t:
            adj[(s, t)] += w
            adj[(t, s)] += w
    hosts = sorted({u for u, _ in adj})
    lbl = {h: h for h in hosts}
    for _ in range(3):
        sc = defaultdict(lambda: defaultdict(int))
        for (u, v), w in adj.items():
            sc[u][lbl[v]] += w
        lbl = {h: sorted(sc[h].items(), key=lambda kv: (-kv[1], kv[0]))
               [0][0] for h in hosts}
    cnt = Counter(lbl.values())
    truth = {(h, lbl[h], cnt[lbl[h]]) for h in hosts}
    assert set(map(tuple, rows)) == truth
    n_comm = len(cnt)
    assert 1 < n_comm < len(hosts)  # non-degenerate clustering


def test_headings_outline_semantics(duck, entry_mod):
    """Independent Python recomputation of the outline: regenerate
    each doc's synthesized body, re-extract h1-h3 in order, and
    re-derive every heading's parent (nearest preceding lower level);
    plus the designed edges — the h4 decoy never appears, the empty
    h2 appears with empty text, h3 details parent to Part A, and
    every h1 has parent -1."""
    import re

    rows = duck.sql(entry_mod.all_oracles()["headings_outline"]
                    ).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    want = []
    for did, text in docs:
        body = ("<h1>%s</h1><p>intro</p>" % text[:12].strip()
                + "<h2>Part A %d</h2><p>a</p>" % did)
        if did % 3 == 0:
            body += "<h3>Detail A1 %d</h3><p>d</p>" % did
            if did % 5 == 2:
                body += "<h3>Detail A2</h3><p>e</p>"
        body += "<h4>not in outline</h4>"
        if did % 7 == 1:
            body += "<h2></h2>"
        body += "<h2>Part B</h2><p>b</p>"
        hs = re.findall(r"<h([1-3])>([^<]*)</h[1-3]>", body)
        for i, (lv, htxt) in enumerate(hs):
            parent = -1
            for j in range(i - 1, -1, -1):
                if int(hs[j][0]) < int(lv):
                    parent = j
                    break
            want.append((did, i, int(lv), htxt, parent))
    assert sorted(map(tuple, rows)) == sorted(want)
    assert not any("outline" in r[3] for r in rows)        # h4 decoy
    assert any(r[2] == 2 and r[3] == "" for r in rows)     # empty h2
    assert all(r[4] == -1 for r in rows if r[2] == 1)      # h1 roots
    assert any(r[2] == 3 and r[4] == 1 for r in rows)      # h3 → Part A


def test_hyperball_nf_semantics(duck, entry_mod):
    """Independent Python recomputation of the neighborhood function:
    BFS reachable sets per radius (exact_nf = 50 x |reach|) AND the
    full HLL register pipeline (md5 bucket/rho split, integer harmonic
    sum, raw estimator, floor) — both columns, every host, radius
    0..3.  Plus the regime invariants: exact_nf is monotone in radius
    and the radius>=1 estimates land within the canonical ~26%/sqrt(m)
    HLL band of truth."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["hyperball_nf"]).fetchall()
    lg = duck.sql(entry_mod.all_oracles()["link_graph"]).fetchall()
    adj = {}
    for s, t, _ in lg:
        if s != t:
            adj.setdefault(s, set()).add(t)
            adj.setdefault(t, set()).add(s)
    hosts = sorted(adj)
    want = []
    for h in hosts:
        reach = {h}
        for r in range(4):
            if r > 0:
                reach = reach | {n for x in reach for n in adj[x]}
            regs = {}
            for rh in sorted(reach):
                for rep in range(50):
                    hx = hashlib.md5(
                        ("%s#%d" % (rh, rep)).encode()).hexdigest()
                    v = int(hx[:15], 16)
                    bucket, w = divmod(v, 1 << 54)
                    m = 55 if w == 0 else 55 - w.bit_length()
                    regs[bucket] = max(regs.get(bucket, 0), m)
            int_sum = (sum(1 << (56 - m) for m in regs.values())
                       + (64 - len(regs)) * (1 << 56))
            alpha = 0.7213 / (1.0 + 1.079 / 64.0)
            est = (alpha * 64.0 * 64.0 * 72057594037927936.0) / int_sum
            want.append((h, r, 50 * len(reach), int(est // 1)))
    got = sorted(map(tuple, rows))
    assert got == sorted(want)
    by_host = {}
    for h, r, nf, est in got:
        by_host.setdefault(h, []).append((r, nf, est))
    for h, seq in by_host.items():
        nfs = [nf for _, nf, _ in sorted(seq)]
        assert nfs == sorted(nfs)               # monotone in radius
        for r, nf, est in seq:
            if r >= 1:                          # in-regime radii
                assert abs(est - nf) <= 0.35 * nf, (h, r, nf, est)


def test_hyperball_df_matches_sql(spark, entry_mod):
    """Register-merging HyperBall twin ≡ the unrolled SQL's estimate
    columns on Spark (no reachable-set materialization in the twin)."""
    from pdf_parser_spark.ops.webgraph import hyperball_df
    from query_registry import QUERY_SQL

    entry_mod._register(spark, SF_DIR)
    got = sorted(tuple(r) for r in hyperball_df(spark).collect())
    exp = sorted(tuple(r) for r in spark.sql(
        QUERY_SQL["hyperball_nf"]["spark"])
        .selectExpr("host", "radius", "hll_nf").collect())
    assert got == exp


def test_kcore_peel_semantics(duck, entry_mod):
    """Independent Python recomputation of synchronous k-core peeling
    (k=4) over the symmetrized distinct host graph: per-round
    within-alive degrees, peel round attribution, and the stable core
    degrees — plus the structural invariants (core is nonempty here,
    every peeled host's recorded degree < k, every core degree >= k,
    and the peel reaches fixpoint inside the unrolled round count)."""
    rows = duck.sql(entry_mod.all_oracles()["kcore_peel"]).fetchall()
    lg = duck.sql(entry_mod.all_oracles()["link_graph"]).fetchall()
    adj = set()
    for s, t, _ in lg:
        if s != t:
            adj.add((s, t))
            adj.add((t, s))
    alive = {u for u, _ in adj}
    want, k, rnd = {}, 4, 0
    while True:
        rnd += 1
        deg = {h: 0 for h in alive}
        for u, v in adj:
            if u in alive and v in alive:
                deg[u] += 1
        new = {h for h in alive if deg[h] >= k}
        for h in alive - new:
            want[h] = (rnd, deg[h])
        if new == alive:
            for h in alive:
                want[h] = (0, deg[h])
            break
        alive = new
    assert rnd <= 5                     # fixpoint within the unroll
    got = {r[0]: (r[1], r[2]) for r in rows}
    assert got == want
    core = [h for h, (pr, _) in want.items() if pr == 0]
    assert core and len(core) < len(want)          # nontrivial peel
    assert all(d >= k for h, (pr, d) in want.items() if pr == 0)
    assert all(d < k for h, (pr, d) in want.items() if pr > 0)


def test_kcore_df_matches_sql(spark, entry_mod):
    """Fixpoint-looped k-core twin ≡ the unrolled SQL on Spark."""
    from pdf_parser_spark.ops.webgraph import kcore_df
    from query_registry import QUERY_SQL

    entry_mod._register(spark, SF_DIR)
    got = sorted(tuple(r) for r in kcore_df(spark).collect())
    exp = sorted(tuple(r) for r in spark.sql(
        QUERY_SQL["kcore_peel"]["spark"]).collect())
    assert got == exp


def test_politeness_schedule_semantics(duck, entry_mod):
    """Independent Python recomputation of the per-host politeness
    queue: slot order (priority DESC, path ASC, doc_id ASC — the
    shared '/' root forces the id tie-break), fetch_at = slot * the
    host's crawl-delay, in_cycle horizon cut; plus the structural
    politeness invariants (inter-fetch gap exactly delay_ms, per-host
    in-cycle count = ceil(horizon / delay))."""
    from collections import defaultdict

    rows = duck.sql(entry_mod.all_oracles()["politeness_schedule"]
                    ).fetchall()
    docs = [r[0] for r in duck.sql("SELECT doc_id FROM documents"
                                   ).fetchall()]
    per = defaultdict(list)
    for did in docs:
        hid = did % 40
        m5 = did % 5
        if m5 == 0:
            path = "/p%d" % did
        elif m5 == 1:
            path = "/private/x%d" % did
        elif m5 == 2:
            path = "/public/a%d" % did
        elif m5 == 3:
            path = "/p/ok/%d" % did
        else:
            path = "/dup/z%d" % did if did % 10 == 4 else "/"
        per["h%d.example" % hid].append(
            (path, (did * 37) % 1000, 500 * (1 + hid % 4), did))
    truth = []
    for host, lst in per.items():
        lst.sort(key=lambda x: (-x[1], x[0], x[3]))
        for slot, (path, pri, delay, _) in enumerate(lst):
            t = slot * delay
            truth.append((host, path, pri, slot, t,
                          1 if t < 10000 else 0))
    assert sorted(map(tuple, rows)) == sorted(truth)
    # politeness invariants per host
    byhost = defaultdict(list)
    for host, _, _, slot, t, inc in rows:
        byhost[host].append((slot, t, inc))
    for host, lst in byhost.items():
        lst.sort()
        delay = 500 * (1 + int(host[1:].split(".")[0]) % 4)
        gaps = [b[1] - a[1] for a, b in zip(lst, lst[1:])]
        assert all(g == delay for g in gaps)
        n_in = sum(inc for _, _, inc in lst)
        assert n_in == min(len(lst), -(-10000 // delay))


def test_quantile_sketch_semantics(duck, entry_mod):
    """Independent Python recomputation of the log-bucket sketch —
    AND the two properties that make it the at-scale quantile path:
    (1) the factor-2 bound est/2 < exact ≤ est against the exact
    type-1 quantiles of length_quantiles, (2) MERGEABILITY: building
    two half-corpus histograms and summing bucket counts reproduces
    the full-corpus estimates exactly."""
    from collections import defaultdict

    rows = duck.sql(entry_mod.all_oracles()["quantile_sketch"]
                    ).fetchall()
    exact = {r[0]: r for r in duck.sql(
        entry_mod.all_oracles()["length_quantiles"]).fetchall()}
    docs = duck.sql("SELECT doc_id, lang, text FROM documents"
                    ).fetchall()

    def estimates(hist, n):
        out = []
        cum = 0
        ranks = [-(-n * q // 100) for q in (50, 90, 99)]
        est = {}
        for b in sorted(hist):
            cum += hist[b]
            for q, r in zip((50, 90, 99), ranks):
                if q not in est and cum >= r:
                    est[q] = (1 << b) - 1
        return [est[q] for q in (50, 90, 99)]

    # full-corpus recomputation
    hists = defaultdict(lambda: defaultdict(int))
    for _, lang, text in docs:
        v = max(len(text.split(" ")), 1)
        hists[lang][v.bit_length()] += 1
    truth = {}
    for lang, h in hists.items():
        n = sum(h.values())
        truth[lang] = (n, len(h), *estimates(h, n))
    assert {(r[0], *r[1:]) for r in map(tuple, rows)} == \
        {(lang, *v) for lang, v in truth.items()}
    # factor-2 bound vs the exact quantiles
    for lang, n, nb, p50, p90, p99 in rows:
        for est, true in zip((p50, p90, p99),
                             (exact[lang][3], exact[lang][4],
                              exact[lang][5])):
            assert est / 2 < true <= est, (lang, est, true)
    # mergeability: two shard histograms sum to the full sketch
    for lang in hists:
        h1, h2 = defaultdict(int), defaultdict(int)
        for did, dl, text in docs:
            if dl != lang:
                continue
            v = max(len(text.split(" ")), 1)
            (h1 if did % 2 == 0 else h2)[v.bit_length()] += 1
        merged = defaultdict(int)
        for h in (h1, h2):
            for b, c in h.items():
                merged[b] += c
        n = sum(merged.values())
        assert estimates(merged, n) == list(truth[lang][2:])


def test_bpe_encode_semantics(duck, entry_mod):
    """Independent Python recomputation of the FULL lifecycle: train 4
    merges canonically (greedy max-count, (count DESC, pair ASC)
    ties), apply them with the canonical left-to-right non-overlapping
    scan, and require the in-plan per-doc (n_words, n_chars,
    n_bpe_tokens, saved) to match exactly — plus the invariants
    n_bpe_tokens ≤ n_chars and saved = n_chars - n_bpe_tokens > 0
    corpus-wide (the merge table actually compresses)."""
    from collections import Counter

    rows = duck.sql(entry_mod.all_oracles()["bpe_encode"]).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    vocab = Counter()
    for _, t in docs:
        for w in t.split(" "):
            if w:
                vocab[w] += 1
    syms = {w: list(w) for w in vocab}
    for _ in range(4):
        pc = Counter()
        for w, c in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        (a, b), _cnt = sorted(pc.items(),
                              key=lambda kv: (-kv[1], kv[0]))[0]
        for w in syms:
            s = syms[w]
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    truth = []
    for did, t in docs:
        ws = [w for w in t.split(" ") if w]
        nc = sum(len(w) for w in ws)
        nt = sum(len(syms[w]) for w in ws)
        truth.append((did, len(ws), nc, nt, nc - nt))
    assert sorted(map(tuple, rows)) == sorted(truth)
    assert all(nt <= nc for _, _, nc, nt, _ in rows)
    assert sum(s for *_, s in rows) > 0


def test_redirect_resolve_semantics(duck, entry_mod):
    """Independent Python recomputation of the pointer-doubling pass
    (3 rounds, hop accumulation) — PLUS the ground-truth check that
    matters: for every 'resolved' row, a plain SEQUENTIAL chase of the
    redirect chain reaches the same canonical in the same hop count
    (doubling ≡ chasing), chains up to 7 hops actually occur (all
    three rounds exercised), and every mutual-301 pair is flagged
    'loop', never chased to a bogus terminal."""
    rows = duck.sql(entry_mod.all_oracles()["redirect_resolve"]
                    ).fetchall()
    ids = {r[0] for r in duck.sql("SELECT doc_id FROM documents"
                                  ).fetchall()}

    def nxt(i):
        if i % 97 == 95:
            return i + 1
        if i % 97 == 96:
            return i - 1
        if i % 8 != 0:
            return i - 1
        return None

    ptr, hops = {}, {}
    for i in ids:
        n = nxt(i)
        ptr[i] = i if n is None else n
        hops[i] = 0 if n is None else 1
    for _ in range(3):
        ptr, hops = ({i: ptr[ptr[i]] for i in ids},
                     {i: hops[i] + hops[ptr[i]] for i in ids})
    truth = set()
    for i in ids:
        verdict = "loop" if nxt(ptr[i]) is not None else "resolved"
        truth.add(("https://h%d.example/r%d" % (i % 40, i),
                   "https://h%d.example/r%d" % (ptr[i] % 40, ptr[i]),
                   hops[i], verdict))
    assert set(map(tuple, rows)) == truth
    for i in ids:
        if nxt(ptr[i]) is None:
            j, h = i, 0
            while nxt(j) is not None:
                j = nxt(j)
                h += 1
            assert j == ptr[i] and h == hops[i]
    assert max(h for _, _, h, v in rows if v == "resolved") == 7
    assert sum(1 for r in rows if r[3] == "loop") > 0


def test_spell_suggest_semantics(duck, entry_mod):
    """Ground truth by brute force: enumerate EVERY (query, vocab
    word) pair, compute real Levenshtein-style ed ≤ 1 membership in
    Python, and require exact set equality — pinning both soundness
    (every suggestion is truly within distance 1, correctly classed)
    and SymSpell's completeness guarantee (the deletion-neighborhood
    join misses nothing, including the transposition-shaped equal-
    length ed-2 pairs it must EXCLUDE); the miss class returns no
    rows."""
    from collections import Counter

    rows = duck.sql(entry_mod.all_oracles()["spell_suggest"]
                    ).fetchall()
    docs = duck.sql("SELECT text FROM documents").fetchall()
    vocab = Counter()
    for (t,) in docs:
        for w in t.split(" "):
            if w and len(w) >= 3:
                vocab[w] += 1
    topv = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    queries = set()
    for rk, (w, _c) in enumerate(topv, 1):
        queries |= {("sub", w[:1] + "x" + w[2:]),
                    ("del", w[:1] + w[2:]),
                    ("ins", w[:1] + "q" + w[1:]),
                    ("exact", w), ("miss", "zzz%dzzz" % rk)}

    def ed_le1(a, b):
        if a == b:
            return 0
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return 2
        if la == lb:
            return 1 if sum(1 for x, y in zip(a, b) if x != y) == 1 \
                else 2
        s, l = (a, b) if la < lb else (b, a)
        return 1 if any(l[:i] + l[i + 1:] == s for i in range(len(l))) \
            else 2

    truth = set()
    for qc, q in queries:
        for w, c in vocab.items():
            dd = ed_le1(q, w)
            if dd <= 1:
                if dd == 0:
                    mc = "exact"
                elif len(q) == len(w):
                    mc = "substitution"
                elif len(q) < len(w):
                    mc = "deletion"
                else:
                    mc = "insertion"
                truth.add((qc, q, w, c, dd, mc))
    assert set(map(tuple, rows)) == truth
    assert not any(r[0] == "miss" for r in rows)
    assert {r[5] for r in rows} == {"exact", "substitution",
                                    "deletion", "insertion"}


def test_bpe_encode_df_matches_sql(spark, entry_mod):
    """Iterative encode twin ≡ the unrolled SQL chain on Spark."""
    from query_registry import QUERY_SQL

    got = sorted(tuple(r) for r in entry_mod.all_queries()[
        "bpe_encode"](spark, SF_DIR).collect())
    exp = sorted(tuple(r) for r in spark.sql(
        QUERY_SQL["bpe_encode"]["spark"]).collect())
    assert got == exp


def test_range_partition_plan_semantics(duck, entry_mod):
    """Independent Python recomputation of the whole plan — sub-
    bucketed histogram (4 linear sub-buckets per octave, ceiling-
    division upper bounds), type-1-rank split points, boundary-count
    assignment, exact-ppm skew — PLUS the properties that make it a
    partitioner: partitions tile the value axis in order (max of
    partition k < min of partition k+1), every doc lands in exactly
    one partition, and the measured max-partition size respects the
    histogram-balance bound ceil(n/P) + (widest bucket crossed)."""
    rows = duck.sql(entry_mod.all_oracles()["range_partition_plan"]
                    ).fetchall()
    docs = [max(len(t.split(" ")), 1) for (t,) in duck.sql(
        "SELECT text FROM documents").fetchall()]
    from collections import Counter
    P = 8
    hist = Counter()
    for v in docs:
        b = v.bit_length()
        lo = 1 << (b - 1)
        hist[(b, (v - lo) * 4 // lo)] += 1
    n = len(docs)
    ranks = {k: -(-n * k // P) for k in range(1, P)}
    cum, est = 0, {}
    for (b, sub) in sorted(hist):
        cum += hist[(b, sub)]
        lo = 1 << (b - 1)
        ub = lo + -(-((sub + 1) * lo) // 4) - 1
        for k, r in ranks.items():
            if k not in est and cum >= r:
                est[k] = ub
    splits = [est[k] for k in range(1, P)]
    parts = {}
    for v in docs:
        parts.setdefault(sum(1 for s in splits if s < v), []).append(v)
    m = max(len(vs) for vs in parts.values())
    skew = m * P * 1000000 // n
    truth = sorted((p, len(vs), min(vs), max(vs), skew)
                   for p, vs in parts.items())
    assert sorted(map(tuple, rows)) == truth
    # ordered tiling + completeness
    ordered = sorted(rows)
    assert sum(r[1] for r in rows) == n
    for a, b2 in zip(ordered, ordered[1:]):
        assert a[3] < b2[2]
    # histogram-balance bound
    widest = max(hist.values())
    assert m <= -(-n // P) + widest


def test_pmi_collocations_semantics(duck, entry_mod):
    """Independent Python recomputation of the full PMI ranking —
    unigram/bigram counts, the staged exact integer score
    ⌊⌊n_xy·10^6·T/(n_x·n_y)⌋·T/B⌋, the ≥5 support cut, and the exact
    top-20 (score DESC, x, y) — plus the semantic sanity that every
    reported pair is a genuinely positive association (score above
    the independence baseline 10^6·T/B... i.e. observed > expected)."""
    from collections import Counter

    rows = [tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["pmi_collocations"]).fetchall()]
    texts = [t for (t,) in duck.sql("SELECT text FROM documents"
                                    ).fetchall()]
    uni, bgc = Counter(), Counter()
    for t in texts:
        ws = t.split(" ")
        for w in ws:
            if w:
                uni[w] += 1
        for a, b in zip(ws, ws[1:]):
            if a and b:
                bgc[(a, b)] += 1
    T, B = sum(uni.values()), sum(bgc.values())
    truth = []
    for (x, y), nxy in bgc.items():
        if nxy < 5:
            continue
        s = ((nxy * 1000000 * T) // (uni[x] * uni[y])) * T // B
        truth.append((x, y, nxy, uni[x], uni[y], s))
    truth.sort(key=lambda r: (-r[5], r[0], r[1]))
    assert rows == truth[:20]
    # positive association: observed n_xy exceeds the independence
    # expectation n_x*n_y*B/T² for every reported collocation
    for x, y, nxy, nx, ny, s in rows:
        assert nxy * T * T > nx * ny * B


def test_salsa_scores_semantics(duck, entry_mod):
    """Independent Python recomputation of 3 SALSA rounds (back-step
    ÷ indegree, forward-step ÷ outdegree, per-term integer floors) on
    the distinct edge set — plus the walk invariants: total authority
    mass never exceeds the scale (floor leakage only shrinks), pure
    sinks score authority > 0 and hub = 0, and SALSA's signature
    difference from HITS — the hub-linked h0's authority share is
    LOWER than its HITS share (degree division caps the dense hub's
    absorption)."""
    from collections import defaultdict

    rows = duck.sql(entry_mod.all_oracles()["salsa_scores"]).fetchall()
    lg = duck.sql(entry_mod.all_oracles()["link_graph"]).fetchall()
    ded = sorted({(s, t) for s, t, _ in lg})
    indeg, outdeg = defaultdict(int), defaultdict(int)
    for s, t in ded:
        indeg[t] += 1
        outdeg[s] += 1
    S = 10 ** 6
    a = {v: S // len(indeg) for v in indeg}
    h = {u: S // len(outdeg) for u in outdeg}
    for _ in range(3):
        m, a2 = defaultdict(int), defaultdict(int)
        for u, v in ded:
            m[u] += a[v] // indeg[v]
        for u, v in ded:
            a2[v] += m[u] // outdeg[u]
        w, h2 = defaultdict(int), defaultdict(int)
        for u, v in ded:
            w[v] += h[u] // outdeg[u]
        for u, v in ded:
            h2[u] += w[v] // indeg[v]
        a = {v: a2[v] for v in indeg}
        h = {u: h2[u] for u in outdeg}
    hosts = sorted(set(indeg) | set(outdeg))
    truth = {(x, a.get(x, 0), h.get(x, 0)) for x in hosts}
    assert set(map(tuple, rows)) == truth
    assert sum(a.values()) <= S
    sinks = [x for x in hosts if x not in outdeg]
    assert sinks
    byhost = {r[0]: r for r in rows}
    for x in sinks:
        assert byhost[x][1] > 0 and byhost[x][2] == 0
    hits = {r[0]: r for r in duck.sql(
        entry_mod.all_oracles()["hits_scores"]).fetchall()}
    h0 = "h0.example"
    salsa_share = byhost[h0][1] / sum(r[1] for r in rows)
    hits_share = hits[h0][2] / sum(r[2] for r in hits.values())
    assert salsa_share < hits_share


def test_encoding_repair_semantics(duck, entry_mod):
    """Independent Python mirror of the mojibake repair chain
    (injections included): every count, verdict flag, and the digest
    of the repaired text must match row-for-row; plus the contracts
    that pass 2 genuinely fires (double-encoded euro class), that the
    out-of-table form stays suspect, and that no in-table mojibake
    survives any repaired doc."""
    import hashlib
    import re

    from pdf_parser_spark.ops.textstats import _moji_table, _sloppy_cp1252

    table = _moji_table()

    def m(c):
        return _sloppy_cp1252(c.encode("utf-8"))

    def m2(c):
        return _sloppy_cp1252(m(c).encode("utf-8"))

    def chain(s):
        for ch, moji in table:
            s = s.replace(moji, ch)
        return s

    rows = duck.sql(entry_mod.all_oracles()["encoding_repair"]).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    pat = re.compile("|".join(mm for _, mm in table))
    n_pass2 = n_suspect = 0
    got = {r[0]: r for r in rows}
    assert len(rows) == len(docs)
    for doc_id, text in docs:
        s = text
        if doc_id % 3 == 1:
            s += " caf" + m("é") + " ma" + m("ñ") + "ana"
        if doc_id % 4 == 2:
            s += " " + m("“") + "quoted" + m("”") + " " + m("—") + " dash"
        if doc_id % 5 == 3:
            s += " 20" + m("€") + " at 30" + m("°")
        if doc_id % 11 == 5:
            s += " caf" + m2("é") + " for 9" + m2("€") + " twice"
        elif doc_id % 13 == 7:
            s += " unrepaired s" + m("û") + "r"
        p1 = chain(s)
        p2 = chain(p1)
        exp = (doc_id, len(pat.findall(s)),
               int(p1 != s), int(p2 != p1),
               int(bool(re.search("Ã|Â|â€", p2))),
               len(s), len(p2),
               hashlib.md5(p2.encode()).hexdigest())
        assert tuple(got[doc_id]) == exp, doc_id
        n_pass2 += exp[3]
        n_suspect += exp[4]
        if doc_id % 11 == 5:
            assert exp[3] == 1, "double-encoded euro must need pass 2"
            assert "€" in p2 and "é" in p2
        if doc_id % 13 == 7 and doc_id % 11 != 5:
            assert exp[4] == 1, "out-of-table form must stay suspect"
        if exp[4] == 0:
            assert not pat.search(p2)
    assert n_pass2 > 0 and n_suspect > 0


def test_feed_ingest_semantics(duck, entry_mod):
    """Independent Python recomputation: every document appears once
    in its host's feed with the right format (RSS on even hosts, Atom
    on odd — link carried as a child ELEMENT vs an ATTRIBUTE), link,
    ISO date, title, and freshness verdict."""
    rows = duck.sql(entry_mod.all_oracles()["feed_ingest"]).fetchall()
    assert len(rows) == 500
    seen = set()
    for host, fmt, link, published, title, is_fresh in rows:
        doc_id = int(link.rsplit("/", 1)[1])
        seen.add(doc_id)
        hid = doc_id % 40
        assert host == "h%d.example" % hid
        assert fmt == ("rss" if hid % 2 == 0 else "atom")
        assert link == "https://h%d.example/post/%d" % (hid, doc_id)
        assert published == "2024-%02d-%02d" % (
            1 + doc_id % 12, 1 + doc_id % 28)
        assert title == "Post %d" % doc_id
        assert is_fresh == (1 if published >= "2024-07-01" else 0)
    assert seen == set(range(500))
    assert {r[1] for r in rows} == {"rss", "atom"}  # both dialects hit


def test_script_detect_semantics(duck, entry_mod):
    """Independent Python recomputation with the ``regex`` module NOT
    in play: count codepoints by range directly and re-derive the
    argmax for every document."""
    rows = duck.sql(entry_mod.all_oracles()["script_detect"]).fetchall()
    assert len(rows) == 500

    def classify(ch):
        o = ord(ch)
        if ("a" <= ch <= "z") or ("A" <= ch <= "Z"):
            return "latin"
        if 0x0410 <= o <= 0x044F or ch in "Ёё":
            return "cyrl"
        if 0x0391 <= o <= 0x03A9 or 0x03B1 <= o <= 0x03C9:
            return "grek"
        if 0x4E00 <= o <= 0x9FFF:
            return "hani"
        if 0x0621 <= o <= 0x064A:
            return "arab"
        return None

    import duckdb as _dd
    texts = {r[0]: r[1] for r in duck.sql(
        "SELECT doc_id, text FROM documents").fetchall()}
    snips = {1: "Советский период истории России",
             2: "Ελληνική γλώσσα και ιστορία",
             3: "中文网页正文抽取流程",
             4: "النص العربي للاختبار هنا"}
    for doc_id, n_lat, n_cy, n_gr, n_ha, n_ar, script, ratio in rows:
        k = doc_id % 5
        txt = texts[doc_id] if k == 0 else (
            (snips[k] + " ") * 8 + texts[doc_id][:40])
        from collections import Counter
        c = Counter(filter(None, map(classify, txt)))
        assert (n_lat, n_cy, n_gr, n_ha, n_ar) == (
            c.get("latin", 0), c.get("cyrl", 0), c.get("grek", 0),
            c.get("hani", 0), c.get("arab", 0)), doc_id
        order = [("Latn", n_lat), ("Cyrl", n_cy), ("Grek", n_gr),
                 ("Hani", n_ha), ("Arab", n_ar)]
        best = max(range(5), key=lambda i: (order[i][1], -i))
        assert script == order[best][0], doc_id
        tot = n_lat + n_cy + n_gr + n_ha + n_ar
        assert abs(ratio - (tot - n_lat) / tot) < 1e-12
    from collections import Counter as C2
    assert C2(r[6] for r in rows) == C2(
        {"Latn": 100, "Cyrl": 100, "Grek": 100, "Hani": 100,
         "Arab": 100})


def test_epoch_shard_plan_semantics(duck, entry_mod):
    """Independent Python recomputation: md5 epoch keys, shard
    assignment, within-shard order, and the token prefix sums — plus
    the reproducibility property (same seed = same plan) and the
    permutation property (every doc exactly once)."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["epoch_shard_plan"]
                    ).fetchall()
    assert len(rows) == 500
    assert {r[0] for r in rows} == set(range(500))  # a permutation
    texts = {r[0]: r[1] for r in duck.sql(
        "SELECT doc_id, text FROM documents").fetchall()}

    def key(doc_id):
        h = hashlib.md5(("epoch-1-%d" % doc_id).encode()).hexdigest()
        return int(h[:15], 16)

    by_shard = {}
    for doc_id, shard, pos, n_tok, off in rows:
        assert shard == key(doc_id) % 16
        assert n_tok == len(texts[doc_id].split(" "))
        by_shard.setdefault(shard, []).append((pos, doc_id, n_tok, off))
    for shard, docs in by_shard.items():
        docs.sort()
        assert [p for p, *_ in docs] == list(range(1, len(docs) + 1))
        expect = sorted((key(di), di) for _, di, _, _ in docs)
        assert [di for _, di in expect] == [di for _, di, _, _ in docs]
        run = 0
        for _, _, n_tok, off in docs:
            assert off == run
            run += n_tok


def test_decontam_fuzzy_semantics(duck, entry_mod):
    """Independent Python recomputation: every injected near-dup twin
    (train doc carrying its partner eval text minus the first word)
    is flagged, every reported pair's exact 4-gram Jaccard is
    re-derived in plain Python and is ≥ 0.5, and the exact-13-gram
    screen CANNOT see the replaced-text twins' extra finding — the
    fixture's one organic eval near-duplicate (56 ↔ 157)."""
    rows = duck.sql(entry_mod.all_oracles()["decontam_fuzzy"]).fetchall()
    texts = {r[0]: r[1] for r in duck.sql(
        "SELECT doc_id, text FROM documents").fetchall()}

    def shingles(t):
        ws = t.split(" ")
        n = max(len(ws) - 3, 1)
        return {" ".join(ws[i:i + 4]) for i in range(n)}

    injected = set()
    train_text = {}
    for t in range(500):
        if t % 50 == 7:
            continue
        if t % 17 == 3:
            partner = 7 + 50 * (t % 10)
            train_text[t] = texts[partner].split(" ", 1)[1]
            injected.add((t, partner))
        else:
            train_text[t] = texts[t]
    got_pairs = {(r[0], r[1]) for r in rows}
    assert injected <= got_pairs
    for train_id, eval_id, inter, ev_n, tr_n, jac in rows:
        a = shingles(texts[eval_id])
        b = shingles(train_text[train_id])
        assert ev_n == len(a) and tr_n == len(b)
        assert inter == len(a & b)
        exp_j = len(a & b) / len(a | b)
        assert abs(jac - exp_j) < 1e-12 and jac >= 0.5
    # the organic fixture near-dup is found too — true fuzzy
    # contamination that shares no replaced-twin relationship
    assert (56, 157) in got_pairs


def test_intradoc_dedup_semantics(duck, entry_mod):
    """Independent Python recomputation of the running-max removal
    semantics for every document: repeated 8-gram windows after the
    first occurrence are stripped, originals survive, twins lose
    exactly their appended 12-word span."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["intradoc_dedup"]).fetchall()
    assert len(rows) == 500
    texts = {r[0]: r[1] for r in duck.sql(
        "SELECT doc_id, text FROM documents").fetchall()}
    K = 8
    for doc_id, n_words, n_removed, digest in rows:
        ws = texts[doc_id].split(" ")
        if doc_id % 9 == 5:
            ws = ws + ws[:K + 4]
        assert n_words == len(ws)
        first = {}
        rep_end = -1
        removed = []
        for p in range(len(ws)):
            if p + K <= len(ws):
                g = " ".join(ws[p:p + K])
                if g in first:
                    rep_end = max(rep_end, p + K - 1)
                else:
                    first[g] = p
            removed.append(rep_end >= p)
        assert n_removed == sum(removed), doc_id
        kept = " ".join(w for w, r in zip(ws, removed) if not r)
        assert digest == hashlib.md5(kept.encode()).hexdigest(), doc_id
        if doc_id % 9 == 5 and len(texts[doc_id].split(" ")) >= K + 4:
            assert n_removed == K + 4, doc_id


def test_winnow_matches_semantics(duck, entry_mod):
    """Full independent Python winnowing (grams → window minima →
    distinct fingerprints → pair counts): the SQL's output set must
    equal the recomputation EXACTLY, every injected copied-block pair
    must appear, and the guarantee must hold (a 40-word copied block
    always shares >= 1 fingerprint)."""
    import hashlib

    rows = duck.sql(entry_mod.all_oracles()["winnow_matches"]).fetchall()
    texts = {r[0]: r[1] for r in duck.sql(
        "SELECT doc_id, text FROM documents").fetchall()}
    n = len(texts)
    K, W, TAU = 4, 5, 2

    def fingerprints(t):
        ws = t.split(" ")
        grams = [" ".join(ws[i:i + K]) for i in range(len(ws) - K + 1)]
        hks = ["%s#%08d" % (hashlib.md5(g.encode()).hexdigest()[:15], i)
               for i, g in enumerate(grams)]
        fps = set()
        for s in range(len(hks) - W + 1):
            fps.add(min(hks[s:s + W])[:15])
        return fps

    fp_sets = {}
    for doc_id, text in texts.items():
        if doc_id % 13 == 4:
            partner = (doc_id + 101) % n
            text = text + " " + " ".join(
                texts[partner].split(" ")[:40])
        fp_sets[doc_id] = fingerprints(text)
    want = {}
    ids = sorted(fp_sets)
    import itertools
    # invert: fingerprint -> docs (the SQL's equi-join shape, not
    # all-pairs, so the recompute stays fast too)
    inv = {}
    for doc_id, fps in fp_sets.items():
        for fp in fps:
            inv.setdefault(fp, []).append(doc_id)
    from collections import Counter
    cnt = Counter()
    for fp, docs in inv.items():
        for a, b in itertools.combinations(sorted(docs), 2):
            cnt[(a, b)] += 1
    want = {(a, b, c) for (a, b), c in cnt.items() if c >= TAU}
    got = {tuple(r) for r in rows}
    assert got == want
    for t in range(n):
        if t % 13 == 4:
            p = (t + 101) % n
            pair = (min(t, p), max(t, p))
            assert cnt[pair] >= 1 and any(
                (a, b) == pair for a, b, _ in got), pair


def test_allpairs_prefix_is_lossless(duck, entry_mod):
    """The algorithm's contract IS the test: prefix-filtered output
    must EQUAL the unfiltered brute-force τ=0.6 Jaccard join over all
    pairs (recomputed in plain Python), and the prefix candidate set
    must be a small fraction of all pairs (the filter has to actually
    filter)."""
    import itertools

    rows = duck.sql(
        entry_mod.all_oracles()["dedup_allpairs_prefix"]).fetchall()
    texts = dict(duck.sql(
        "SELECT doc_id, text FROM documents").fetchall())
    corp = dict(texts)
    for doc_id, t in texts.items():
        if doc_id % 4 == 0:
            corp[doc_id + 1000000] = t.split(" ", 1)[1]

    def shingle_set(t):
        ws = t.split(" ")
        n = max(len(ws) - 3, 1)
        return {" ".join(ws[i:i + 4]) for i in range(n)}

    sets = {k: shingle_set(v) for k, v in corp.items()}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if 10 * i >= 6 * u:
            want.add((a, b, i))
    got = {(r[0], r[1], r[2]) for r in rows}
    assert got == want and len(got) > 100
    for left, right, inter, ln, rn, jac in rows:
        assert ln == len(sets[left]) and rn == len(sets[right])
        assert abs(jac - inter / (ln + rn - inter)) < 1e-12
        assert jac >= 0.6


def test_allpairs_prefix_candidates_are_pruned(duck, entry_mod):
    """The scale claim: prefix candidates ≪ n²/2.  Re-derive the
    candidate count by running the query's own CTE chain cut at
    ``cand`` and compare against all-pairs."""
    sql = entry_mod.all_oracles()["dedup_allpairs_prefix"]
    head, tail = sql.split("inter AS (", 1)
    cand_sql = head.rstrip().rstrip(",") + \
        "\nSELECT COUNT(*) FROM cand"
    n_cand = duck.sql(cand_sql).fetchone()[0]
    n_docs = duck.sql(
        "SELECT COUNT(*) + SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0"
        " END) FROM documents").fetchone()[0]
    all_pairs = n_docs * (n_docs - 1) // 2
    assert n_cand < all_pairs / 50, (n_cand, all_pairs)


def test_html_to_markdown_matches_engine(duck, entry_mod):
    """Differential: the relational markdown twin must agree with the
    ENGINE renderer (pdfio.html_extract.html_to_markdown) on
    identically-synthesized bodies — the same guarantee the parser
    queries carry.  Also pins the designed branch edges: the ul third
    item on doc_id%3=0, the ol on %4=1, the blockquote on %5=2, and
    inline strong/em/link/code in every doc."""
    import re

    from pdf_parser_spark.pdfio.html_extract import html_to_markdown

    rows = duck.sql(entry_mod.all_oracles()["html_to_markdown"]
                    ).fetchall()
    byid = {r[0]: r[1] for r in rows}
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    assert len(byid) == len(docs)
    for did, text in docs:
        slug = re.sub(" +", " ", re.sub("[^A-Za-z0-9 ]", "",
                                        text[:12])).strip() or "plain"
        body = (
            "<h1>Doc %d</h1>" % did
            + '<p>Intro <strong>bold %d</strong> and <em>%s</em> text'
              ' with a <a href="https://ex.org/d%d">link %d</a>.</p>'
              % (did, slug, did, did)
            + "<ul><li>alpha %d</li><li>beta</li>" % did
            + ("<li>gamma</li>" if did % 3 == 0 else "") + "</ul>"
            + ("<ol><li>first %d</li><li>second</li></ol>" % did
               if did % 4 == 1 else "")
            + ("<blockquote>note %d</blockquote>" % did
               if did % 5 == 2 else "")
            + "<p>tail <code>v_%d</code></p>" % did)
        assert html_to_markdown(body) == byid[did], did
    sample = byid[min(byid)]
    assert sample.startswith("# Doc ") and "**bold" in sample
    assert "- alpha" in sample and "](https://ex.org/d" in sample


def test_sentence_split_semantics(duck, entry_mod):
    """Independent Python recomputation of the sentence splitter on
    the same twinned input, plus the designed edges: the digit
    non-boundary (CHECK NO. 12 stays glued), the abbreviation false
    positive (Mr. / Smith split apart), and the across-newline
    boundary."""
    import re

    rows = duck.sql(entry_mod.all_oracles()["sentence_split"]
                    ).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    want = []
    for did, text in docs:
        if did % 3 == 0:
            txt = ("First rule. Second one! A third? Yes. CHECK NO. 12"
                   " stays glued. Mr. Smith splits.")
        elif did % 3 == 1:
            txt = "Crosses a line\nbreak. New sentence starts! Done."
        else:
            txt = text
        m = re.sub(r"([.!?])([ \t\n\r]+)([A-Z])", "\\1\x01\\3", txt)
        for i, s in enumerate(m.split("\x01")):
            t = s.strip()
            if t:
                want.append((did, i, t, len(t)))
    assert sorted(map(tuple, rows)) == sorted(want)
    sents = {r[2] for r in rows}
    assert "CHECK NO. 12 stays glued." in sents   # digit non-boundary
    assert "Mr." in sents and "Smith splits." in sents   # documented FP
    assert "Crosses a line\nbreak." in sents      # newline boundary


def test_html_table_extract_matches_engine(duck, entry_mod):
    """Differential: the relational table-grid twin must agree with
    the ENGINE stack parser (pdfio.html_extract.extract_html_tables)
    on identically-synthesized bodies — cell-for-cell with explode
    coordinates, including the th/td seam, the empty-cell class, the
    varying row count, and the second table on doc_id%5=3."""
    from pdf_parser_spark.pdfio.html_extract import extract_html_tables

    rows = duck.sql(entry_mod.all_oracles()["html_table_extract"]
                    ).fetchall()
    dids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    want = []
    for did in dids:
        def cell(r, c):
            return "" if (r + c) % 3 == 0 else "r%dc%d_%d" % (r, c, did)
        data = "".join(
            "<tr>" + "".join("<td>%s</td>" % cell(r, c)
                             for c in (1, 2, 3)) + "</tr>"
            for r in range(1, 2 + did % 4))
        body = ("<p>pre</p><table><tr><th>H1</th><th>H2</th><th>H3</th>"
                "</tr>" + data + "</table>"
                + ("<table><tr><td>solo %d</td></tr></table>" % did
                   if did % 5 == 3 else ""))
        for tno, grid in enumerate(extract_html_tables(body)):
            for rno, row in enumerate(grid):
                for cno, cl in enumerate(row):
                    want.append((did, tno, rno, cno, cl,
                                 1 if rno == 0 and tno == 0 else 0))
    assert sorted(map(tuple, rows)) == sorted(want)
    assert any(r[4] == "" for r in rows)            # empty-cell class
    assert any(r[1] == 1 for r in rows)             # multi-table docs
    assert {r[4] for r in rows if r[5] == 1} == {"H1", "H2", "H3"}


def test_readability_score_semantics(duck, entry_mod):
    """Independent Python recomputation of the Flesch battery on the
    same twinned input: all three counts, the fixed-order double, and
    the band thresholds."""
    import re

    rows = duck.sql(entry_mod.all_oracles()["readability_score"]
                    ).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    byid = {r[0]: r for r in rows}
    assert len(byid) == len(docs)
    for did, text in docs:
        if did % 3 == 0:
            txt = ("First rule. Second one! A third? Yes. CHECK NO. 12"
                   " stays glued. Mr. Smith splits.")
        elif did % 3 == 1:
            txt = "Crosses a line\nbreak. New sentence starts! Done."
        else:
            txt = text
        w = len(re.findall(r"[A-Za-z]+", txt))
        s = len(re.findall(r"[.!?][ \t\n\r]+[A-Z]", txt)) + 1
        y = len(re.findall(r"[aeiouy]+", txt.lower()))
        f = 0.0 if w == 0 else 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
        band = ("easy" if f >= 70 else "standard" if f >= 50
                else "difficult" if f >= 30 else "very_hard")
        got = byid[did]
        assert (got[1], got[2], got[3], got[5]) == (w, s, y, band), did
        assert got[4] == f or abs(got[4] - f) < 1e-12, did
    assert {r[5] for r in rows} >= {"easy", "standard"}  # bands vary


def test_bigram_lm_score_semantics(duck, entry_mod):
    """Independent Python recomputation of the stupid-backoff bigram
    LM: train counts on the doc_id%5<>0 split of the twinned corpus,
    then per-doc integer costs down all three branches (seen bigram /
    backoff-to-unigram / OOV floor)."""
    from collections import Counter

    rows = duck.sql(entry_mod.all_oracles()["bigram_lm_score"]
                    ).fetchall()
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()

    grams = {}
    for did, text in docs:
        toks = [w for w in (text + " zq%d the" % did).split(" ") if w]
        grams[did] = [(toks[i], toks[i + 1])
                      for i in range(len(toks) - 1)]
    uni, bg = Counter(), Counter()
    for did, pairs in grams.items():
        if did % 5 == 0:
            continue
        for x, y in pairs:
            uni[x] += 1
            bg[(x, y)] += 1
    total = sum(uni.values())

    want = {}
    for did, pairs in grams.items():
        if not pairs:
            continue
        costs, backed = [], 0
        for x, y in pairs:
            if (x, y) in bg:
                costs.append(uni[x] * 1000 // bg[(x, y)])
            else:
                backed += 1
                costs.append(total * 2500 // uni[y] if y in uni
                             else total * 2500)
        n = len(costs)
        want[did] = ("held" if did % 5 == 0 else "train", n,
                     sum(costs) // n, backed * 1000000 // n)
    got = {r[0]: tuple(r[1:]) for r in rows}
    assert got == want
    # all three branches exercised: held docs back off, train don't
    assert all(got[d][3] > 0 for d in got if d % 5 == 0)
    assert all(got[d][3] == 0 for d in got if d % 5 != 0)


def test_rocchio_expand_semantics(duck, entry_mod):
    """Independent Python recomputation of the full PRF chain: integer
    BM25 first pass, top-3 feedback docs, Rocchio centroid term
    ranking (originals excluded), and the α/β-weighted second pass."""
    from collections import Counter, defaultdict

    from pdf_parser_spark.ops.retrieval import _QUERY_TERMS

    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    toks = {did: text.split(" ") for did, text in docs}
    dl = {did: len(ws) for did, ws in toks.items()}
    N, S = len(dl), sum(dl.values())
    df = Counter()
    for ws in toks.values():
        for w in set(ws):
            df[w] += 1

    def idf(t):
        return (N - df[t]) * 1000 // (df[t] + 1)

    def w(t, tf, d):
        return (idf(t) * tf * 22 * S
                // (10 * S * tf + 3 * S + 9 * dl[d] * N))

    qterms = defaultdict(list)
    for qid, t in _QUERY_TERMS:
        qterms[qid].append(t)

    def pass_scores(weights):  # {(qid, term): weight} → {(qid, doc): s}
        sc = defaultdict(int)
        for did, ws in toks.items():
            tf = Counter(ws)
            for (qid, t), wt in weights.items():
                if tf[t]:
                    sc[(qid, did)] += wt * w(t, tf[t], did)
        return sc

    first = pass_scores({(q, t): 1 for q, ts in qterms.items()
                         for t in ts})
    want = []
    for qid, ts in qterms.items():
        ranked = sorted(((d_, s) for (q, d_), s in first.items()
                         if q == qid), key=lambda x: (-x[1], x[0]))
        fb = [d_ for d_, _ in ranked[:3]]
        cand = Counter()
        for d_ in fb:
            for t in toks[d_]:
                if t and t not in ts:
                    cand[t] += 1
        exp = sorted(((idf(t) * c, t) for t, c in cand.items()),
                     key=lambda x: (-x[0], x[1]))[:3]
        weights = {(qid, t): 1000 for t in ts}
        weights.update({(qid, t): 500 for _, t in exp})
        second = pass_scores(weights)
        rr = sorted(((d_, s) for (q, d_), s in second.items()
                     if q == qid), key=lambda x: (-x[1], x[0]))
        for rk, (d_, s) in enumerate(rr[:10], 1):
            want.append((qid, d_, s, rk))

    got = duck.sql(entry_mod.all_oracles()["rocchio_expand"]).fetchall()
    assert sorted(got) == sorted(want)
    base = {(r[0], r[1]) for r in duck.sql(
        entry_mod.all_oracles()["bm25_topk"]).fetchall()}
    assert {(r[0], r[1]) for r in got} - base  # expansion recalls new docs


def test_host_reputation_semantics(duck, entry_mod):
    """Independent Python recomputation: per-doc Gopher gate over the
    h7-twinned corpus, host rollup, integer E-B shrinkage, tiers."""
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    byhost = {}
    for did, text in docs:
        t = "x" if did % 40 == 7 else text
        ws = [w for w in t.split(" ") if w]
        wc, chars = len(ws), sum(len(w) for w in ws)
        ok = (40 <= wc <= 5000 and 3 <= chars // wc <= 12) if wc else False
        n, p = byhost.get("h%d.example" % (did % 40), (0, 0))
        byhost["h%d.example" % (did % 40)] = (n + 1, p + int(ok))
    tp = sum(p for _, p in byhost.values())
    tn = sum(n for n, _ in byhost.values())
    prior = tp * 1000000 // tn
    want = []
    for h, (n, p) in byhost.items():
        rep = (p * 1000000 + 10 * prior) // (n + 10)
        tier = ("keep" if rep >= 700000
                else "review" if rep >= 400000 else "block")
        want.append((h, n, p, rep, tier))
    got = duck.sql(entry_mod.all_oracles()["host_reputation"]).fetchall()
    assert sorted(got) == sorted(want)
    tiers = {r[4] for r in got}
    assert tiers == {"keep", "review", "block"}   # all tiers live
    # shrinkage floor: the all-fail twin host sits at m·prior/(n+m),
    # not at zero
    h7 = next(r for r in got if r[0] == "h7.example")
    assert h7[2] == 0 and h7[3] == 10 * prior // (h7[1] + 10)


def test_jsonld_extract_semantics(duck, entry_mod):
    """Independent Python recomputation: build the same synthesized
    page, extract the ld+json block with Python's json module (a THIRD
    json implementation vs the two engines'), and compare fields."""
    import json
    import re

    docs = duck.sql("SELECT doc_id FROM documents").fetchall()
    want = {}
    for (did,) in docs:
        if did % 3 == 0:
            js = {"@context": "https://schema.org", "@type": "Article",
                  "headline": "Doc %d headline" % did,
                  "datePublished": "2024-%02d-%02d"
                                   % (did % 12 + 1, did % 28 + 1),
                  "author": {"@type": "Person",
                             "name": "Author %d" % (did % 7)}}
        elif did % 3 == 1:
            js = {"@context": "https://schema.org", "@type": "Product",
                  "name": "Widget %d" % did,
                  "offers": {"@type": "Offer",
                             "price": "%d.50" % (did % 90 + 10),
                             "priceCurrency": "USD"}}
        else:
            js = None
        if js is None:
            want[did] = (None, None, None, None, None, 0)
        else:
            want[did] = (js["@type"],
                         js.get("headline") or js.get("name"),
                         (js.get("author") or {}).get("name"),
                         (js.get("offers") or {}).get("price"),
                         js.get("datePublished"), 1)
    got = {r[0]: tuple(r[1:]) for r in duck.sql(
        entry_mod.all_oracles()["jsonld_extract"]).fetchall()}
    assert got == want
    # the JS decoy carrying "@type" never leaks into extraction
    assert not any(v[0] == "Fake" for v in got.values())


def _py_events(duck):
    """(user_id, es, event_type, event_id) in (ts, event_id) order."""
    return duck.sql(
        "SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,"
        " event_type, event_id FROM events"
        " ORDER BY user_id, ts, event_id").fetchall()


def test_events_funnel_semantics(duck, entry_mod):
    """Independent Python recomputation of the greedy funnel: per
    user, truncate the (ts, event_id)-ordered funnel-event stream to
    its first 1 + uid % 19 rows, fold greedily, count per step —
    must equal both engines' rows exactly, and the fixture must
    exercise real drop-off (step 4 strictly below step 1)."""
    stage_of = {"view": 1, "click": 2, "signup": 3, "purchase": 4}
    per_user = {}
    for uid, es, et, _ in _py_events(duck):
        if et in stage_of:
            per_user.setdefault(uid, []).append(stage_of[et])
    reached = {}
    for uid, stages in per_user.items():
        acc = 0
        for s in stages[: 1 + uid % 19]:
            if s == acc + 1:
                acc += 1
        reached[uid] = acc
    users = {n: sum(1 for r in reached.values() if r >= n)
             for n in (1, 2, 3, 4)}
    import math
    names = {1: "view", 2: "click", 3: "signup", 4: "purchase"}
    want = {(n, names[n], users[n],
             math.floor((users[n] * 1000000) / users[1]))
            for n in (1, 2, 3, 4)}
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["events_funnel"]).fetchall()}
    assert got == want
    assert users[4] < users[1]      # drop-off genuinely exercised
    assert users[1] > 0


def test_events_funnel_tie_semantics(duck, entry_mod):
    """The greedy fold's (es, stage) tie order must equal the
    chained-min (>=) semantics on every user — brute-force the
    chain independently of BOTH shipped implementations."""
    stage_of = {"view": 1, "click": 2, "signup": 3, "purchase": 4}
    per_user = {}
    for uid, es, et, _ in _py_events(duck):
        if et in stage_of:
            per_user.setdefault(uid, []).append((es, stage_of[et]))
    for uid, evs in per_user.items():
        evs = evs[: 1 + uid % 19]
        # chained-min reach
        t, reach_chain = None, 0
        for step in (1, 2, 3, 4):
            cand = [es for es, s in evs
                    if s == step and (t is None or es >= t)]
            if not cand:
                break
            t, reach_chain = min(cand), step
        # greedy fold reach over (es, stage)-sorted stream
        acc = 0
        for _, s in sorted(evs):
            if s == acc + 1:
                acc += 1
        assert acc == reach_chain, uid


def test_events_retention_semantics(duck, entry_mod):
    """Python recompute of the cohort grid: weeks, churn filter,
    per-user first week, (cohort, offset) cells, ppm floors."""
    import math
    uw = set()
    for uid, es, _, _ in _py_events(duck):
        wk = es // 604800
        if (uid * 31 + wk) % 4 != 0:
            uw.add((uid, wk))
    w0 = {}
    for uid, wk in uw:
        w0[uid] = min(w0.get(uid, wk), wk)
    cells = {}
    for uid, wk in uw:
        key = (w0[uid], wk - w0[uid])
        cells[key] = cells.get(key, 0) + 1
    want = {(cw, off, n,
             math.floor((n * 1000000) / cells[(cw, 0)]))
            for (cw, off), n in cells.items()}
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["events_retention"]).fetchall()}
    assert got == want
    # churn genuinely exercised: some cell retains < 100%
    assert any(r[3] < 1000000 for r in got)


def test_kmv_overlap_semantics(duck, entry_mod):
    """Python recompute of the sketch set algebra: per host, KMV
    estimates of A, B, A∪B off the true hash sets, inclusion-
    exclusion with the zero clamp — every output integer must
    match, and the sketch must actually estimate (not copy)."""
    visits = _py_visits(duck)
    A, B = {}, {}
    for did, host, url in visits:
        if (did // 8) % 2 == 0:
            A.setdefault(host, set()).add(url)
        if (did // 8) % 3 != 0:
            B.setdefault(host, set()).add(url)

    def est(urls):
        hs = sorted(_h60(u) for u in urls)
        if len(hs) >= 16:
            return int((15.0 * 1152921504606846976.0) / hs[15])
        return len(hs)

    rows = duck.sql(entry_mod.all_oracles()["kmv_overlap"]).fetchall()
    assert len(rows) == 8
    for host, ea, eb, ec, sa, sb, su, sc in rows:
        a, b = A[host], B[host]
        assert (ea, eb, ec) == (len(a), len(b), len(a & b))
        assert sa == est(a) and sb == est(b) and su == est(a | b)
        assert sc == max(0, est(a) + est(b) - est(a | b))
    assert all(r[3] > 0 for r in rows)          # real shared tier
    assert any(r[7] != r[3] for r in rows)      # estimating, not copying


def test_zorder_cluster_semantics(duck, entry_mod):
    """Python recompute of the Morton layout + the locality pins:
    every zorder file sits in a 16x16 (host, size) rectangle while
    row-order files span (nearly) the full plane."""
    docs = duck.sql(
        "SELECT doc_id, n_chars FROM documents").fetchall()
    mx = max(n for _, n in docs)
    mn_id = min(d for d, _ in docs)
    mx_id = max(d for d, _ in docs)
    cells = {}
    for did, n in docs:
        xb = did % 64
        yb = (n * 64) // (mx + 1)
        z = 0
        for b in range(6):
            z += ((xb >> b) & 1) * 4 ** b + ((yb >> b) & 1) * 2 * 4 ** b
        for layout, fid in (("zorder", z // 256),
                            ("roworder",
                             ((did - mn_id) * 16) // (mx_id - mn_id + 1))):
            xs, ys = cells.setdefault((layout, fid), ([], []))
            xs.append(xb)
            ys.append(yb)
    want = {(lay, fid, len(xs), len(set(xs)),
             max(xs) - min(xs), max(ys) - min(ys))
            for (lay, fid), (xs, ys) in cells.items()}
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["zorder_cluster"]).fetchall()}
    assert got == want
    for lay, fid, n, nh, hs, ss in got:
        if lay == "zorder":
            assert hs <= 15 and ss <= 15, (fid, hs, ss)
    assert max(r[4] for r in got if r[0] == "roworder") >= 48
    assert max(r[5] for r in got if r[0] == "roworder") >= 32


def test_hreflang_alternates_semantics(duck, entry_mod):
    """Python recompute of the alternate-link table straight from the
    injection rules (self, en, fr flipped-attrs, de, x-default in
    head order; stylesheet/canonical decoys excluded)."""
    docs = duck.sql("SELECT doc_id, lang FROM documents").fetchall()
    want = set()
    for did, lang in docs:
        own = "h%d.example" % (did % 40)
        links = [(lang, own)]
        if did % 2 == 0:
            links.append(("en", "h%d.example" % ((did + 7) % 40)))
        if did % 4 == 1:
            links.append(("fr", "h%d.example" % ((did + 11) % 40)))
        if did % 3 == 0:
            links.append(("de", "h%d.example" % ((did + 23) % 40)))
        if did % 5 == 0:
            links.append(("x-default", own))
        for no, (hl, th) in enumerate(links):
            want.add((did, no, hl, th,
                      1 if th == own else 0,
                      1 if hl == "x-default" else 0))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["hreflang_alternates"]).fetchall()}
    assert got == want
    # the attribute-order-flipped fr link is genuinely extracted
    assert any(r[2] == "fr" for r in got)


def test_registered_domain_semantics(duck, entry_mod):
    """Independent Python implementation of the PSL algorithm over
    the same embedded rules and host families — exact row match, all
    four rule kinds plus the host-IS-suffix NULL edge exercised."""
    from pdf_parser_spark.ops.weburl import _PSL_RULES
    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]

    def host_of(did):
        fam = did % 8
        return ["www.site%d.com" % (did % 20),
                "a.b.site%d.co.uk" % (did % 20),
                "cdn.app%d.github.io" % (did % 15),
                "shop.mall%d.com.au" % (did % 10),
                "x.y%d.ck" % (did % 5),
                "sub%d.www.ck" % (did % 3),
                "weird%d.tldx" % (did % 7),
                "co.uk"][fam]

    def psl(host):
        labels = host.split(".")
        n = len(labels)
        exc = norm = wild = None
        for j in (1, 2):
            if j > n:
                break
            suffix = ".".join(labels[n - j:])
            tail1 = labels[-1]
            for rule, kind, ps_len in _PSL_RULES:
                if kind == "normal" and rule == suffix:
                    norm = max(norm or 0, ps_len)
                elif kind == "exception" and rule == suffix:
                    exc = ps_len
                elif kind == "wildcard" and j == 2 and rule == tail1:
                    wild = max(wild or 0, ps_len)
        if exc is not None:
            ps_len, kind = exc, "exception"
        else:
            ps_len = max(norm or 1, wild or 1)
            kind = ("wildcard" if (wild or 0) > (norm or 0)
                    else "normal" if norm is not None else "default")
        ps = ".".join(labels[n - ps_len:])
        reg = (".".join(labels[n - ps_len - 1:])
               if n > ps_len else None)
        return ps, reg, kind

    want = {(h,) + psl(h) for h in {host_of(did) for did in docs}}
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["registered_domain"]).fetchall()}
    assert got == want
    kinds = {r[3] for r in got}
    assert kinds == {"normal", "wildcard", "exception", "default"}
    assert any(r[2] is None for r in got)          # co.uk edge
    # multi-label suffixes actually matter: a naive last-two-labels
    # split would call a.b.siteK.co.uk's domain "co.uk"
    assert any(r[1] == "co.uk" and r[2] and r[2].endswith(".co.uk")
               for r in got)


def test_opengraph_cards_semantics(duck, entry_mod):
    """Python recompute of the fallback chain straight from the
    injection rules; the body CODE-SNIPPET og:title decoy must never
    surface."""
    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    want = set()
    for did in docs:
        og_t = "OG Story %d" % did if did % 2 == 0 else ""
        tw_t = "TW Story %d" % did if did % 3 == 0 else ""
        og_d = "OG summary %d" % did if did % 4 == 0 else ""
        title = (og_t or tw_t or "Page %d | Site" % did)
        tsrc = "og" if og_t else ("twitter" if tw_t else "title_tag")
        desc = og_d or "Meta summary %d" % did
        dsrc = "og" if og_d else "meta"
        want.add((did, title, tsrc, desc, dsrc,
                  1 if did % 5 == 0 else 0))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["opengraph_cards"]).fetchall()}
    assert got == want
    assert not any("FAKE" in (r[1] or "") for r in got)
    # every fallback tier fires somewhere
    assert {r[2] for r in got} == {"og", "twitter", "title_tag"}
    assert {r[4] for r in got} == {"og", "meta"}


def test_domain_cap_sample_semantics(duck, entry_mod):
    """Python recompute of the per-domain hash-rank cap; every domain
    keeps exactly min(size, 16) docs and the verdict per doc matches
    the independent md5 ranking."""
    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    by_dom = {}
    for did in docs:
        dom = ("big.example" if did % 2 == 0
               else "site%d.example" % (did % 20))
        by_dom.setdefault(dom, []).append(did)
    want = set()
    for dom, dids in by_dom.items():
        ranked = sorted(dids, key=lambda x: (_h60("cap|%d" % x), x))
        for i, did in enumerate(ranked):
            want.add((did, dom, i + 1, len(dids),
                      1 if i + 1 <= 16 else 0))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["domain_cap_sample"]).fetchall()}
    assert got == want
    kept = {}
    for did, dom, rank, n, k in got:
        kept[dom] = kept.get(dom, 0) + k
    for dom, dids in by_dom.items():
        assert kept[dom] == min(len(dids), 16), dom
    # the skew guard actually bites: the mega-domain is capped
    assert len(by_dom["big.example"]) > 16
    assert kept["big.example"] == 16


def test_amp_canonical_pairs_semantics(duck, entry_mod):
    """Python recompute of the declared-pair table from the injection
    rules: reciprocal pairs for healthy canonical/amp twins, two
    one-sided rows for the stale %20=3 tier."""
    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    present = set(docs)

    def url(did):
        return "https://h%d.example/d%d" % (did % 40, did)

    want = set()
    for did in docs:
        if did % 4 == 0:
            c, a = url(did), url(did + 3)
            amp_ok = (did + 3) in present and (did + 3) % 20 != 3
            if amp_ok:
                marker = "bolt" if (did + 3) % 8 == 3 else "amp"
                want.add((c, a, marker, 1, "both"))
            else:
                want.add((c, a, None, 0, "canonical_only"))
        if did % 4 == 3:
            marker = "bolt" if did % 8 == 3 else "amp"
            if did % 20 == 3:
                c = "https://evil.example/d%d" % did
                want.add((c, url(did), marker, 0, "amp_only"))
            else:
                c = url(did - 3)
                if (did - 3) not in present:
                    want.add((c, url(did), marker, 0, "amp_only"))
                # else covered by the canonical side's 'both' row
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["amp_canonical_pairs"]).fetchall()}
    assert got == want
    assert any(r[4] == "both" for r in got)
    assert any(r[4] == "amp_only" for r in got)
    assert any(r[4] == "canonical_only" for r in got)
    assert {r[2] for r in got if r[3] == 1} == {"amp", "bolt"}


def test_content_sniff_semantics(duck, entry_mod):
    """Independent BYTE-level re-implementation of the sniffer: build
    each doc's actual payload bytes from the tier spec + md5 filler,
    run a bytes sniffer (BOM strip, whitespace lstrip, ordered prefix
    rules incl. UTF-16 '<'), and compare verdicts — this pins the hex
    string form to real byte semantics (pair alignment, BOM offsets)."""
    import hashlib

    tier_hex = {0: "255044462d312e37", 1: "1f8b08",
                2: "89504e470d0a1a0a", 3: "ffd8ffe0",
                4: "efbbbf3c21646f63747970652068746d6c3e",
                5: "fffe3c00680074006d006c00",
                6: "feff003c00680074006d006c",
                7: "0a0d20203c48544d4c3e", 8: "504b0304",
                9: "574152432f312e30", 10: "00"}

    def sniff(payload: bytes):
        charset = "none"
        if payload.startswith(b"\xef\xbb\xbf"):
            charset, payload = "utf-8-bom", payload[3:]
        elif payload.startswith(b"\xff\xfe"):
            charset, payload = "utf-16le", payload[2:]
        elif payload.startswith(b"\xfe\xff"):
            charset, payload = "utf-16be", payload[2:]
        body = payload.lstrip(b"\n\r\t ")
        rules = [(b"\x89PNG\r\n\x1a\n", "image/png"),
                 (b"GIF8", "image/gif"), (b"\xff\xd8\xff", "image/jpeg"),
                 (b"%PDF", "application/pdf"),
                 (b"\x1f\x8b", "application/gzip"),
                 (b"PK\x03\x04", "application/zip"),
                 (b"WARC/", "application/warc")]
        for pre, label in rules:
            if body.startswith(pre):
                return charset, label
        if (body.startswith(b"<!") or body[:5].lower() == b"<html"
                or (charset == "utf-16le" and body.startswith(b"<\x00"))
                or (charset == "utf-16be" and body.startswith(b"\x00<"))):
            return charset, "text/html"
        return charset, "application/octet-stream"

    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    want = set()
    for did in docs:
        filler = hashlib.md5(("sniff|%d" % did).encode()).hexdigest()
        payload = bytes.fromhex(tier_hex[did % 11] + filler)
        cs, ct = sniff(payload)
        want.add((did, cs, ct))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["content_sniff"]).fetchall()}
    assert got == want
    # every rule branch fires somewhere
    assert {r[2] for r in got} == {
        "image/png", "image/jpeg", "application/pdf", "application/gzip",
        "application/zip", "application/warc", "text/html",
        "application/octet-stream"}
    assert {r[1] for r in got} == {"none", "utf-8-bom", "utf-16le",
                                   "utf-16be"}
    # the three html charset paths are distinct rule branches
    html_cs = {r[1] for r in got if r[2] == "text/html"}
    assert html_cs == {"none", "utf-8-bom", "utf-16le", "utf-16be"}


def test_link_spam_score_semantics(duck, entry_mod):
    """Independent Python recomputation of the reciprocity metrics
    and verdict tiers over independently derived edges (shared organic
    universe + the injected farm clique)."""
    doc_ids = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    edges = set(_py_webgraph_edges(doc_ids))
    members = sorted({d % 4 for d in doc_ids if d % 101 < 4})
    for m in members:
        for k in range(3):
            edges.add(("farm%d.example" % m,
                       "farm%d.example" % ((m + k + 1) % 4)))
    outs, ins = {}, {}
    for s, t in edges:
        outs.setdefault(s, set()).add(t)
        ins.setdefault(t, set()).add(s)
    want = set()
    for h, dsts in outs.items():
        out_deg = len(dsts)
        in_deg = len(ins.get(h, ()))
        recip = sum(1 for t in dsts if (t, h) in edges)
        ppm = 1000000 * recip // out_deg
        if out_deg >= 3 and recip == out_deg and in_deg == out_deg:
            verdict = "clique_spam"
        elif ppm >= 600000:
            verdict = "high_recip"
        else:
            verdict = "normal"
        want.add((h, out_deg, in_deg, recip, ppm, verdict))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["link_spam_score"]).fetchall()}
    assert got == want
    # the injected clique is flagged; the organic hub is NOT
    by_host = {r[0]: r[5] for r in got}
    assert {by_host["farm%d.example" % m] for m in members} \
        == {"clique_spam"}
    assert by_host["h0.example"] != "clique_spam"
    # all three tiers realized
    assert {r[5] for r in got} == {"clique_spam", "high_recip", "normal"}


def test_minmax_prune_stats_semantics(duck, entry_mod):
    """Independent Python recomputation of the layout assignment, the
    per-file min/max stats, the scan decisions, and the match counts;
    plus the pruning honesty invariants."""
    docs = duck.sql("SELECT doc_id, n_chars FROM documents").fetchall()
    mx = max(n for _, n in docs)
    mn_id = min(i for i, _ in docs)
    mx_id = max(i for i, _ in docs)

    def coords(i, n):
        xb = i % 64
        yb = n * 64 // (mx + 1)
        z = 0
        for b in range(6):
            z += ((xb >> b) & 1) * 4 ** b + ((yb >> b) & 1) * 2 * 4 ** b
        return xb, yb, z

    assigned = []  # (layout, file_id, xb, yb)
    for i, n in docs:
        xb, yb, z = coords(i, n)
        assigned.append(("zorder", z // 256, xb, yb))
        assigned.append(("roworder",
                         (i - mn_id) * 16 // (mx_id - mn_id + 1), xb, yb))
    preds = []
    for p in range(8):
        if p < 4:
            preds.append((p, "host_eq", (p * 17) % 64, -1, -1))
        else:
            preds.append((p, "size_band", -1, (p - 4) * 16,
                          (p - 4) * 16 + 15))
    fstats = {}
    for lay, f, xb, yb in assigned:
        st = fstats.setdefault((lay, f), [0, 64, -1, 64, -1])
        st[0] += 1
        st[1] = min(st[1], xb); st[2] = max(st[2], xb)
        st[3] = min(st[3], yb); st[4] = max(st[4], yb)
    want = set()
    for lay in ("zorder", "roworder"):
        files = {f: st for (l, f), st in fstats.items() if l == lay}
        for pid, kind, v, lo, hi in preds:
            scanned = skipped = rows_sc = 0
            for f, (n, mnx, mxx, mny, mxy) in files.items():
                hit = (mnx <= v <= mxx) if kind == "host_eq" \
                    else (mny <= hi and lo <= mxy)
                if hit:
                    scanned += 1; rows_sc += n
                else:
                    skipped += 1
            matched = sum(
                1 for l, f, xb, yb in assigned if l == lay and
                ((kind == "host_eq" and xb == v)
                 or (kind == "size_band" and lo <= yb <= hi)))
            want.add((lay, pid, kind, len(files), scanned, skipped,
                      rows_sc, matched))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["minmax_prune_stats"]).fetchall()}
    assert got == want
    # pruning honesty: identical answers across layouts, and every
    # matching row lives in a scanned file
    bym = {(r[0], r[1]): r for r in got}
    for pid in range(8):
        zr, rr = bym[("zorder", pid)], bym[("roworder", pid)]
        assert zr[7] == rr[7]           # rows_matched layout-invariant
        assert zr[7] <= zr[6] and rr[7] <= rr[6]
        assert zr[4] < rr[4]            # zorder scans fewer files


def test_bitext_mine_semantics(duck, entry_mod):
    """Independent Python recomputation of the anchor mining: rebuild
    both sides' texts from the injection spec, extract digit anchors,
    apply the df cap, join, score — and pin the tier structure."""
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    OFF = 1000000000
    SHIFT = str.maketrans("0123456789", "9012345678")

    sides = {}  # (side, id) -> text
    for k, text in docs:
        en = "%s inv%d tel%d seq%d yr2024" % (text, k * 37, k * 11 + 5, k)
        sides[("en", k)] = en
        if k % 3 == 0:
            toks = []
            for t in en.split(" "):
                if any(c.isdigit() for c in t):
                    toks.append(t.translate(SHIFT) if k % 15 == 3 else t)
                else:
                    toks.append(t[::-1])
            xx = " ".join(toks)
            if k % 9 == 0:
                xx += " inv%d" % ((k + 3) * 37)
            sides[("xx", k + OFF)] = xx

    anchors = {}  # (side, token) -> set of ids
    for (side, i), text in sides.items():
        for t in set(text.split(" ")):
            if any(c.isdigit() for c in t):
                anchors.setdefault((side, t), set()).add(i)
    shared = {}
    for (side, t), ids in anchors.items():
        if side == "en" and len(ids) <= 8:
            xx = anchors.get(("xx", t), set())
            if len(xx) <= 8:
                for e in ids:
                    for x in xx:
                        shared[(e, x)] = shared.get((e, x), 0) + 1
    want = set()
    for (e, x), n in shared.items():
        le = len(sides[("en", e)])
        lx = len(sides[("xx", x)])
        ratio = 1000000 * min(le, lx) // max(le, lx)
        true_pair = 1 if x - OFF == e else 0
        verdict = ("aligned" if n >= 3 and ratio >= 500000
                   else "candidate")
        want.add((e, x, n, le, lx, ratio, true_pair, verdict))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["bitext_mine"]).fetchall()}
    assert got == want
    # every aligned pair is a true pair; the corrupted %15=3 tier is
    # never aligned (its digit-shift can collide on at most 2 anchors)
    for e, x, n, le, lx, ratio, tp, v in got:
        if v == "aligned":
            assert tp == 1
        if (x - OFF) % 15 == 3:
            assert v == "candidate" and n <= 2
    # true twins outside the corrupted tier ARE mined as aligned
    aligned_en = {r[0] for r in got if r[7] == "aligned"}
    expect_en = {k for k, _ in docs if k % 3 == 0 and k % 15 != 3}
    assert aligned_en == expect_en
    # the stolen-anchor tier surfaces as single-anchor candidates
    assert any(r[2] == 1 and r[7] == "candidate" and r[6] == 0
               for r in got)


def test_posting_compression_semantics(duck, entry_mod):
    """Independent Python recomputation of the per-term posting-list
    costing under all three encodings, from the raw corpus."""
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    u = max(i for i, _ in docs) + 1
    postings = {}
    for i, text in docs:
        t = text + (" zzrare" if i == 7 else "")
        for w in set(t.split(" ")):
            if w:
                postings.setdefault(w, set()).add(i)
    want = set()
    bm_bytes = (u + 7) // 8
    for w, ids in postings.items():
        lst = sorted(ids)
        gaps = [lst[0] + 1] + [b - a for a, b in zip(lst, lst[1:])]
        varint = sum((g.bit_length() + 6) // 7 for g in gaps)
        df = len(lst)
        q = (u + df - 1) // df
        lb = 0 if q <= 1 else (q - 1).bit_length()
        ef_bits = df * (lb + 2)
        ef_bytes = (ef_bits + 7) // 8
        if varint <= ef_bytes and varint <= bm_bytes:
            winner = "varint"
        elif ef_bytes <= bm_bytes:
            winner = "elias_fano"
        else:
            winner = "bitmap"
        want.add((w, df, varint, ef_bits, ef_bytes, bm_bytes, winner))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["posting_compression"]).fetchall()}
    assert got == want
    # all three encodings win somewhere (the probe term pins varint)
    assert {r[6] for r in got} == {"varint", "elias_fano", "bitmap"}
    bywin = {r[0]: r[6] for r in got}
    assert bywin["zzrare"] == "varint"


def test_soft404_detect_semantics(duck, entry_mod):
    """Independent Python recomputation of the phrase+length-gate
    classifier, including the exact type-1 host medians."""
    import re
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    pages = {}
    for k, text in docs:
        if k % 17 == 4:
            pg = "error 404 page not found"
        elif k % 17 == 9:
            pg = "sorry this page no longer exists please return"
        elif k % 17 == 2:
            pg = "%s %s quoting error 404 page not found here" \
                % (text, text)
        else:
            pg = text
        pages[k] = ("h%d.example" % (k % 40), pg)
    byhost = {}
    for k, (h, pg) in pages.items():
        byhost.setdefault(h, []).append((len(pg), k))
    p50 = {}
    for h, lens in byhost.items():
        lens.sort()
        p50[h] = lens[(len(lens) + 1) // 2 - 1][0]
    rx = re.compile("(error 404|page not found|no longer exists)")
    want = set()
    for k, (h, pg) in pages.items():
        hp = 1 if rx.search(pg) else 0
        v = "soft404" if hp and 2 * len(pg) < p50[h] else "ok"
        want.add((k, h, len(pg), p50[h], hp, v))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["soft404_detect"]).fetchall()}
    assert got == want
    # template tiers all flagged; the quoting decoy tier all kept;
    # nothing else flagged
    by_doc = {r[0]: r[5] for r in got}
    for k in by_doc:
        if k % 17 in (4, 9):
            assert by_doc[k] == "soft404", k
        elif k % 17 == 2:
            assert by_doc[k] == "ok", k
        else:
            assert by_doc[k] == "ok", k


def test_sitemap_gap_semantics(duck, entry_mod):
    """Independent Python recomputation of the coverage reconciliation
    from the two injection rules."""
    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    declared, crawled = {}, {}
    for k in docs:
        h = "h%d.example" % (k % 40)
        u = "https://%s/p%d" % (h, k)
        crawled.setdefault(h, set()).add(u)
        if k % 11 != 5:
            declared.setdefault(h, set()).add(u)
        if k % 13 == 6:
            declared.setdefault(h, set()).add(
                "https://%s/q%d" % (h, k))
    want = set()
    for h in sorted(set(declared) | set(crawled)):
        dd = declared.get(h, set())
        cc = crawled.get(h, set())
        both = len(dd & cc)
        gap = len(dd - cc)
        orph = len(cc - dd)
        want.add((h, len(dd), len(cc), both, gap, orph,
                  1000000 * gap // len(dd),
                  1000000 * orph // len(cc)))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["sitemap_gap"]).fetchall()}
    assert got == want
    # both failure directions exist somewhere
    assert any(r[4] > 0 for r in got)
    assert any(r[5] > 0 for r in got)
    # conservation: both + gap = declared, both + orphans = crawled
    for r in got:
        assert r[3] + r[4] == r[1] and r[3] + r[5] == r[2]


def test_content_drift_semantics(duck, entry_mod):
    """Independent Python recomputation of the full drift pipeline —
    48-bit simhash per (url, snapshot), Hamming classification of
    both transitions, host rollup and AIMD backoff tiers."""
    import hashlib
    from collections import defaultdict

    docs = dict(duck.sql("SELECT doc_id, text FROM documents"
                         ).fetchall())

    def simhash(text, nb=48):
        votes = [0] * nb
        for w in text.split(" "):
            hv = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(nb):
                votes[b] += 1 if (hv >> b) & 1 else -1
        return sum(1 << b for b in range(nb) if votes[b] > 0)

    per_host = defaultdict(lambda: [0, 0, 0, 0])  # trans, unch, min, maj
    for did, text in docs.items():
        hid = did % 40
        warm = 6 <= hid < 14
        t1 = text[text.find(" ") + 1:] if warm else text
        t2 = ("major template rewrite the landing page was replaced "
              "entirely new copy " + text[:24]) if hid < 6 else text
        sigs = [simhash(t) for t in (text, t1, t2)]
        for prev, cur in ((sigs[0], sigs[1]), (sigs[1], sigs[2])):
            h = bin(prev ^ cur).count("1")
            c = per_host["h%d.example" % hid]
            c[0] += 1
            c[1 if h == 0 else (2 if h <= 8 else 3)] += 1
    want = set()
    for host, (n, u, mi, ma) in per_host.items():
        backoff = 1 if 2 * ma >= n else (2 if 2 * (ma + mi) >= n else 4)
        want.add((host, n, u, mi, ma, 1000000 * (mi + ma) // n, backoff))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["content_drift"]).fetchall()}
    assert got == want
    # every backoff tier and every drift class fires somewhere
    assert {r[6] for r in got} == {1, 2, 4}
    assert any(r[3] > 0 for r in got) and any(r[4] > 0 for r in got)


def test_crawl_depth_semantics(duck, entry_mod):
    """Independent Python BFS over the extracted host graph — exact
    hop distances from the seed, -1 beyond the 5-hop cap."""
    from collections import deque

    edges = duck.sql(entry_mod.all_oracles()["link_graph"]).fetchall()
    adj, nodes = {}, set()
    for s, t, _ in edges:
        adj.setdefault(s, set()).add(t)
        nodes.update((s, t))
    dist = {"h0.example": 0}
    q = deque(["h0.example"])
    while q:
        u = q.popleft()
        if dist[u] >= 5:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    want = {(h, dist.get(h, -1)) for h in nodes}
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["crawl_depth"]).fetchall()}
    assert got == want
    # the beyond-cap tier exists and the seed is depth 0
    assert ("h0.example", 0) in got
    assert any(d == -1 for _, d in got)


def test_crawl_depth_df_matches_sql(spark, duck, entry_mod):
    """The frontier/anti-join production BFS is row-identical to the
    unrolled walk-frontier oracle SQL."""
    from pdf_parser_spark.ops.webgraph import crawl_depth_df

    entry_mod._register(spark, SF_DIR)
    twin = sorted(tuple(r) for r in crawl_depth_df(spark).collect())
    want = sorted(tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["crawl_depth"]).fetchall())
    assert twin == want


def test_bm25f_fielded_semantics(duck, entry_mod):
    """Python recompute of the integer-exact BM25F math straight from
    the parquet corpus: synthesized titles (first-4 tokens, probe term
    prepended on doc_id%7=0), per-field tfs, either-field df, the
    rational pseudo-frequency saturation, and the deterministic top-k.
    Also pins the POINT of the op: a doc whose body never contains the
    probe term surfaces in the probe query's top-k on title evidence
    alone."""
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    qterms = [(0, "spark"), (0, "join"), (1, "dup"),
              (2, "window"), (2, "stream"), (2, "filter"),
              (3, "hash"), (3, "merge"), (4, "zzzabsent")]
    bodies = {did: t.split(" ") for did, t in docs}
    titles = {did: ((["dup"] if did % 7 == 0 else [])
                    + bodies[did][:4]) for did in bodies}
    dl = {did: len(ws) for did, ws in bodies.items()}
    n, s = len(bodies), sum(dl.values())

    tfs = {}
    for q, t in qterms:
        for did in bodies:
            tf_t = titles[did].count(t)
            tf_b = bodies[did].count(t)
            if tf_t or tf_b:
                tfs[(q, t, did)] = (tf_t, tf_b)
    df = {}
    for (q, t, did) in tfs:
        df.setdefault(t, set()).add(did)
    df = {t: len(ds) for t, ds in df.items()}

    score = {}
    for (q, t, did), (tf_t, tf_b) in tfs.items():
        d_ = s + 3 * dl[did] * n
        num = 3 * tf_t * d_ + 4 * tf_b * s
        sat = (5 * num * 1000) // (6 * d_ + 5 * num)
        idf = ((n - df[t]) * 1000) // (df[t] + 1)
        score[(q, did)] = score.get((q, did), 0) + idf * sat

    want = set()
    byq = {}
    for (q, did), sc in score.items():
        byq.setdefault(q, []).append((-sc, did))
    for q, lst in byq.items():
        for rk, (neg, did) in enumerate(sorted(lst)[:10], 1):
            want.add((q, did, -neg, rk))

    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["bm25f_fielded"]).fetchall()}
    assert got == want
    # the absent-term query yields no rows
    assert not any(q == 4 for q, *_ in got)
    # title-only evidence surfaces: some top-k doc for the probe query
    # has ZERO body occurrences of 'dup'
    assert any(q == 1 and "dup" not in bodies[did]
               for q, did, _, _ in got)


def test_microdata_extract_semantics(duck, entry_mod):
    """Python recompute of the microdata value-channel rules straight
    from the injection arithmetic; the data-itemprop decoy and the
    escaped code snippet must never surface."""
    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    want = set()
    for did in docs:
        itype = ("Article", "Product", "NewsArticle")[did % 3]
        if did % 3 == 1:
            headline, hsrc = "Item %d" % did, "name"
        else:
            headline, hsrc = "Story %d" % did, "headline"
        date = "" if did % 5 == 0 else "2024-0%d-11" % (did % 9 + 1)
        url = "https://site%d.example/p%d" % (did % 40, did)
        want.add((did, itype, headline, hsrc, date, url,
                  0 if did % 5 == 0 else 1))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["microdata_extract"]).fetchall()}
    assert got == want
    # all three value channels and the fallback fire somewhere
    assert {r[1] for r in got} == {"Article", "Product", "NewsArticle"}
    assert {r[3] for r in got} == {"headline", "name"}
    assert any(r[4] == "" for r in got) and any(r[4] != "" for r in got)
    # decoys never leak
    assert not any("DECOY" in r[2] or "FAKE" in r[2] for r in got)


def test_opic_priority_semantics(duck, entry_mod):
    """Python recompute of the OPIC cash/history recurrence over the
    link_graph oracle's edge list (the graph synthesis itself is
    pinned by the link_graph tests); asserts exact equality plus the
    conservation law the algorithm is named for."""
    edges = duck.sql(
        entry_mod.all_oracles()["link_graph"]).fetchall()
    S, K = 10 ** 9, 3
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    n = len(nodes)
    outw = {}
    for s_, _, w in edges:
        outw[s_] = outw.get(s_, 0) + w
    cash = {h: S // n for h in nodes}
    hist = {h: 0 for h in nodes}
    for _ in range(K):
        contrib = {h: 0 for h in nodes}
        for s_, t_, w in edges:
            contrib[t_] += cash[s_] * w // outw[s_]
        dang = sum(cash[h] for h in nodes if h not in outw)
        newcash = {h: contrib[h] + dang // n for h in nodes}
        for h in nodes:
            hist[h] += cash[h]
        cash = newcash
    order = sorted(nodes, key=lambda h: (-cash[h], h))
    rank = {h: i + 1 for i, h in enumerate(order)}
    want = {(h, hist[h], cash[h], hist[h] + cash[h], rank[h])
            for h in nodes}
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["opic_priority"]).fetchall()}
    assert got == want
    # cash conservation: the only leakage is floor losses — one per
    # edge contribution and one per dangling share per round, plus
    # the initial S % n
    assert S - sum(cash.values()) <= (len(edges) + n) * K + n
    # the hub is the most important host and the next fetch
    top = max(got, key=lambda r: r[3])
    assert top[0] == "h0.example" and top[4] == 1


def test_opic_df_matches_sql(spark, duck, entry_mod):
    """The production per-round-persisted OPIC loop is row-identical
    to the unrolled oracle SQL."""
    from pdf_parser_spark.ops.webgraph import opic_df

    entry_mod._register(spark, SF_DIR)
    twin = sorted(tuple(r) for r in opic_df(spark).collect())
    want = sorted(tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["opic_priority"]).fetchall())
    assert twin == want


def test_langseg_spans_semantics(duck, entry_mod):
    """Python recompute of the sentence synthesis, the shared marker
    battery + argmax tie order, and the islands merge; pins the
    exact-tie sentence (en 3 vs es 3 → en by tie order) and that
    runs of length ≥2 actually merge."""
    import re

    pats = {
        "en": r"\b(the|and|of|to|in|is|you|that)\b",
        "es": r"\b(el|la|los|las|de|que|en|una?)\b",
        "de": r"\b(der|die|das|und|ist|nicht|ein)\b",
        "fr": r"\b(le|les|des|est|une?|dans|pour)\b",
    }

    def sent(did, i):
        k = (did + i) % 6
        return [
            "the cat and the dog of to that house %d" % did,
            "you that the and is in story %d" % did,
            "el perro la casa de que en una calle %d" % did,
            "der hund die und ist nicht ein haus %d" % did,
            "the and is el que una casa perro %d" % did,
            "12345 67890 24680 %d" % did,
        ][k]

    def classify(s):
        h = {l: len(re.findall(p, s.lower())) for l, p in pats.items()}
        if h["en"] >= h["es"] and h["en"] >= h["de"] \
                and h["en"] >= h["fr"] and h["en"] > 0:
            return "en"
        if h["es"] >= h["de"] and h["es"] >= h["fr"] and h["es"] > 0:
            return "es"
        if h["de"] >= h["fr"] and h["de"] > 0:
            return "de"
        return "fr" if h["fr"] > 0 else "und"

    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    want = set()
    for did in docs:
        langs = [classify(sent(did, i)) for i in range(6)]
        span_no, start = 0, 0
        for i in range(1, 7):
            if i == 6 or langs[i] != langs[start]:
                want.add((did, span_no, langs[start], start, i - 1,
                          i - start))
                span_no, start = span_no + 1, i
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["langseg_spans"]).fetchall()}
    assert got == want
    # the tie sentence classifies en (3-3 vs es, tie order)
    assert classify(sent(0, 4)) == "en"
    # merges happen: some span covers ≥2 sentences, some doc has an
    # und break mid-document
    assert any(r[5] >= 2 for r in got)
    assert any(r[2] == "und" and 0 < r[3] < 5 for r in got)


def test_hard_negatives_semantics(duck, entry_mod):
    """Python recompute: qrels from the synthesis arithmetic, negative
    ranking straight from the bm25_topk oracle's scores (scored chain
    shared by construction — a refactor test pins the SQL), triples as
    the cross of positives × top-4 non-relevant.  Pins the anti-join
    (no positive ever appears as a negative) and the no-candidate
    tier (query 4 absent)."""
    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]
    # full scored set = bm25 oracle WITHOUT the top-k cut: rebuild it
    # by lifting the rank filter via a large-k variant of the shared
    # chain — the registry's bm25_topk keeps k=10, so recompute from
    # its scored CTE by querying with ROW_NUMBER removed:
    from pdf_parser_spark.ops.retrieval import (
        _bm25_scored_ctes, _HN_NEGS)
    scored = duck.sql(
        "WITH %s SELECT query_id, doc_id, score_scaled FROM scored"
        % _bm25_scored_ctes("duckdb")).fetchall()
    qrels = {(q, did) for q in range(5) for did in docs
             if did % 97 == (q * 13 + 5) % 97}
    byq = {}
    for q, did, sc in scored:
        if (q, did) not in qrels:
            byq.setdefault(q, []).append((-sc, did))
    want = set()
    for q, lst in byq.items():
        for rk, (neg, did) in enumerate(sorted(lst)[:_HN_NEGS], 1):
            for (pq, pos) in qrels:
                if pq == q:
                    want.add((q, pos, did, rk, -neg))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["hard_negatives"]).fetchall()}
    assert got == want
    # anti-join holds: no negative is a relevant doc of its query
    assert not any((q, n) in qrels for q, _, n, _, _ in got)
    # absent-term query mines nothing; the others all mine
    assert {q for q, *_ in got} == {0, 1, 2, 3}


def test_bm25_refactor_sql_stable(entry_mod):
    """The _bm25_scored_ctes refactor left bm25_topk's generated SQL
    semantically unchanged: the shared chain appears verbatim inside
    the bm25_topk query text in both dialects."""
    from pdf_parser_spark.ops.retrieval import (
        QUERIES, _bm25_scored_ctes)
    for d in ("spark", "duckdb"):
        assert _bm25_scored_ctes(d) in QUERIES["bm25_topk"](d)
        assert _bm25_scored_ctes(d) in QUERIES["hard_negatives"](d)


def test_template_cluster_semantics(duck, entry_mod):
    """Python recompute of the signature pipeline (tag extraction +
    literal run collapse + md5 grouping + per-host share/rank); pins
    that the collapse actually unifies paragraph-count-varying
    article pages and that marquee one-offs form singleton clusters."""
    import hashlib
    import re

    docs = [r[0] for r in duck.sql(
        "SELECT doc_id FROM documents").fetchall()]

    def html_of(did):
        if did % 3 == 0:
            h = ("<html><body><nav>n</nav><ul>"
                 + "<li>i</li>" * (2 + did % 4)
                 + "</ul><footer>f</footer></body></html>")
        else:
            h = ("<html><body><header>h</header><h1>t</h1><div>"
                 + "<p>x</p>" * (2 + did % 5)
                 + "</div><footer>f</footer></body></html>")
        if did % 17 == 0:
            h += "<marquee>m</marquee>"
        return h

    def sig_of(did):
        seq = ",".join(re.findall(r"<([a-z0-9]+)[ >]", html_of(did)))
        seq = re.sub(r"p(,p)+", "p+", seq)
        seq = re.sub(r"li(,li)+", "li+", seq)
        return hashlib.md5(seq.encode()).hexdigest()[:8]

    clusters = {}
    for did in docs:
        key = ("h%d.example" % (did % 40), sig_of(did))
        clusters[key] = clusters.get(key, 0) + 1
    host_tot = {}
    for (h, _), n in clusters.items():
        host_tot[h] = host_tot.get(h, 0) + n
    want = set()
    for h in host_tot:
        ranked = sorted(((s_, n) for (hh, s_), n in clusters.items()
                         if hh == h), key=lambda x: (-x[1], x[0]))
        for rk, (s_, n) in enumerate(ranked, 1):
            want.add((h, s_, n, n * 1000000 // host_tot[h], rk,
                      1 if rk == 1 else 0))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["template_cluster"]).fetchall()}
    assert got == want
    # collapse works: every host has ≤ 4 clusters (article, listing,
    # + marquee variants), never one per paragraph count
    per_host = {}
    for h, *_ in got:
        per_host[h] = per_host.get(h, 0) + 1
    assert max(per_host.values()) <= 4
    # marquee one-offs exist and are never dominant
    n_single = sum(1 for r in got if r[2] == 1)
    assert n_single > 0
    assert not any(r[2] == 1 and r[5] == 1 for r in got)


def test_index_partition_plan_semantics(duck, entry_mod):
    """Python recompute of the layout cost model from independently
    counted posting stats (term df via SQL COUNT DISTINCT here, HRW
    shard via hashlib); pins that both layouts win somewhere and the
    single-term / absent-term zero-transfer tiers."""
    import hashlib

    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    qterms = [(0, "spark"), (0, "join"), (1, "dup"),
              (2, "window"), (2, "stream"), (2, "filter"),
              (3, "hash"), (3, "merge"), (4, "zzzabsent")]
    df = {}
    for did, text in docs:
        for w in set(text.split(" ")):
            df[w] = df.get(w, 0) + 1

    def shard(term):
        return int(min(
            (hashlib.md5(("%d|%s" % (j, term)).encode()).hexdigest(),
             j) for j in range(8))[1])

    want = set()
    for q in range(5):
        terms = [t for qq, t in qterms if qq == q]
        hit = [t for t in terms if t in df]
        postings = sum(df[t] for t in hit)
        max_df = max((df[t] for t in hit), default=0)
        tshards = len({shard(t) for t in hit})
        doc_msgs, doc_tr = 8, 80
        term_msgs = tshards
        term_tr = postings - max_df if tshards > 1 else 0
        doc_cost = postings + 4 * doc_tr + 16 * doc_msgs
        term_cost = postings + 4 * term_tr + 16 * term_msgs
        winner = "term" if term_cost < doc_cost else "doc"
        want.add((q, len(terms), postings, doc_msgs, doc_tr,
                  term_msgs, term_tr, doc_cost, term_cost, winner))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["index_partition_plan"]).fetchall()}
    assert got == want
    winners = {r[9] for r in got}
    assert winners == {"doc", "term"}
    # single-term and absent queries never transfer postings
    assert all(r[6] == 0 for r in got if r[1] == 1)


def test_conditional_revalidate_semantics(duck, entry_mod):
    """Python recompute of the RFC 9110 decision table and the byte
    accounting; pins that wasted fires ONLY on the ignoring-server
    tier (a validator-less refetch is unavoidable, not a signal) and
    that 304s cost zero body bytes."""
    docs = duck.sql(
        "SELECT doc_id, n_chars FROM documents").fetchall()
    want = set()
    for did, nb in docs:
        k = did % 5
        validator = ("etag" if k in (0, 1, 4)
                     else "last_modified" if k == 2 else "none")
        cond = 1 if validator != "none" else 0
        changed = 1 if k == 1 else 0
        honors = 0 if k == 4 else 1
        status = 304 if cond and honors and not changed else 200
        fetched = 0 if status == 304 else nb
        wasted = 1 if cond and status == 200 and not changed else 0
        want.add((did, validator, cond, status, changed, nb,
                  fetched, wasted))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["conditional_revalidate"]).fetchall()}
    assert got == want
    # every tier realized; 304 ⇒ zero fetched; wasted ⇔ ignoring tier
    assert {r[3] for r in got} == {200, 304}
    assert all(r[6] == 0 for r in got if r[3] == 304)
    assert all((r[0] % 5 == 4) == (r[7] == 1) for r in got)
    # bandwidth saved is real: total fetched < total body bytes
    assert (sum(r[6] for r in got) < sum(r[5] for r in got))


def test_skipgram_pairs_semantics(duck, entry_mod):
    """Python recompute of the windowed pair counts, the exact-floor
    harmonic weights, min-count, and the per-center top-k; pins
    symmetry of the raw counts (n(a,b) == n(b,a) before the top-k
    cut) and self-pair exclusion."""
    docs = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    W, MN, K = 4, 2, 8
    n = {}
    wm = {}
    for _, text in docs:
        toks = text.split(" ")
        for i, a in enumerate(toks):
            if a == "":
                continue
            for j in range(max(0, i - W), min(len(toks), i + W + 1)):
                if j == i or toks[j] == "":
                    continue
                key = (a, toks[j])
                n[key] = n.get(key, 0) + 1
                wm[key] = wm.get(key, 0) + 1000 // abs(i - j)
    # symmetry before the cut
    assert all(n[(a, b)] == n.get((b, a)) for a, b in list(n)[:500])
    byc = {}
    for (a, b), v in n.items():
        if v >= MN:
            byc.setdefault(a, []).append((-v, b))
    want = set()
    for a, lst in byc.items():
        for rk, (neg, b) in enumerate(sorted(lst)[:K], 1):
            want.add((a, b, -neg, wm[(a, b)], rk))
    got = {tuple(r) for r in duck.sql(
        entry_mod.all_oracles()["skipgram_pairs"]).fetchall()}
    assert got == want
    # same-TYPE pairs (a word near another copy of itself) are
    # legitimate skip-gram pairs and do occur; same-POSITION pairing
    # is excluded structurally, so every harmonic weight is finite
    # and n ≥ min_count everywhere
    assert all(x[2] >= 2 and x[3] > 0 for x in got)
