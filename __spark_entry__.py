"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the 50 driver-adjudicated operators; each has a
DuckDB oracle in ``oracle_sql()`` generated from the same dialect-
paired source (pdf_parser_spark/relational.py, pdf_parser_spark/ops/).
``all_queries()``/``all_oracles()`` add every other registered
operator (the retired tier, run by tests and tools/check_oracles.py).

The non-SQL-expressible entries (the Arrow-batched fidelity pipeline
and the multimodal decoders) are oracled against golden-expected
parquet fixtures: reference-executed transaction goldens
(tools/gen_goldens.py → tools/gen_expected_parquet.py) and
construction-time media ground truth (encode-side parameters, decoded
independently by the pipeline) — so every query gets a full
rows+schema+hash comparison.
"""

from __future__ import annotations

import importlib
import os
import pathlib
import sys
import tempfile
import weakref
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = pathlib.Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from query_registry import QUERY_SQL  # noqa: E402
from pdf_parser_spark.ops.similarity import pq_topk_df  # noqa: E402
from pdf_parser_spark.warc import warc_oracle_sql  # noqa: E402

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings"]
_GOLDEN = _REPO / "tests" / "golden"

Side = Callable[[SparkSession, str], DataFrame]

# session -> {(sf_dir, table): DataFrame}; weak keys so a stopped
# session's entries vanish with it (no id()-reuse hazard, no leak)
_DF_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _register(spark: SparkSession, sf_dir: str) -> None:
    # the driver owns the session: pin the configs our SQL depends on
    # (UTC so unix_timestamp matches DuckDB's epoch(); runtime-settable)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    per_session = _DF_CACHE.setdefault(spark, {})
    for t in _TABLES:
        # reuse the resolved DataFrame per (session, file): repeated
        # spark.read.parquet calls re-list and re-read footers — a
        # constant ~0.3-0.6 s tax on EVERY query invocation (4.9 s
        # cold).  The view is still re-bound every call, so tests that
        # temporarily override a view (e.g. a crafted ``documents``)
        # are restored.
        df = per_session.get((sf_dir, t))
        if df is None:
            df = spark.read.parquet("%s/%s.parquet" % (sf_dir, t))
            per_session[(sf_dir, t)] = df
        df.createOrReplaceTempView(t)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the complete GenericParser as one relational plan
    (window segmentation → lexers → direction CASE → stable sort) over
    sf0.001."""
    _register(spark, "/root/testdata/sf0.001")
    return spark.sql(QUERY_SQL["generic_relational"]["spark"])


def _sql_query(name: str) -> Side:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(QUERY_SQL[name]["spark"])
    return run


def _twin(op: str | Callable[[SparkSession], DataFrame]) -> Side:
    """Spark side served by an operator over the registered sf tables:
    ``op`` is ``"module:function"`` under pdf_parser_spark (imported on
    first call) or a callable, either one called with the session."""
    def side(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        if isinstance(op, str):
            module, fn = op.split(":")
            return getattr(importlib.import_module(
                "pdf_parser_spark." + module), fn)(spark)
        return op(spark)
    return side


# SparkContext applicationIds that already hold the package zip
_PYFILES_SENT: set[str] = set()


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Executors must resolve pdf_parser_spark in every Python worker
    even if the driver-owned session was created outside this repo:
    ship the package once per SparkContext via addPyFile."""
    sc = spark.sparkContext
    if sc.applicationId in _PYFILES_SENT:
        return
    fd, zpath = tempfile.mkstemp(prefix="pdf_parser_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for py in sorted((_REPO / "pdf_parser_spark").rglob("*.py")):
            z.write(py, py.relative_to(_REPO))
    sc.addPyFile(zpath)
    _PYFILES_SENT.add(sc.applicationId)


def _pdf(extract: str, corpus: str) -> Side:
    """Spark side of a PDF sidecar: ``ops.spans.<extract>`` over the
    ``fixture_<corpus>_pages()`` corpus."""
    def side(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf_parser_spark.ops import spans

        _ensure_pyfiles(spark)
        pages = spans.pdf_pages_df(
            spark, getattr(spans, "fixture_%s_pages" % corpus)())
        return getattr(spans, extract)(pages)
    return side


def _fidelity_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched extract+detect+parse path over the synthesized
    page corpus (PDF/HTML/text payloads).  Not SQL-expressible (PDF
    byte tokenization + per-bank state machines) → rows-only check."""
    from pdf_parser_spark.pages_source import fixture_pages_df
    from pdf_parser_spark.pipeline import parse_pages, split_outputs

    _ensure_pyfiles(spark)
    txs, _ = split_outputs(parse_pages(fixture_pages_df(spark)))
    return txs


def _extraction_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lineage sidecar of the fidelity path (G7)."""
    from pdf_parser_spark.pages_source import fixture_pages_df
    from pdf_parser_spark.pipeline import parse_pages, split_outputs

    _ensure_pyfiles(spark)
    _, docs = split_outputs(parse_pages(fixture_pages_df(spark)))
    return docs.drop("part_id")  # partition assignment is config-dependent


def _extraction_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span offsets per url (north star: 'main-content text and span
    offsets'): one row per non-empty extracted line with its exact
    character interval; oracled against spans derived from the
    canonical fixture text independently of the extractor."""
    from pdf_parser_spark.ops.spans import extract_spans
    from pdf_parser_spark.pages_source import fixture_pages_df

    _ensure_pyfiles(spark)
    return extract_spans(fixture_pages_df(spark))


def _span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup: repeated extracted lines across the
    corpus, keyed by the span digest — the boilerplate-detection tier
    a Common-Crawl pipeline runs above per-document dedup.  The
    grouping is SQL over extract_spans' output, so the DuckDB oracle
    runs the identical aggregation over the expected-spans parquet."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.ops.spans import extract_spans
    from pdf_parser_spark.pages_source import fixture_pages_df

    _ensure_pyfiles(spark)
    spans = extract_spans(fixture_pages_df(spark))
    return (
        spans.groupBy("line_sha256")
        .agg(F.count("*").alias("n_occurrences"),
             F.countDistinct("url").alias("n_docs"),
             F.min("n_chars").alias("n_chars"))
        .filter("n_occurrences > 1")
    )


def _video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over exhaustive frame hashes (one
    ordered window pass per video, scene run-length rollup); oracled
    against the encode-side scene plan (never the codec or the
    window)."""
    from pdf_parser_spark.ops.multimodal import (
        fixture_scenes_df, video_frame_hashes, video_scene_cuts,
    )
    _ensure_pyfiles(spark)
    return video_scene_cuts(video_frame_hashes(fixture_scenes_df(spark)))


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/featurize: REAL pure-Python codecs (PNG with
    all five scanline filters, 24-bit BMP, PCM WAV, Y4M video) over
    Arrow batches; oracled against encode-side ground truth."""
    from pdf_parser_spark.ops.multimodal import (
        fixture_media_df, media_features,
    )
    _ensure_pyfiles(spark)
    return media_features(fixture_media_df(spark))


def _image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (multimodal x dedup): real
    PNG/BMP decode -> integer-exact 64-bit block-mean aHash (Arrow
    batches) -> banded-Hamming self-join (4 x 16-bit bands, pigeonhole-
    exact recall at hamming<=3, super-bucket cap) -> bit_count verify.
    Oracled against encode-side brute force that never runs the codecs
    or the band join."""
    from pdf_parser_spark.ops.multimodal import (
        ahash_neardup, fixture_images_df, image_ahash,
    )
    _ensure_pyfiles(spark)
    return ahash_neardup(image_ahash(fixture_images_df(spark)))


def _audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-envelope audio fingerprint near-dup — the WAV twin of
    image_phash_neardup riding the SAME hash-agnostic banded-Hamming
    join; oracled against encode-side brute force."""
    from pdf_parser_spark.ops.multimodal import (
        ahash_neardup, audio_fingerprint, fixture_audio_df,
    )
    _ensure_pyfiles(spark)
    return ahash_neardup(audio_fingerprint(fixture_audio_df(spark)),
                         hash_col="afp")


def _video_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video sub-clip containment: hash EVERY decoded Y4M frame, then
    Broder-style asymmetric containment over frame-hash sets (equi-join
    on the hash — inverted-index shape, no all-pairs); oracled against
    encode-side brute force."""
    from pdf_parser_spark.ops.multimodal import (
        fixture_videos_df, video_clip_containment, video_frame_hashes,
    )
    _ensure_pyfiles(spark)
    return video_clip_containment(
        video_frame_hashes(fixture_videos_df(spark)))


def _media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling (a flatMap-shaped ``flat_map_rows`` pass):
    decodes the Y4M container and hashes real frame bytes; oracled
    against encode-side ground truth."""
    from pdf_parser_spark.ops.multimodal import (
        fixture_media_df, sample_frames,
    )
    _ensure_pyfiles(spark)
    return sample_frames(fixture_media_df(spark))


def _golden(columns: str, parquet: str) -> str:
    return "SELECT %s FROM read_parquet('%s')" % (columns, _GOLDEN / parquet)


# The driver adjudicates exactly these 50 rows, in this order (it
# records the first 50 entries of queries() and drops the rest).  Every
# other registered name is retired: still run and oracle-checked through
# all_queries()/all_oracles(), just not by the driver.
_CONTRACT = [
    "multimodal_features", "image_phash_neardup", "fidelity_pipeline",
    "span_dedup", "pdf_link_extract", "pdf_outline_extract",
    "valley_relational", "chase_relational", "bofa_relational",
    "bofa_rel_relational", "generic_relational", "wf_relational",
    "citi_relational", "bpe_encode", "c4_clean", "intradoc_dedup",
    "sitemap_ingest", "feed_ingest", "conditional_revalidate",
    "decontam_fuzzy", "simhash_hamming", "dedup_substring",
    "epoch_shard_plan", "search_snippets", "rocchio_expand",
    "bm25f_fielded", "hard_negatives", "index_partition_plan",
    "ann_ivf_amortized", "embed_srp_neardup", "ann_pq_codes", "ann_pq_adc",
    "quantile_sketch", "script_detect", "bigram_lm_score", "host_reputation",
    "langseg_spans", "skipgram_pairs", "trustrank_seeds",
    "label_propagation", "kcore_peel", "hyperball_nf", "opic_priority",
    "redirect_resolve", "html_meta_extract", "headings_outline",
    "html_to_markdown", "jsonld_extract", "microdata_extract",
    "template_cluster",
]

# name -> (Spark side, oracle) for every row whose Spark side is not
# QUERY_SQL[name]["spark"]; a None oracle means QUERY_SQL[name]["duckdb"].
_SIDES: dict[str, tuple[Side, str | None]] = {
    # Arrow-batched fixture paths, oracled against golden-expected
    # parquet (provenance in tools/gen_expected_parquet.py)
    "fidelity_pipeline": (_fidelity_pipeline, _golden(
        "url, tx_index, bank, date, description, amount, direction",
        "expected_tx.parquet")),
    "extraction_metrics": (_extraction_metrics, _golden(
        "url, bank, kind, pages, n_lines, n_chars, blocks_total,"
        " blocks_kept, tx_count, text_sha256, error",
        "expected_doc_metrics.parquet")),
    "extraction_spans": (_extraction_spans, _golden(
        'url, span_no, start, "end", n_chars, line_sha256',
        "expected_spans.parquet")),
    "span_dedup": (_span_dedup, (
        "SELECT line_sha256, CAST(COUNT(*) AS BIGINT) AS n_occurrences,"
        " CAST(COUNT(DISTINCT url) AS BIGINT) AS n_docs,"
        " MIN(n_chars) AS n_chars"
        " FROM read_parquet('%s')"
        " GROUP BY line_sha256 HAVING COUNT(*) > 1"
        % (_GOLDEN / "expected_spans.parquet"))),
    "multimodal_features": (_media_features, _golden(
        "url, media_type, n_bytes, width, height, channels,"
        " duration_ms, mean_luma, sha256, decode_error",
        "expected_media_features.parquet")),
    "multimodal_frames": (_media_frames, _golden(
        "url, frame_no, ts_ms, frame_sha256",
        "expected_media_frames.parquet")),
    "image_phash_neardup": (_image_neardup, _golden(
        "url_a, url_b, hamming", "expected_image_neardup.parquet")),
    "audio_fp_neardup": (_audio_neardup, _golden(
        "url_a, url_b, hamming", "expected_audio_neardup.parquet")),
    "video_clip_containment": (_video_containment, _golden(
        "url_outer, url_clip, n_common, n_clip, containment_pct, verdict",
        "expected_video_containment.parquet")),
    "video_scene_cuts": (_video_scene_cuts, _golden(
        "url, scene_no, start_frame, n_frames",
        "expected_video_scenes.parquet")),
    # PDF sidecars over encode-side corpora: all five sibling-writer
    # layouts, poison payloads yield zero rows; links feed the link graph
    # when the page is a PDF, outlines/forms/labels/metadata/grids are
    # the structured layers (alien-writer independence is test-pinned)
    "pdf_link_extract": (_pdf("extract_links", "linked"), _golden(
        "url, page_no, link_no, uri, uri_host",
        "expected_pdf_links.parquet")),
    "pdf_outline_extract": (_pdf("extract_bookmarks", "outlined"), _golden(
        "url, item_no, level, title, page_no",
        "expected_pdf_outline.parquet")),
    "pdf_form_extract": (_pdf("extract_form_fields", "form"), _golden(
        "url, field_no, name, value", "expected_pdf_forms.parquet")),
    "pdf_labels_extract": (_pdf("extract_page_labels", "labeled"), _golden(
        "url, page_no, label", "expected_pdf_labels.parquet")),
    "pdf_meta_extract": (_pdf("extract_doc_metadata", "meta"), _golden(
        "url, field, value, source", "expected_pdf_meta.parquet")),
    "pdf_grid_extract": (_pdf("extract_table_grids", "table"), _golden(
        "url, page_no, row_no, col_no, cell",
        "expected_pdf_grids.parquet")),
    # persisted-artifact lifecycles (build → persist → serve, or WARC
    # write → read back), oracled by the in-plan SQL that must give the
    # same rows, so the whole lifecycle is hash-checked
    "bm25_serve_persisted": (_twin("ops.retrieval:bm25_index_demo"),
                             QUERY_SQL["bm25_topk"]["duckdb"]),
    "bm25_serve_compacted": (_twin("ops.retrieval:bm25_compact_demo"),
                             QUERY_SQL["bm25_topk"]["duckdb"]),
    "phrase_serve_persisted": (_twin("ops.retrieval:phrase_serve_demo"),
                               QUERY_SQL["phrase_search"]["duckdb"]),
    "warc_ingest": (_twin("warc:warc_ingest_demo"), warc_oracle_sql()),
    # ONE sample-trained IVF fit persisted as tables, then two query
    # batches served from it; the unrolled SQL runs the identical
    # deterministic k-means
    "ann_ivf_amortized": (_twin("ops.similarity:amortized_ivf_demo"), None),
    # Iterative / persisted-intermediate twins of the unrolled SQL,
    # which stays the DuckDB oracle (row identity is test-pinned).
    # Catalyst inlines CTE references, so the unrolled form re-derives
    # its shared intermediate once per reference; measured at sf0.1:
    # crawl_frontier 694 parquet scans / 1444 Exchanges in one plan,
    # bpe_train_merges 284 / 568, bm25_maxscore 114 scans,
    # dedup_incremental 72, dedup_allpairs_prefix 40, ann_pq_adc 28 / 80,
    # simhash_hamming 16, span_neardup 10 scans in a 260-operator plan,
    # kcore_peel 55 s vs 2.0 s for the twin, trustrank_seeds 3191
    # Exchanges vs 713 for plain PageRank.  A twin stays only while it
    # beats its SQL in timed pairs (tools/twin_ab.py, BENCH/twins.json).
    "trustrank_seeds": (_twin("ops.webgraph:trustrank_df"), None),
    "hits_scores": (_twin("ops.webgraph:hits_production_df"), None),
    "host_pagerank": (_twin("ops.webgraph:pagerank_production_df"), None),
    "kcore_peel": (_twin("ops.webgraph:kcore_df"), None),
    "opic_priority": (_twin("ops.webgraph:opic_df"), None),
    "crawl_frontier": (_twin("ops.crawl:crawl_frontier_production_df"),
                       None),
    "bpe_encode": (_twin("ops.bpe:bpe_encode_df"), None),
    "bpe_train_merges": (_twin("ops.bpe:bpe_train_df"), None),
    "span_neardup": (_twin("ops.dedup:span_neardup_df"), None),
    "dedup_allpairs_prefix": (_twin("ops.dedup:allpairs_prefix_df"), None),
    "simhash_hamming": (_twin("ops.dedup:simhash_hamming_df"), None),
    "dedup_incremental": (_twin("ops.dedup:dedup_incremental_df"), None),
    "bm25_maxscore": (_twin("ops.retrieval:bm25_maxscore_df"), None),
    "ann_pq_adc": (
        _twin(lambda spark: pq_topk_df(spark.table("embeddings"))), None),
}


def _rows(retired: bool) -> dict[str, tuple[Side, str]]:
    """name -> (Spark side, oracle) for the contract rows, followed,
    when ``retired``, by every other registered name in registration
    order."""
    names = [*_CONTRACT, *QUERY_SQL, *_SIDES] if retired else _CONTRACT
    out = {}
    for name in dict.fromkeys(names):
        side, oracle = _SIDES.get(name, (None, None))
        out[name] = (side or _sql_query(name),
                     oracle or QUERY_SQL[name]["duckdb"])
    return out


def queries() -> dict[str, Side]:
    return {name: side for name, (side, _) in _rows(False).items()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle for name, (_, oracle) in _rows(False).items()}


def all_queries() -> dict[str, Side]:
    """Driver contract PLUS the retired rows — for tests/bench only."""
    return {name: side for name, (side, _) in _rows(True).items()}


def all_oracles() -> dict[str, str]:
    """oracle_sql() PLUS the retired rows — for tests/bench only."""
    return {name: oracle for name, (_, oracle) in _rows(True).items()}
