"""Round-6 optimization pin: the persisted-intermediate production
twin of bm25_maxscore (ops/retrieval.py bm25_maxscore_df) must be
row-identical to the unrolled SQL oracle form — the twin exists
purely for performance (Catalyst re-derives the tokenize → stats →
weights chain per ``wgts`` consumer in the unrolled form; the twin
checkpoints the weights table once, which is exactly what a real
index stores next to its postings)."""

SF_DIR = "/root/testdata/sf0.001"


def _register(spark):
    for t in ("documents",):
        spark.read.parquet("%s/%s.parquet" % (SF_DIR, t)) \
            .createOrReplaceTempView(t)


def test_bm25_maxscore_df_matches_sql(spark):
    import query_registry
    from pdf_parser_spark.ops.retrieval import bm25_maxscore_df

    _register(spark)
    cols = ("query_id", "doc_id", "score_scaled", "rk")
    got = sorted(tuple(getattr(r, c) for c in cols)
                 for r in bm25_maxscore_df(spark).collect())
    want = sorted(tuple(getattr(r, c) for c in cols)
                  for r in spark.sql(
                      query_registry.QUERY_SQL["bm25_maxscore"]["spark"])
                  .collect())
    assert got == want
    assert len(got) > 0


def test_bm25_maxscore_df_plan_bounded(spark):
    """The twin's final plan must score over the checkpointed weights
    leaf only: no CartesianProduct, no re-derivation of the documents
    scan."""
    from pdf_parser_spark.ops.retrieval import bm25_maxscore_frame
    from pdf_parser_spark.stages import scope

    _register(spark)
    with scope(spark) as st:
        plan = bm25_maxscore_frame(st, spark)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FileScan parquet" not in plan  # only checkpointed leaves


def test_bm25_maxscore_df_leaves_no_bare_wgts_view(spark):
    """The checkpointed weights are registered under a prefixed view
    that is dropped when the twin returns; no ``wgts`` or ``ms_wgts``
    is left for a later query to bind."""
    from pdf_parser_spark.ops.retrieval import bm25_maxscore_df

    _register(spark)
    spark.catalog.dropTempView("wgts")
    bm25_maxscore_df(spark).collect()
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert "wgts" not in views
    assert "ms_wgts" not in views
