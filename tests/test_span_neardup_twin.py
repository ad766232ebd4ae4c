"""Round-6 optimization pin: the persisted-intermediate production
twin of span_neardup (ops/dedup.py span_neardup_df) must be
row-identical to the unrolled SQL oracle form — the twin exists purely
for performance (Catalyst re-derives every CTE reference in the
unrolled form; the twin materializes each shared stage once)."""

SF_DIR = "/root/testdata/sf0.001"


def _register(spark):
    for t in ("documents",):
        spark.read.parquet("%s/%s.parquet" % (SF_DIR, t)) \
            .createOrReplaceTempView(t)


def test_span_neardup_df_matches_sql(spark):
    import query_registry
    from pdf_parser_spark.ops.dedup import span_neardup_df

    _register(spark)
    cols = ("left_key", "right_key", "jaccard", "left_occ", "right_occ")
    got = sorted(tuple(getattr(r, c) for c in cols)
                 for r in span_neardup_df(spark).collect())
    want = sorted(tuple(getattr(r, c) for c in cols)
                  for r in spark.sql(
                      query_registry.QUERY_SQL["span_neardup"]["spark"])
                  .collect())
    assert got == want
    assert len(got) > 0  # the jitter-twin tier must be found


def test_span_neardup_df_plan_bounded(spark):
    """The twin's final plan must be the banded equi-join shape: no
    CartesianProduct, and the span pipeline scanned only via the
    persisted views (no re-derivation of the documents scan)."""
    from pdf_parser_spark.ops.dedup import span_neardup_frame
    from pdf_parser_spark.stages import scope

    _register(spark)
    with scope(spark) as st:
        plan = span_neardup_frame(st, spark)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FileScan parquet" not in plan  # only InMemoryTableScans
