"""Round-6 optimization pin: the persisted-intermediate production
twin of dedup_incremental (ops/dedup.py dedup_incremental_df) must be
row-identical to the unrolled SQL oracle form — the twin exists
purely for performance (Catalyst re-derives the 4-tier corpus +
shingle pipeline per consumer in the unrolled form; the twin
checkpoints the corpus, shingle, and signature tables once — the
persisted-artifact shape the oracle's own docstring describes for
production)."""

SF_DIR = "/root/testdata/sf0.001"


def _register(spark):
    for t in ("documents",):
        spark.read.parquet("%s/%s.parquet" % (SF_DIR, t)) \
            .createOrReplaceTempView(t)


def test_dedup_incremental_df_matches_sql(spark):
    import query_registry
    from pdf_parser_spark.ops.dedup import dedup_incremental_df

    _register(spark)
    cols = ("doc_id", "verdict", "match_id", "jaccard")
    got = sorted(tuple(getattr(r, c) for c in cols)
                 for r in dedup_incremental_df(spark).collect())
    want = sorted(tuple(getattr(r, c) for c in cols)
                  for r in spark.sql(
                      query_registry.QUERY_SQL["dedup_incremental"]["spark"])
                  .collect())
    assert got == want
    # all three verdict classes must occur on the synthesized tiers
    verdicts = {v for _, v, _, _ in got}
    assert verdicts == {"exact_dup", "near_dup", "kept"}


def test_dedup_incremental_df_plan_bounded(spark):
    """The twin's final plan must screen over the checkpointed leaves
    only: no CartesianProduct, no re-derivation of the documents
    scan."""
    from pdf_parser_spark.ops.dedup import dedup_incremental_frame
    from pdf_parser_spark.stages import scope

    _register(spark)
    with scope(spark) as st:
        plan = dedup_incremental_frame(st, spark)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FileScan parquet" not in plan  # only checkpointed leaves
