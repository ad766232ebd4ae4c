"""Round-6 optimization pin: the persisted-intermediate production
twin of dedup_allpairs_prefix (ops/dedup.py allpairs_prefix_df) must
be row-identical to the unrolled SQL oracle form — the twin exists
purely for performance (Catalyst re-derives the corpus + shingle
pipeline per ``toks`` consumer in the unrolled form; the twin
materializes the token/size/prefix tables once)."""

SF_DIR = "/root/testdata/sf0.001"


def _register(spark):
    for t in ("documents",):
        spark.read.parquet("%s/%s.parquet" % (SF_DIR, t)) \
            .createOrReplaceTempView(t)


def test_allpairs_prefix_df_matches_sql(spark):
    import query_registry
    from pdf_parser_spark.ops.dedup import allpairs_prefix_df

    _register(spark)
    cols = ("left_id", "right_id", "inter", "left_n", "right_n",
            "jaccard")
    got = sorted(tuple(getattr(r, c) for c in cols)
                 for r in allpairs_prefix_df(spark).collect())
    want = sorted(tuple(getattr(r, c) for c in cols)
                  for r in spark.sql(
                      query_registry.QUERY_SQL
                      ["dedup_allpairs_prefix"]["spark"])
                  .collect())
    assert got == want
    assert len(got) > 0  # the jitter-twin tier must be found


def test_allpairs_prefix_df_plan_bounded(spark):
    """The twin's final plan must stay the prefix-bucket equi-join
    shape: no CartesianProduct, and the shingle pipeline scanned only
    via the checkpointed leaves (no re-derivation of the documents
    scan)."""
    from pdf_parser_spark.ops.dedup import allpairs_prefix_frame
    from pdf_parser_spark.stages import scope

    _register(spark)
    with scope(spark) as st:
        plan = allpairs_prefix_frame(st, spark)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FileScan parquet" not in plan  # only checkpointed leaves
