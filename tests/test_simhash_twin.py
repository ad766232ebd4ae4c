"""Round-6 optimization pin: the persisted-intermediate production
twin of simhash_hamming (ops/dedup.py simhash_hamming_df) must be
row-identical to the unrolled SQL oracle form — the twin exists
purely for performance (Catalyst re-derives the tokenize +
48-bit-vote fingerprint pipeline per ``sh`` consumer in the unrolled
form; the twin checkpoints the fingerprint table once, which is what
a production fingerprint store persists)."""

SF_DIR = "/root/testdata/sf0.001"


def _register(spark):
    for t in ("documents",):
        spark.read.parquet("%s/%s.parquet" % (SF_DIR, t)) \
            .createOrReplaceTempView(t)


def test_simhash_hamming_df_matches_sql(spark):
    import query_registry
    from pdf_parser_spark.ops.dedup import simhash_hamming_df

    _register(spark)
    cols = ("left_id", "right_id", "hamming")
    got = sorted(tuple(getattr(r, c) for c in cols)
                 for r in simhash_hamming_df(spark).collect())
    want = sorted(tuple(getattr(r, c) for c in cols)
                  for r in spark.sql(
                      query_registry.QUERY_SQL["simhash_hamming"]["spark"])
                  .collect())
    assert got == want
    assert len(got) > 0  # the jitter-twin tier must be found


def test_simhash_hamming_df_plan_bounded(spark):
    """The twin's final plan must stay the banded equi-join shape: no
    CartesianProduct beyond the deliberate 4-row band explode, and the
    fingerprint pipeline scanned only via the checkpointed leaf."""
    from pdf_parser_spark.ops.dedup import simhash_hamming_frame
    from pdf_parser_spark.stages import scope

    _register(spark)
    with scope(spark) as st:
        plan = simhash_hamming_frame(st, spark)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "FileScan parquet" not in plan  # only checkpointed leaves
