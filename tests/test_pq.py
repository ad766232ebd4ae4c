"""Product-quantization tier: the production (iterative, persisted)
fit/search must agree row-for-row with the unrolled ``ann_pq_codes`` /
``ann_pq_adc`` oracle SQL, the ADC scan must broadcast its small
sides, and the shortlist re-rank must recover most of the brute-force
top-5 (the recall the byte-code representation buys at 1/32 of the
vector bytes)."""

from pyspark.sql import functions as F

from pdf_parser_spark.ops.similarity import (
    pq_fit_frame, pq_topk_df, pq_topk_frame,
)
from pdf_parser_spark.stages import scope

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    return emb


def test_pq_fit_frame_matches_sql_codes(spark):
    import query_registry

    emb = _emb(spark)
    with scope(spark) as st:
        got = {(r.vec_id, r.m): r.code
               for r in pq_fit_frame(st, emb)[0].collect()}
    want = {(r.vec_id, r.m): r.code
            for r in spark.sql(
                query_registry.QUERY_SQL["ann_pq_codes"]["spark"])
            .collect()}
    assert got == want
    assert len(got) == emb.count() * 8  # every (vector, subspace) coded


def test_pq_topk_df_matches_sql(spark):
    import query_registry

    emb = _emb(spark)
    got = sorted((r.query_id, r.rank, r.neighbor_id, r.adc_dist,
                  repr(r.cosine)) for r in pq_topk_df(emb).collect())
    want = sorted((r.query_id, r.rank, r.neighbor_id, r.adc_dist,
                   repr(r.cosine))
                  for r in spark.sql(
                      query_registry.QUERY_SQL["ann_pq_adc"]["spark"])
                  .collect())
    assert got == want and len(got) == 40


def test_pq_recall_vs_brute(spark):
    """Deterministic recall pin: the 32-candidate ADC shortlist +
    exact re-rank recovers most of the brute-force cosine top-5 on
    the fixture corpus (measured 0.70 — random near-uniform vectors
    are PQ's worst case; pinned with slack so a testdata regeneration
    with a different seed stays green)."""
    import query_registry

    _emb(spark)
    brute = {(r.query_id, r.neighbor_id)
             for r in spark.sql(
                 query_registry.QUERY_SQL["ann_cosine_topk"]["spark"])
             .collect()}
    pq = {(r.query_id, r.neighbor_id)
          for r in spark.sql(
              query_registry.QUERY_SQL["ann_pq_adc"]["spark"])
          .collect()}
    recall = len(brute & pq) / len(brute)
    assert recall >= 0.5, recall


def test_pq_topk_plan_broadcasts_small_sides(spark):
    """The ADC scan's 100-TB contract: the (m, code) distance-table
    join and the codebook join are BROADCAST joins (small side
    shipped); the only wide exchanges hash-partition on the agg /
    window keys.  No CartesianProduct anywhere."""
    emb = _emb(spark)
    with scope(spark) as st:
        plan = pq_topk_frame(st, emb)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_codes_are_byte_small(spark):
    """The representation claim: every code fits a single byte
    (code < 256 — here K=16), M=8 codes per vector."""
    emb = _emb(spark)
    with scope(spark) as st:
        codes, codebook = pq_fit_frame(st, emb)
        stats = codes.agg(F.max("code").alias("mx"),
                          F.min("code").alias("mn"),
                          F.countDistinct("m").alias("ms")).collect()[0]
        assert 0 <= stats.mn and stats.mx < 16 and stats.ms == 8
        assert codebook.count() <= 8 * 16
