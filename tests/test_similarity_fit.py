"""The production (iterative, persisted) IVF fit must agree
cell-for-cell with the unrolled-SQL oracle form, and must plan as
broadcast joins — never a CartesianProduct; the persisted index serves
the ``nprobe`` dial between the SQL IVF and brute force."""

from pdf_parser_spark.ops.similarity import (
    _ivf_fit_impl, ivf_index_write, ivf_persisted_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_fit_impl_matches_sql_fit(spark):
    import query_registry

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    got = {r.vec_id: r.cell for r in _ivf_fit_impl(emb)[0].collect()}
    want = {
        r.vec_id: r.cell
        for r in spark.sql(
            query_registry.QUERY_SQL["ann_ivf_fit"]["spark"]).collect()
    }
    assert got == want
    assert len(got) == emb.count()
    assert len(set(got.values())) == 8  # all cells populated


def test_ivf_fit_impl_plan_shape(spark):
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    fit = _ivf_fit_impl(emb, iters=1)[0]
    plan = fit._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the k-row centroid side must be broadcast (Catalyst folds the
    # constant join key, leaving BroadcastNestedLoopJoin BuildRight —
    # correct: tiny side shipped, big side streamed)
    assert "BroadcastNestedLoopJoin BuildRight" in plan \
        or "BroadcastHashJoin" in plan


def _served(spark, tmp_path, nprobe):
    """Top-5 of the first 8 vectors, served from an index persisted
    from the full-corpus ``ann_ivf_fit`` fit."""
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    vectors, centroids = _ivf_fit_impl(emb, carry_qv=True)
    idx = str(tmp_path / "ivf_idx")
    ivf_index_write(spark, idx, vectors, centroids, 8)
    return sorted((r.query_id, r.rank, r.neighbor_id, repr(r.cosine))
                  for r in ivf_persisted_topk(spark, idx, nprobe=nprobe)
                  .collect())


def _sql(spark, name):
    import query_registry

    return sorted((r.query_id, r.rank, r.neighbor_id, repr(r.cosine))
                  for r in spark.sql(query_registry.QUERY_SQL[name]
                                     ["spark"]).collect())


def test_ivf_topk_nprobe1_matches_sql(spark, tmp_path):
    """nprobe=1 probes only each query's fitted cell: exactly the
    ann_ivf_topk SQL (same fit, same ranking math)."""
    got = _served(spark, tmp_path, 1)
    assert got == _sql(spark, "ann_ivf_topk") and len(got) == 40


def test_ivf_nprobe_k_recovers_brute_force(spark, tmp_path):
    """nprobe=k probes every cell — identical results to the
    brute-force SQL baseline (the recall dial's upper end)."""
    assert _served(spark, tmp_path, 8) == _sql(spark, "ann_cosine_topk")


def test_ivf_candidate_reduction(spark):
    """Cell pruning must ACTUALLY cut the scored-pair count: with k=8
    cells and nprobe=1, candidates touched are the queries' own cells
    only — assert >= 3x below brute force on the real fit (cells are
    k-means-balanced, not perfectly uniform)."""
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    n = emb.count()
    assignment, _ = _ivf_fit_impl(emb)
    sizes = {r.cell: r.n for r in
             assignment.groupBy("cell").count()
             .withColumnRenamed("count", "n").collect()}
    qcells = [r.cell for r in
              assignment.filter("vec_id < 8").collect()]
    ivf_pairs = sum(sizes[c] - 1 for c in qcells)
    brute_pairs = 8 * (n - 1)
    assert brute_pairs / ivf_pairs >= 3.0, (brute_pairs, ivf_pairs, sizes)


def test_ivf_index_append_then_serve_exact(spark, tmp_path):
    """Incremental index lifecycle: fit on the first 400 vectors,
    persist, append the remaining 100 WITHOUT refitting (broadcast
    centroid assignment only), then serve with nprobe=k — which is
    exact brute force over everything the index holds — and compare
    against fresh top-k over the full corpus computed independently.
    Also: the appended vectors must land in the same cells the
    persisted centroids imply."""
    from pdf_parser_spark.ops.similarity import ivf_index_append
    from pyspark.sql import functions as F

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
               " * 1000000.0) AS BIGINT))").alias("qv"))
    part_a = base.filter("vec_id < 400")
    part_b = base.filter("vec_id >= 400")

    k = 8
    vectors_a, centroids = _ivf_fit_impl(part_a, k, 2, quantized=True,
                                         carry_qv=True)
    idx = str(tmp_path / "ivf_idx")
    ivf_index_write(spark, idx, vectors_a, centroids, k)
    ivf_index_append(spark, idx, part_b)

    # the index now holds the full corpus, cell-assigned
    vectors = spark.read.parquet(idx + "/vectors")
    assert vectors.count() == 500
    # appended rows sit in their centroid-nearest cell
    cents = {r.cell: r.cv for r in centroids.collect()}
    for r in vectors.filter("vec_id >= 400").collect():
        dists = {c: sum((x - y) ** 2 for x, y in zip(r.qv, cv))
                 for c, cv in cents.items()}
        best = min(dists, key=lambda c: (dists[c], c))
        assert r.cell == best, r.vec_id

    # nprobe=k serve over the persisted index == brute top-5 over the
    # UNION corpus (computed independently, no index)
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, repr(r.cosine))
        for r in ivf_persisted_topk(spark, idx, n_queries=8,
                                    nprobe=k, topn=5).collect())
    rows = {r.vec_id: r.qv for r in base.collect()}

    def cosine(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return float(dot) / (na * nb)

    want = []
    for q in range(8):
        scored = sorted(
            ((-cosine(rows[q], qv), c) for c, qv in rows.items()
             if c != q))
        for rank, (negc, c) in enumerate(scored[:5], 1):
            want.append((q, rank, c, repr(-negc)))
    assert got == sorted(want)


def test_amortized_ivf_frames_keep_their_own_index(spark, tmp_path,
                                                   monkeypatch):
    """Each call's output survives the removal of its own index and a
    later call's: two frames, collected second then first, agree, and
    no index root is left behind."""
    import tempfile

    from pdf_parser_spark.ops.similarity import amortized_ivf_demo

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    spark.read.parquet(SF_DIR + "/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    first = amortized_ivf_demo(spark)
    second = amortized_ivf_demo(spark)
    rows = sorted(map(tuple, second.collect()))
    assert sorted(map(tuple, first.collect())) == rows and rows
    assert not list(tmp_path.glob("pdf_parser_spark_*"))
