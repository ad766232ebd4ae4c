"""pipeline.flat_map_rows: the per-document Arrow worker loop shared by
the sidecar operators (spans, multimodal, warc)."""

from pdf_parser_spark.pipeline import flat_map_rows


def test_bigint_extremes_and_null_round_trip(spark):
    df = spark.createDataFrame([(0,), (1,), (2,)], "k int")
    vals = {0: 2**63 - 1, 1: -2**63, 2: None}
    out = flat_map_rows(df, "k int, v bigint",
                        lambda k: [(k, vals[k])])
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (0, 2**63 - 1), (1, -2**63), (2, None)]


def test_rows_yielding_nothing_give_zero_rows(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "k int")
    # odd rows yield nothing; in the filtered frame no row yields at all
    some = flat_map_rows(df, "k int, s string",
                         lambda k: [(k, str(k))] if k % 2 == 0 else [])
    assert sorted(r.k for r in some.collect()) == [0, 2, 4, 6, 8]
    none = flat_map_rows(df.repartition(1), "k int, s string",
                         lambda k: iter(()))
    assert none.collect() == []
    assert none.schema.simpleString() == "struct<k:int,s:string>"


def test_binary_arrives_as_bytes(spark):
    df = spark.createDataFrame(
        [("a", bytearray(b"\x00\xffpdf")), ("b", None)],
        "url string, html binary")
    out = flat_map_rows(
        df, "url string, kind string, n bigint",
        lambda url, html: [(url, type(html).__name__,
                            None if html is None else len(html))])
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "bytes", 5), ("b", "NoneType", None)]


def test_rows_of_one_input_keep_their_order(spark):
    df = spark.createDataFrame([("a", 4), ("b", 3)], "url string, n int")
    out = flat_map_rows(df.repartition(1), "url string, k int",
                        lambda url, n: ((url, n - i) for i in range(n)))
    got = [(r.url, r.k) for r in out.collect()]
    assert [k for u, k in got if u == "a"] == [4, 3, 2, 1]
    assert [k for u, k in got if u == "b"] == [3, 2, 1]
