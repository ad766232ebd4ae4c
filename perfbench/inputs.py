"""Seeded inputs for the workloads.

Document content is fixed; the seed decides identifiers and order: url
suffixes and row order for the extraction workloads (and so where the
megadocs land after the salted shuffle), document ids and row order for
the ops tables.  Every seed therefore asks for the same amount of work.
The program under test only ever sees the rows built here: the same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from typing import List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

# extract_skewed: the fixture corpus (33 small statements + 3
# megadocs, pdf/html/text payloads cycling), R replicas
SKEW_REPLICAS = 2
# crawl_pdf: the 33 small statements as PDF payloads, R replicas
CRAWL_REPLICAS = 80
MEGADOC_BYTES = 64 * 1024

# ops table sizes (rows); the queries read only ``documents``
OPS_CONTENT_SEED = 20240101
OPS_DOCS = 200
OPS_VECTORS = 50
OPS_EVENTS = 100


def _token(rng: random.Random) -> str:
    return "%08x" % rng.getrandbits(32)


def base_pages(modes: tuple) -> List[tuple]:
    """One row per fixture document: (url, warc_ts, payload, text, lang)."""
    from pdf_parser_spark.pages_source import fixture_pages_rows

    return fixture_pages_rows(1, modes=modes)


def replicate(base: List[tuple], n: int, seed: int) -> Tuple[List[tuple],
                                                            List[str]]:
    """``n`` rows cycling through ``base`` with seeded url suffixes,
    shuffled by the seed.  Returns (rows, base_url per row)."""
    rng = random.Random(seed)
    salt = _token(rng)
    out = []
    for i in range(n):
        url, ts, payload, text, lang = base[i % len(base)]
        out.append((("%s?crawl=%s-%d" % (url, salt, i), ts, payload, text,
                     lang), url))
    rng.shuffle(out)
    return [r for r, _ in out], [b for _, b in out]


def skewed_pages(seed: int) -> Tuple[List[tuple], List[str]]:
    base = base_pages(("pdf", "html", "text"))
    return replicate(base, len(base) * SKEW_REPLICAS, seed)


def crawl_pages(seed: int) -> Tuple[List[tuple], List[str]]:
    base = [r for r in base_pages(("pdf",)) if len(r[2]) < MEGADOC_BYTES]
    return replicate(base, len(base) * CRAWL_REPLICAS, seed)


# ------------------------------------------------------------ ops tables
_WORDS = ("alpha bravo table scan merge order join window key value batch "
          "sort group filter stream row column vector hash part line data "
          "query spark agg big small fast slow the a").split()
_LANGS = ("en", "en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")


def _documents(rng: random.Random, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = [rng.choice(_WORDS) for _ in range(rng.randint(8, 90))]
        if rng.random() < 0.06:
            words.append("dup")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n)],
        "source": ["src%d" % rng.randrange(20) for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: random.Random, n: int, dim: int = 64) -> pa.Table:
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(label)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: random.Random, n: int) -> pa.Table:
    t = dt.datetime(2024, 1, 1)
    ts, users, kinds, values, props = [], [], [], [], []
    for _ in range(n):
        t += dt.timedelta(seconds=rng.expovariate(1 / 2600.0))
        ts.append(t)
        users.append(rng.randrange(15))
        kinds.append(rng.choice(_EVENT_TYPES))
        values.append(round(rng.uniform(0, 200), 2))
        props.append('{"k": %d}' % rng.randrange(100))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": kinds, "value": values, "props": props,
    })


def _star_schema(rng: random.Random) -> dict:
    """The TPC-H-shaped tables the query registry binds as views; the
    suite's queries do not read them, so they are small."""
    day = dt.datetime(1995, 1, 1)
    i64, i32 = pa.int64(), pa.int32()
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": ["R%d" % i for i in range(5)]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": ["NATION_%d" % i for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(range(20), i64),
            "c_name": ["Customer#%d" % i for i in range(20)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(20)],
                                    i32),
            "c_acctbal": [round(rng.uniform(0, 9000), 2) for _ in range(20)],
            "c_mktsegment": ["BUILDING"] * 20}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(5), i64),
            "s_name": ["Supplier#%d" % i for i in range(5)],
            "s_nationkey": pa.array(range(5), i32),
            "s_acctbal": [100.0] * 5}),
        "part": pa.table({
            "p_partkey": pa.array(range(10), i64),
            "p_name": ["part %d" % i for i in range(10)],
            "p_brand": ["Brand#1"] * 10, "p_type": ["ECONOMY"] * 10,
            "p_size": pa.array([1] * 10, i32),
            "p_retailprice": [900.0] * 10}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(20), i64),
            "o_custkey": pa.array([i % 20 for i in range(20)], i64),
            "o_orderstatus": ["F"] * 20,
            "o_totalprice": [1000.0] * 20,
            "o_orderdate": pa.array([day] * 20, pa.timestamp("us")),
            "o_orderpriority": ["3-MEDIUM"] * 20}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(range(40), i64),
            "l_partkey": pa.array([i % 10 for i in range(40)], i64),
            "l_suppkey": pa.array([i % 5 for i in range(40)], i64),
            "l_linenumber": pa.array([1] * 40, i32),
            "l_quantity": [1.0] * 40, "l_extendedprice": [10.0] * 40,
            "l_discount": [0.0] * 40, "l_tax": [0.0] * 40,
            "l_returnflag": ["N"] * 40, "l_linestatus": ["O"] * 40,
            "l_shipdate": pa.array([day] * 40, pa.timestamp("us"))}),
    }


def write_ops_tables(out_dir: str, seed: int) -> str:
    """Write the registry's ten tables as ``<out_dir>/<name>.parquet``."""
    rng = random.Random(OPS_CONTENT_SEED)
    docs = _documents(rng, OPS_DOCS)
    order = list(range(OPS_DOCS))
    random.Random(seed).shuffle(order)
    docs = docs.take(order).set_column(
        0, "doc_id", pa.array(range(OPS_DOCS), pa.int64()))
    tables = {
        "documents": docs,
        "embeddings": _embeddings(rng, OPS_VECTORS),
        "events": _events(rng, OPS_EVENTS),
        **_star_schema(rng),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, "%s.parquet" % name))
    return out_dir
