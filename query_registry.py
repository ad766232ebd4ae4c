"""Aggregate all dialect-paired queries into one registry.

``QUERY_SQL[name]['spark' | 'duckdb']`` → SQL string.
Used by __spark_entry__.py (driver contract) and tools/check_oracles.py.
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from pdf_parser_spark import relational, relational_banks  # noqa: E402

from pdf_parser_spark.ops import (  # noqa: E402
    bpe, c4clean, crawl, decontam, dedup, packing, retrieval,
    similarity, sketches, textstats, webgraph, weburl,
)

_MODULES = [relational, relational_banks, bpe, c4clean, crawl, decontam,
            dedup, packing, retrieval, similarity, sketches, textstats,
            webgraph, weburl]

QUERY_SQL = {}
for _mod in _MODULES:
    for _name, _fn in getattr(_mod, "QUERIES", {}).items():
        QUERY_SQL[_name] = {
            "spark": _fn("spark"),
            "duckdb": _fn("duckdb"),
        }
