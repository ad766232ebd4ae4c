"""The ops layer: registry queries over seeded generated tables.

Measured in the traced run of ``extract_skewed``, in the same Spark
session after the extraction: one cold pass over ``QUERIES`` through
``__spark_entry__.all_queries()`` as warm-up, then one traced pass, each
query collected to the driver.  Expected results come from the
registry's DuckDB oracle (``all_oracles()``) over the same parquet
files: row count plus an order-independent digest of the canonical
rows.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import time
from typing import Dict, List, Tuple

import inputs

# Queries of bench.py's headline suite that fit a traced run: the
# persisted-intermediate twin that leaves checkpoints and temp views
# behind (span_neardup) and the issuer-detection CASE battery as a
# plain SQL plan.
QUERIES = ["span_neardup", "c1_detect_issuer"]
BASE_VIEWS = {"region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"}
METRICS = ("s", "plan_s", "jobs", "shuffle_bytes", "cached_rdds_after",
           "temp_views_after")


def canonical(columns: List[str], rows) -> Tuple[int, str]:
    """(row count, digest) independent of row and column order; floats
    by ``repr`` so both engines must agree to the last bit."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = []
    for r in rows:
        lines.append("\x01".join(
            repr(r[i]) if isinstance(r[i], float) else str(r[i])
            for i in order))
    lines.sort()
    body = "\x02".join([",".join(sorted(columns))] + lines)
    return len(lines), hashlib.sha256(body.encode("utf-8")).hexdigest()


def load_registry(root: str):
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def retention(spark) -> Tuple[int, int]:
    """(cached RDDs, temp views beyond the registry's base tables)."""
    rdds = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    views = sum(1 for t in spark.catalog.listTables()
                if t.isTemporary and t.name not in BASE_VIEWS)
    return rdds, views


class OpsProbe:
    def __init__(self, bench):
        self.bench = bench
        reg = load_registry(bench.root)
        self.queries = reg.all_queries()
        self.oracles = reg.all_oracles()
        self.sf_dir = ""
        self.expected: Dict[str, Tuple[int, str]] = {}

    def setup(self) -> None:
        """Input generation and the oracle's expected results."""
        import duckdb

        self.sf_dir = inputs.write_ops_tables(
            self.bench.fresh_dir("sf"), self.bench.seed)
        con = duckdb.connect()
        try:
            for t in BASE_VIEWS:
                con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                        % (t, self.sf_dir, t))
            for q in QUERIES:
                res = con.sql(self.oracles[q])
                self.expected[q] = canonical(res.columns, res.fetchall())
        finally:
            con.close()

    def warm_up(self, spark) -> None:
        """One cold pass; it compiles the most."""
        spark.sparkContext.setJobDescription("warm-up")
        for q in QUERIES:
            self.queries[q](spark, self.sf_dir).collect()

    def traced_pass(self, spark) -> dict:
        results, per_query = {}, {}
        for q in QUERIES:
            spark.sparkContext.setJobDescription("ops:" + q)
            tq = time.perf_counter()
            plan_s = None
            try:
                df = self.queries[q](spark, self.sf_dir)
                df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - tq
                results[q] = canonical(df.columns,
                                       [tuple(r) for r in df.collect()])
            except Exception as exc:  # a failed query is counted, not fatal
                results[q] = ("error", repr(exc)[:200])
            row = {"s": time.perf_counter() - tq}
            row["plan_s"] = row["s"] if plan_s is None else plan_s
            row["cached_rdds_after"], row["temp_views_after"] = \
                retention(spark)
            per_query[q] = row
        return {"results": results, "per_query": per_query}

    def check(self, it: dict) -> Tuple[int, int]:
        bad = sum(1 for q in QUERIES if it["results"][q] != self.expected[q])
        return len(QUERIES), bad

    def trace_layers(self, events: List[dict], it: dict) -> dict:
        from eventlog import rollup

        by_q = rollup(events,
                      lambda d: d[4:] if d.startswith("ops:") else None)
        out = {}
        for q, row in it["per_query"].items():
            ev = by_q.get(q, {})
            out.update({
                "ops.%s.s" % q: row["s"],
                "ops.%s.plan_s" % q: row["plan_s"],
                "ops.%s.jobs" % q: ev.get("jobs", 0),
                "ops.%s.shuffle_bytes" % q: (ev.get("shuffle_write_bytes", 0)
                                            + ev.get("shuffle_read_bytes", 0)),
                "ops.%s.cached_rdds_after" % q: row["cached_rdds_after"],
                "ops.%s.temp_views_after" % q: row["temp_views_after"],
            })
        return out
