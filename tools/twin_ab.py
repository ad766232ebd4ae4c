"""Time every twin against its own unrolled SQL, in alternating pairs.

A twin is a ``__spark_entry__._SIDES`` row whose oracle is ``None``
and whose name has a ``QUERY_SQL`` entry: its Spark side is a
DataFrame program, and ``spark.sql(QUERY_SQL[name]["spark"])`` is the
unrolled form it has to beat.  Each row runs once per side as a
warm-up (the sorted rows must agree), then ``passes`` timed pairs,
alternating which side runs first.  A side's time covers building the
frame (twins materialize their output when called) and one
``collect()``.  Names after ``passes`` time only those rows, twin or
not; a plain-SQL row then times its SQL against itself, which is the
same-window control for a row whose twin was deleted.

Writes BENCH/twins.json: per row the timed runs, both medians and how
many pairs the registry side won.  Index roots that twins write go
under ``$TMPDIR``.

Usage: python tools/twin_ab.py <sf_dir> <passes> [name ...]
"""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib
import platform
import statistics
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", str(REPO / "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(side, spark, sf_dir) -> tuple:
    t0 = time.perf_counter()
    rows = side(spark, sf_dir).collect()
    return time.perf_counter() - t0, rows


def main(sf_dir: str, passes: str, *names: str) -> None:
    import pyspark

    from pdf_parser_spark.session import get_spark

    entry = _entry()
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark(app="twin-ab", cores=cores)
    sides = entry.all_queries()
    out = {"sf_dir": sf_dir, "passes": int(passes), "cores": cores,
           "python": platform.python_version(),
           "pyspark": pyspark.__version__, "rows": {}}
    twins = [name for name, (_, oracle) in entry._SIDES.items()
             if oracle is None and name in entry.QUERY_SQL]
    for name in names or twins:
        pair = {"registry": sides[name], "sql": entry._sql_query(name)}
        warm = {k: sorted(map(repr, _run(side, spark, sf_dir)[1]))
                for k, side in pair.items()}
        runs = {"registry": [], "sql": []}
        counts = set()
        for i in range(int(passes)):
            order = ("registry", "sql") if i % 2 == 0 else ("sql",
                                                             "registry")
            for k in order:
                secs, rows = _run(pair[k], spark, sf_dir)
                runs[k].append(round(secs, 3))
                counts.add(len(rows))
        med = {k: round(statistics.median(v), 3) for k, v in runs.items()}
        out["rows"][name] = {
            "twin": name in entry._SIDES,
            "rows_equal": warm["registry"] == warm["sql"],
            "row_counts_equal": len(counts) == 1,
            "runs": runs, "median": med,
            "registry_wins": sum(
                a < b for a, b in zip(runs["registry"], runs["sql"])),
        }
        print(name, json.dumps(out["rows"][name]), flush=True)
    path = REPO / "BENCH" / "twins.json"
    path.write_text(json.dumps(out, indent=1) + "\n")
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(*sys.argv[1:])
