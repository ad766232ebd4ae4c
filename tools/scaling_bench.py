"""Scaling-efficiency evidence: the same extraction job at two
parallelism levels (N and 4N cores) on the same input — the sandbox
stand-in for BASELINE.json's N vs 4N *executor* criterion (no real
cluster here; see BASELINE.md 'Sandbox evidencing plan').

This host does NOT scale linearly even for pure CPU work (all-core
turbo / memory bandwidth / co-tenant load): raw multiprocessing of the
identical per-document engine shows the same falloff.  So the report
includes BOTH curves — the Spark job and the no-Spark hardware
baseline — and the ratio between them, which is the part our
architecture is accountable for.  On a real multi-executor cluster the
per-node frequency ceiling does not compound across nodes; the
job-vs-baseline ratio is the transferable number.

Protocol: separate JVM/pool per level, 5 runs (Spark) / 3 runs (mp),
run 1 discarded, best of the rest (the host carries external load —
loadavg is recorded; best-of approximates the uncontended machine).

Usage: python tools/scaling_bench.py [repeat] [N]
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

_SPARK_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, "%(repo)s")
from pdf_parser_spark.session import get_spark
from pdf_parser_spark.pages_source import fixture_pages_df, fixture_pages_rows
from pdf_parser_spark.pipeline import parse_pages

cpus = int(sys.argv[1]); repeat = int(sys.argv[2])
spark = get_spark(app="scaling-%%d" %% cpus, cores=cpus,
                  shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
rows = fixture_pages_rows(repeat=repeat)
payload = sum(len(r[2] or b"") + len((r[3] or "").encode()) for r in rows)
pages = fixture_pages_df(spark, repeat=repeat).persist(); pages.count()
times = []
for i in range(5):
    t0 = time.time(); n = parse_pages(pages).count()
    times.append(time.time() - t0)
best = min(times[1:])
print(json.dumps({"cpus": cpus, "docs": len(rows),
                  "payload_mb": payload / 1e6, "runs": times,
                  "steady_sec": best, "loadavg": os.getloadavg()[0],
                  "docs_per_sec": len(rows) / best,
                  "mb_per_sec": payload / 1e6 / best,
                  "out_rows": n}))
"""

_MP_CHILD = r"""
import json, multiprocessing as mp, os, sys, time
sys.path.insert(0, "%(repo)s")
from pdf_parser_spark.pages_source import fixture_pages_rows
from pdf_parser_spark.pipeline import _parse_arrow_batches
import pyarrow as pa

cpus = int(sys.argv[1]); repeat = int(sys.argv[2])
rows = fixture_pages_rows(repeat=repeat)
cols = ["url", "warc_ts", "html", "text"]

def batches(chunk):
    # the worker Spark runs, fed Arrow batches of the session's
    # maxRecordsPerBatch (16) rows
    return [pa.RecordBatch.from_arrays(
                [pa.array(c) for c in zip(*chunk[j:j + 16])], names=cols)
            for j in range(0, len(chunk), 16)]

frames = [batches([r[:4] for r in rows[i::cpus * 4]])
          for i in range(cpus * 4)]

def work(task):
    return sum(b.num_rows for b in _parse_arrow_batches(iter(task)))

with mp.Pool(cpus) as pool:
    pool.map(work, frames[:cpus])  # warm
    times = []
    for _ in range(3):
        t0 = time.time(); pool.map(work, frames)
        times.append(time.time() - t0)
best = min(times[1:])
print(json.dumps({"cpus": cpus, "docs": len(rows), "runs": times,
                  "steady_sec": best, "loadavg": os.getloadavg()[0],
                  "docs_per_sec": len(rows) / best}))
"""


def _run(child: str, cpus: int, repeat: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", child % {"repo": REPO}, str(cpus),
         str(repeat)],
        capture_output=True, text=True, timeout=1200,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(repeat: int = 160, levels=(8, 16, 32), weak: bool = False):
    """Monotone efficiency curve in ONE session: Spark + hardware
    baseline at each parallelism level, loadavg recorded per child.

    ``weak=False`` (strong scaling): fixed corpus, efficiency =
    speedup / core-ratio.  The fixed 152 MB corpus Amdahl-squeezes
    this number at 32 cores (fixed Arrow/shuffle/driver costs).

    ``weak=True``: corpus scales WITH cores (constant docs/core,
    ``repeat`` is the per-8-cores unit), efficiency = t(base)/t(c) —
    ideal weak scaling holds wall time constant.  This is the shape a
    real 4N-executor cluster sees (each executor keeps its share of a
    10^12-row table), so it is the fairer stand-in for the BASELINE
    N-to-4N criterion.

    Writes BENCH/scaling_curve.json / scaling_weak.json;
    BENCH/BASELINE.md is maintained by hand from them."""
    import os
    t_load0 = os.getloadavg()[0]
    base = levels[0]

    def rep(c):
        return repeat * c // base if weak else repeat

    spark_runs = {c: _run(_SPARK_CHILD, c, rep(c)) for c in levels}
    mp_runs = {c: _run(_MP_CHILD, c, rep(c)) for c in levels}

    def curve(runs):
        out = {}
        for c, r in runs.items():
            if weak:
                eff = runs[base]["steady_sec"] / r["steady_sec"]
            else:
                eff = ((r["docs_per_sec"] / runs[base]["docs_per_sec"])
                       / (c / base))
            out[c] = {
                "docs": r["docs"],
                "docs_per_sec": round(r["docs_per_sec"], 1),
                "steady_sec": round(r["steady_sec"], 2),
                "loadavg": round(r["loadavg"], 2),
                "runs": [round(x, 2) for x in r["runs"]],
                "efficiency_vs_%d" % base: round(eff, 3),
            }
        return out

    def eff_at_max(runs):
        if weak:
            return runs[base]["steady_sec"] / runs[levels[-1]]["steady_sec"]
        return ((runs[levels[-1]]["docs_per_sec"]
                 / runs[base]["docs_per_sec"]) / (levels[-1] / base))

    report = {
        "mode": "weak" if weak else "strong",
        "repeat_unit": repeat,
        "payload_mb_at_base": round(spark_runs[base]["payload_mb"], 1),
        "loadavg_at_start": round(t_load0, 2),
        "spark": curve(spark_runs),
        "hardware_baseline": curve(mp_runs),
        "spark_vs_hardware_at_max": round(
            eff_at_max(spark_runs) / eff_at_max(mp_runs), 3),
    }
    out = REPO / "BENCH" / (
        "scaling_weak.json" if weak else "scaling_curve.json")
    out.write_text(json.dumps(report, indent=1))
    print(json.dumps(report, indent=1))
    print("wrote", out)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--weak"]
    main(int(args[0]) if args else 160,
         tuple(int(x) for x in args[1].split(","))
         if len(args) > 1 else (8, 16, 32),
         weak="--weak" in sys.argv)
