"""spark-extract benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload extract_skewed --seed 1 \\
        --seconds 8 --trace 0

Workloads: ``extract_skewed`` and ``crawl_pdf`` (see extraction.py).

Closed loop: one driver process, one client, one Spark job at a time,
on ``local[N]`` with N = the host's CPU count.  Set-up (session start,
input generation, input load) runs ``SETUPS`` times, all but the first
after a warm-up that has the JVM compile the measured path; medians
are reported.  Then measured runs repeat until ``--seconds`` of
measured time have passed; every run's output is checked.

``--trace 0`` prints the end-to-end metrics, bounded: the process
tree's CPU seconds per set-up, ``setup_s``, and per measured run,
``cpu_s``; wall seconds and docs/s beside them.  ``--trace 1`` starts
Spark with its event log on, runs once untraced and once traced
(driver-side spans around the layer calls), for ``extract_skewed``
then probes the ops layer (ops.py), and prints the per-layer table.  The last stdout line is one JSON
object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5

# the traced run of this workload also measures the ops layer
OPS_WORKLOAD = "extract_skewed"
# the bounded end-to-end metrics, in the result line
END_TO_END = {"setup_s": "s", "cpu_s": "s"}
# printed next to them but not bounded: on a shared host, wall time
# drifts with the other tenants' load far more than CPU time does
WALL = {"setup_wall_s": "s", "wall_s": "s", "docs_per_s": "1/s"}


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written once."""

    def __init__(self):
        self.spans: List[dict] = []
        self._open: List[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and "end" in s)


class Bench:
    """Run-wide state: where to write, the seed, the Spark session."""

    def __init__(self, args):
        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = os.cpu_count() or 1
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.tracer = Tracer()
        self.spark = None
        self._dirs = 0
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # keep every temporary file (Python, Spark, the JVM) in the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, "d%03d-%s" % (self._dirs, name))

    def start_session(self, event_log: Optional[str] = None):
        """A new SparkSession from the program's own factory.  The first
        call starts the JVM-side SparkContext (with the Spark event log
        on, if asked); later calls get the live one and a fresh session
        on it."""
        from pdf_parser_spark.session import get_spark

        first = self.spark is None
        # TieredStopAtLevel=1: this JVM lives under a minute, so the C2
        # compiler never pays back its compile time; on a 4-core host
        # its threads took about half of the JVM's CPU and were the
        # part that varied most from run to run
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 "
                "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
        }
        if event_log and first:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(app="perfbench", cores=self.cores, extra_conf=conf)
        if not first:
            return spark.newSession()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def close(self) -> None:
        """Stop Spark, then wait until the JVM and the Python workers it
        started have exited."""
        from pyspark import SparkContext

        from procstat import tree_pids

        children = [p for p in tree_pids() if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and any(
                os.path.exists("/proc/%d" % p) for p in children):
            time.sleep(0.1)


def set_up(bench: Bench, workload, event_log: Optional[str] = None):
    """One timed set-up; returns the live session, its wall seconds and
    the process tree's CPU seconds during it."""
    from procstat import tree_cpu

    cpu0, t0 = tree_cpu()["total"], time.perf_counter()
    with bench.tracer.span("setup"):
        with bench.tracer.span("session.start"):
            spark = bench.start_session(event_log)
        workload.setup(spark)
    return spark, time.perf_counter() - t0, tree_cpu()["total"] - cpu0


def warm_up(bench: Bench, workload, spark) -> None:
    """Untimed: the measured path once or more, under its own job
    description, before anything is measured."""
    with bench.tracer.span("warm-up"):
        spark.sparkContext.setJobDescription("warm-up")
        workload.warm_up(spark)


def measured_run(bench: Bench, workload, spark, i: int,
                 traced: bool = False) -> dict:
    from procstat import RssSampler, tree_cpu

    cpu0 = tree_cpu()
    # the sampler polls /proc, so it runs only when tracing
    with (RssSampler() if traced else nullcontext()) as rss, \
            bench.tracer.span("run"):
        it = workload.iteration(spark, i, traced=traced)
    cpu1 = tree_cpu()
    it["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    if traced:
        it["peak_rss_mb"] = rss.peak / 2 ** 20
    with bench.tracer.span("check"):
        it["attempted"], it["failed"] = workload.check(spark, it)
    return it


def end_to_end(bench: Bench, workload) -> dict:
    # the first set-up starts the JVM; the others follow the warm-up,
    # so the JIT compiling the warm-up's code does not land in them
    spark, wall, cpu = set_up(bench, workload)
    setups = [(wall, cpu)]
    warm_up(bench, workload, spark)
    for _ in range(SETUPS - 1):
        workload.teardown(spark)
        spark, wall, cpu = set_up(bench, workload)
        setups.append((wall, cpu))
    workload.prepare_expected()
    runs, spent = [], 0.0
    while not runs or spent < bench.seconds:
        runs.append(measured_run(bench, workload, spark, len(runs)))
        spent += runs[-1]["wall_s"]
    workload.teardown(spark)
    med = statistics.median
    metrics = {
        "setup_s": med([cpu for _, cpu in setups]),
        "setup_wall_s": med([wall for wall, _ in setups]),
        "wall_s": med([r["wall_s"] for r in runs]),
        "docs_per_s": med([r["docs"] / r["wall_s"] for r in runs]),
        "cpu_s": med([r["cpu"]["total"] for r in runs]),
    }
    return {"metrics": metrics, "setups": len(setups),
            "samples": len(runs),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs)}


# ------------------------------------------------------------ traced run
def per_layer(bench: Bench, workload, ops=None) -> dict:
    """One session with the Spark event log on: an untraced and then a
    traced measured run, the ops probe if given, then the layer table."""
    from eventlog import read_events

    tr = bench.tracer
    log_dir = os.path.join(bench.work, "events")
    spark, _, _ = set_up(bench, workload, event_log=log_dir)
    session_start = tr.total("session.start")
    warm_up(bench, workload, spark)
    workload.prepare_expected()
    plain = measured_run(bench, workload, spark, 0)
    traced = measured_run(bench, workload, spark, 1, traced=True)
    workload.teardown(spark)
    if ops is not None:
        with tr.span("ops"):
            ops.setup()
            ops.warm_up(spark)
            ops_run = ops.traced_pass(spark)
    spark.stop()  # flushes and closes the event log
    bench.spark = None

    layers = {"session.start_s": session_start,
              "session.peak_rss_mb": traced["peak_rss_mb"],
              "run.wall_s": plain["wall_s"],
              "run.docs_per_s": plain["docs"] / plain["wall_s"],
              "trace.overhead_s": traced["wall_s"] - plain["wall_s"]}
    attempted = plain["attempted"] + traced["attempted"]
    failed = plain["failed"] + traced["failed"]
    with tr.span("layers"):
        events = list(read_events(log_dir))
        layers.update(workload.trace_layers(events, traced))
        if ops is not None:
            layers.update(ops.trace_layers(events, ops_run))
            a, f = ops.check(ops_run)
            attempted, failed = attempted + a, failed + f
    return {"layers": layers, "attempted": attempted, "failed": failed}


# ---------------------------------------------------------------- main
def _program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "__spark_entry__.py", "pdf_parser_spark/pipeline.py",
        "pdf_parser_spark/session.py", "pdf_parser_spark/io_tables.py"))


def _workload(name: str, bench: Bench):
    import inputs
    from extraction import Extraction

    return Extraction(bench, {"extract_skewed": inputs.skewed_pages,
                              "crawl_pdf": inputs.crawl_pages}[name])


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_skewed", "crawl_pdf"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print("perfbench: the spark-extract sources are not next to this "
              "benchmark (expected __spark_entry__.py and pdf_parser_spark/ "
              "in %s)" % ROOT, file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    bench = Bench(args)
    load0 = os.getloadavg()
    try:
        workload = _workload(args.workload, bench)
        if not bench.trace:
            res = end_to_end(bench, workload)
        else:
            from ops import OpsProbe

            res = per_layer(bench, workload, OpsProbe(bench)
                            if args.workload == OPS_WORKLOAD else None)
    finally:
        bench.close()
        shutil.rmtree(bench.work, ignore_errors=True)
    load1 = os.getloadavg()
    print("host nproc=%d cores_used=%d seed=%d loadavg_start=%.2f "
          "loadavg_end=%.2f" % (os.cpu_count() or 0, bench.cores, args.seed,
                                load0[0], load1[0]))
    if bench.trace:
        units = layer_units()
        unknown = res["layers"].keys() - units.keys()
        if unknown:
            raise RuntimeError("undeclared layer metrics: %s"
                               % sorted(unknown))
        metrics = {k: {"value": res["layers"].get(k, 0), "unit": u}
                   for k, u in units.items()}
        _print_layers(metrics)
        _write_trace(bench, args, res, load0, load1)
    else:
        units = dict(END_TO_END, **WALL)
        for k, v in res["metrics"].items():
            print("%-12s %14.4f %-4s median of %d" % (
                k, v, units[k],
                res["setups"] if k.startswith("setup") else res["samples"]))
        metrics = {k: {"value": res["metrics"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    print("failed_frac  %14.4f      %d of %d" % (
        res["failed"] / res["attempted"], res["failed"], res["attempted"]))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


def layer_units() -> Dict[str, str]:
    """Every per-layer metric and its unit; a workload that skips a
    layer reports 0 for it."""
    from ops import METRICS, QUERIES

    names = ["session.start_s", "session.peak_rss_mb", "run.wall_s",
             "run.docs_per_s", "trace.overhead_s",
             "pdfio.extract_cpu_s", "pdfio.docs", "pdfio.bytes_in",
             "pdfio.errors", "engine.detect_cpu_s", "engine.parse_cpu_s",
             "engine.lines", "engine.txs", "worker.cpu_s",
             "worker.assemble_cpu_s"]
    names += ["pipeline." + m for m in (
        "tasks", "python_bytes_in", "python_bytes_out", "executor_run_s",
        "python_cpu_s", "boundary_s", "remainder_s", "shuffle_write_bytes",
        "task_s_p50", "task_s_max", "straggler_ratio", "gc_s",
        "spill_bytes")]
    names += ["io_tables." + m for m in (
        "resume_s", "commit_s", "files_written", "bytes_written",
        "snapshots", "noop_rerun_s")]
    names += ["ops.%s.%s" % (q, m) for q in QUERIES for m in METRICS]

    def unit(name: str) -> str:
        leaf = name.rsplit(".", 1)[-1]
        if leaf.endswith("per_s"):
            return "1/s"
        if leaf == "s" or leaf.endswith("_s") or leaf.startswith("task_s"):
            return "s"
        if "bytes" in leaf:
            return "bytes"
        if leaf.endswith("_mb"):
            return "MB"
        return "ratio" if leaf.endswith("ratio") else "count"

    return {n: unit(n) for n in names}


def _print_layers(metrics: dict) -> None:
    section = None
    for k, m in metrics.items():
        head = k.split(".")[0]
        if head != section:
            section = head
            print("[%s]" % head)
        print("  %-40s %16.4f %s" % (k, m["value"], m["unit"]))


def _write_trace(bench: Bench, args, res: dict, load0, load1) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "trace-%s-seed%d.json" % (args.workload,
                                                       args.seed))
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "nproc": os.cpu_count(), "cores_used": bench.cores,
                   "loadavg": [load0[0], load1[0]],
                   "layers": res["layers"], "spans": bench.tracer.spans},
                  fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
