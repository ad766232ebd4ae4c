"""Worst-case-document bound: peak RSS and parse CPU of one giant
chase-shaped statement (fixtures.mega_statement_text), each size and
mode in a fresh child process.  Modes:

* ``whole`` — the whole-document reference: ``finalize_records`` over
  one parse of every line (what the engine ran before it chunked);
* ``columnar`` — ``chunking.parse_document_columnar``, the one parse;
* ``parse_document`` — the engine's dict view, as ``serve.py`` calls it;
* ``worker`` — the production extraction worker,
  ``pipeline._parse_arrow_batches``, over one Arrow batch holding the
  document (what one Spark task runs for it).

``base_rss_mb`` is the child's RSS once imports are done and before the
document exists; ``mb_rss_per_doc_mb`` is (peak − base) / doc MB, the
input batch included.  Results feed BENCH/MEGADOC.md;
tests/test_megadoc.py runs ``measure`` at 24 MB.

Usage: python tools/megadoc_bench.py [mb ...]   (default: 32 64)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, resource, sys, time
sys.path.insert(0, %(repo)r)
import pyarrow as pa
from pdf_parser_spark.engine.banks import ALL_PARSERS
from pdf_parser_spark.engine.chunking import parse_document_columnar
from pdf_parser_spark.engine.detect import detect_issuer
from pdf_parser_spark.engine.direction import finalize_records
from pdf_parser_spark.engine.document import parse_document
from pdf_parser_spark.engine.textrules import split_lines, year_of
from pdf_parser_spark.fixtures import mega_statement_text
from pdf_parser_spark.pipeline import _parse_arrow_batches

def rss_mb():
    with open("/proc/self/statm") as fh:
        return int(fh.read().split()[1]) * resource.getpagesize() / 2**20

mb, mode = %(mb)d, %(mode)r
base = rss_mb()
text = mega_statement_text(mb)
t0 = time.process_time()
if mode == "worker":
    batch = pa.RecordBatch.from_pydict({
        "url": ["https://mega.test/doc0"],
        "warc_ts": pa.array([None], pa.timestamp("us")),
        "html": pa.array([None], pa.binary()),
        "text": [text]})
    del text
    t0 = time.process_time()
    n = sum(b.num_rows for b in _parse_arrow_batches([batch])
            if b.num_rows and b.column(1)[0].as_py() == "tx")
elif mode == "whole":
    parse_fn = ALL_PARSERS[detect_issuer(text)]
    n = len(finalize_records(parse_fn(split_lines(text),
                                      year_of(text, 2024))))
elif mode == "columnar":
    n = len(parse_document_columnar(text, 2024)[1][0])
else:
    n = len(parse_document(text, 2024)[1])
peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
print(json.dumps({"mb": mb, "mode": mode, "txs": n,
                  "cpu_s": round(time.process_time() - t0, 1),
                  "base_rss_mb": round(base, 1),
                  "peak_rss_mb": round(peak, 1),
                  "mb_rss_per_doc_mb": round((peak - base) / mb, 1)}))
"""


MODES = ("whole", "columnar", "parse_document", "worker")


def measure(mb: int, mode: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": REPO, "mb": mb,
                                         "mode": mode}],
        capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(sizes) -> None:
    print("| mode | doc MB | txs | CPU s | base RSS MB | peak RSS MB"
          " | MB RSS / doc MB |")
    print("|---|---|---|---|---|---|---|")
    for mb in sizes:
        for mode in MODES:
            r = measure(mb, mode)
            print("| %(mode)s | %(mb)d | %(txs)d | %(cpu_s).1f"
                  " | %(base_rss_mb).0f | %(peak_rss_mb).0f"
                  " | %(mb_rss_per_doc_mb).1f |" % r, flush=True)


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or [32, 64])
