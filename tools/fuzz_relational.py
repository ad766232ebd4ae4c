"""Differential fuzz of the PURE-CATALYST parsers: random ``documents``
rows flow through the in-plan derived-line synthesis + all nine
distinct relational bank plans (relational_banks.py), and every
(doc, tx_index, date, description, amount-repr, direction) tuple is
diffed against the Python engine run over the IDENTICAL derived lines
(same injection mirrors the differential tests use).

This closes the round-2 gap: the engine is fuzz-proven against the
read-only reference (tools/fuzz_differential.py, 68,500 docs), but the
Catalyst plans were only fixture/oracle-proven.  Here the fuzz corpus
drives the plans' regex batteries, window frames, and CASE ladders with
hostile word soup — amount-shaped tokens, month names, slash dates,
section vocabulary, unicode, RTL, emoji, degenerate whitespace —
well outside the driver corpus's vocabulary.

``ifb_relational``/``pnb_relational`` are asserted to be verbatim
aliases of the generic plan (as the reference's ifb.py/pnb.py clone its
GenericParser), so covering generic covers them; the assert fails loudly
if they ever diverge.

Usage: python tools/fuzz_relational.py [n_docs] [seed] [batch]
"""

from __future__ import annotations

import pathlib
import random
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pdf_parser_spark.engine.banks import (  # noqa: E402
    parse_bofa, parse_bofa_relationship, parse_chase, parse_citi,
    parse_generic, parse_mercury, parse_truist, parse_valley, parse_wf,
)
from pdf_parser_spark.engine.direction import finalize_records  # noqa: E402
from pdf_parser_spark.relational_banks import (  # noqa: E402
    bofa_inject_py, chase_inject_py, citi_inject_py, mercury_inject_py,
    rel_inject_py, truist_inject_py, valley_inject_py, wf_inject_py,
)
from pdf_parser_spark.session import get_spark  # noqa: E402
from query_registry import QUERY_SQL  # noqa: E402

# parser, python injection mirror (None = raw derived lines)
BANKS = {
    "generic_relational": (parse_generic, None),
    "truist_relational": (parse_truist, truist_inject_py),
    "valley_relational": (parse_valley, valley_inject_py),
    "mercury_relational": (parse_mercury, mercury_inject_py),
    "chase_relational": (parse_chase, chase_inject_py),
    "bofa_relational": (parse_bofa, bofa_inject_py),
    "bofa_rel_relational": (parse_bofa_relationship, rel_inject_py),
    "wf_relational": (parse_wf, wf_inject_py),
    "citi_relational": (parse_citi, citi_inject_py),
}

# hostile word soup: every token class the regex batteries dispatch on
POOL = (
    "alpha beta gamma transfer payment invoice ref batch llc inc acme "
    "vendor payroll rent utilities reembolso pago transferencia".split()
    + ["1,234.56", "(-42.00)", "63.43-", "0.01", "99,000,000.00", "1.5",
       "11.8.24", "$0.00", "12,34", "-.50", "(1,000.00)", "$5", "745.10",
       "100.00", "200.00", "$812.03", "0.00", "30,012.33", "18,400.00",
       # >= $100M: kills the old d13 `max_by(val, val + 1e8)` $-priority
       # encoding — a bare token this large outranked every $-token
       # (round-4 ask #2); keep one of each flavor in the soup
       "450,000,000.00", "$120,000,000.00", "2,500,000,000.00"]
    + ["01/03", "12/31/2024", "02/29", "13/45", "2024", "1999", "20199",
       "January", "Feb", "7,", "Dec", "31", "May", "1,", "Mar"]
    + ["Deposits", "withdrawals", "credits", "debits", "Checking",
       "Activity", "Savings", "DAILY", "ENDING", "BALANCE", "Cargos",
       "Page", "of", "9", "fees", "charges", "Service", "interest"]
    + ["WIRE", "OUT", "IN", "ACH", "CREDIT", "DEBIT", "Zelle", "to",
       "from", "CHECK", "1001", "POS", "DEB", "Fee", "Online", "PAYPAL",
       "purchase", "recurring", "deposit", "reversal", "WT", "company"]
    + ["*start*summary*end*", "FDIC", "Member", "N.A.", "/Org=Acme",
       "Srf#", "1-800-935-9935", "P.O.", "Box", "how", "avoid",
       "monthly", "fee", "statement", "period"]
    + ["日本語テキスト", "ñandú", "žluťoučký", "🚀💰", "‮تجربة‬",
       "DÉBITO", "CÁMARA", "—", "–", "−", " ", "(", ")", "$", "-"]
)


def random_text(rng: random.Random) -> str:
    n = rng.randint(1, 240)
    words = [rng.choice(POOL) for _ in range(n)]
    # degenerate separators: double spaces make empty split() tokens
    sep = "  " if rng.random() < 0.1 else " "
    return sep.join(words)


def tx_tuple(recs):
    return [(i, t["date"], t["description"], repr(t["amount"]),
             t["direction"]) for i, t in enumerate(recs)]


def main(n_docs: int = 10000, seed: int = 20260817,
         batch: int = 1000) -> None:
    for alias in ("ifb_relational", "pnb_relational"):
        assert (QUERY_SQL[alias]["spark"]
                == QUERY_SQL["generic_relational"]["spark"]), \
            "%s diverged from the generic plan — fuzz it separately" % alias

    rng = random.Random(seed)
    spark = get_spark(app="fuzz-relational", cores=32,
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    total = 0
    mismatches = 0
    while total < n_docs:
        b = min(batch, n_docs - total)
        rows = []
        for k in range(b):
            text = random_text(rng)
            rows.append((total + k, text, "en", "fuzz", len(text)))
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, "
                  "source string, n_chars bigint"
        ).createOrReplaceTempView("documents")

        by_doc = {}
        for r in spark.sql(QUERY_SQL["s3_lines"]["spark"]).collect():
            by_doc.setdefault(r.doc_id, []).append((r.line_no, r.line))
        for pairs in by_doc.values():
            pairs.sort()

        for name, (parse_fn, inject) in BANKS.items():
            expected = {}
            for doc_id in range(total, total + b):
                pairs = by_doc.get(doc_id, [])
                lines = [inject(doc_id, n, l) if inject else l
                         for n, l in pairs]
                expected[doc_id] = tx_tuple(
                    finalize_records(parse_fn(lines, 2024)))
            got = {}
            for r in spark.sql(QUERY_SQL[name]["spark"]).collect():
                got.setdefault(r.doc_id, []).append(
                    (r.tx_index, r.date, r.description, repr(r.amount),
                     r.direction))
            for rows_ in got.values():
                rows_.sort()
            bad = [k for k in expected if expected[k] != got.get(k, [])]
            if bad:
                mismatches += len(bad)
                k = bad[0]
                print("MISMATCH %s doc %d (seed %d)" % (name, k, seed))
                for a, b_ in zip(expected[k] + [None] * 3,
                                 got.get(k, []) + [None] * 3):
                    if a != b_:
                        print("  engine    :", a)
                        print("  relational:", b_)
                        break
        total += b
        print("%d docs fuzzed through %d plans, %d mismatches"
              % (total, len(BANKS), mismatches))
    print("DONE: %d docs x %d relational plans, %d mismatches"
          % (total, len(BANKS), mismatches))
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main(*(int(a) for a in sys.argv[1:4]))
