"""Differential fuzz campaign: random statement-shaped documents are
executed through BOTH the read-only reference (the fake-pdfplumber
harness from tools/gen_goldens.py, utcnow pinned) and this repo's
engine; any (bank, date, description, amount-repr, direction)
divergence is a fidelity bug.

Dev-time tool (needs /root/reference) — the fixture corpus covers the
reachable branches deterministically; this sweeps the space BETWEEN
fixtures: random issuer headers, date formats, amounts, noise lines,
section headers, glued lines, unicode, degenerate whitespace.

Usage: python tools/fuzz_differential.py [n_docs] [seed]
"""

from __future__ import annotations

import pathlib
import random
import sys

from gen_goldens import run_reference  # noqa: E402  (same dir)

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pdf_parser_spark.engine.document import parse_document  # noqa: E402

ISSUERS = [
    "", "chase.com statement", "Wells Fargo Everyday Checking",
    "Bank of America Business Advantage", "CitiBusiness Streamlined",
    "Truist Bank statement", "Mercury Technologies",
    "Valley National Bank", "Pacific National Bank",
    "International Finance Bank", "JPMorgan Chase Bank, N.A.",
    "Preferred Rewards for Bus", "relationship banking",
]

SECTIONS = [
    "Deposits and additions", "Electronic withdrawals", "Cargos",
    "ATM & debit card withdrawals", "Checking Activity",
    "Savings Activity", "Deposits and other credits",
    "Withdrawals and other debits", "Daily ledger balances",
    "DAILY ENDING BALANCE", "Account transaction fees",
]

KEYWORDS = [
    "WIRE OUT", "WIRE IN", "ACH CREDIT", "ACH DEBIT", "Zelle payment to",
    "Zelle payment from", "CHECK 1001", "SERVICE CHARGE", "POS DEB",
    "Wire Transfer Fee", "Online Transfer from", "PAYPAL TRANSFER",
    "DEBIT CARD PURCH", "deposit", "interest payment", "BILL PMT",
    "card purchase", "recurring card purchase", "DÉBITO DE CÁMARA",
    "reversal", "WT 1234 Morgan Stanley", "company payment",
]

AMOUNTS = ["$1,234.56", "(-42.00)", "63.43-", "0.01", "99,000,000.00",
           "1.5", "11.8.24", "$0.00", "12,34", "100.00 200.00 300.00",
           "-.50", "(1,000.00)", "$5", "745.10"]

NOISE = [
    "Page 3 of 9", "*start*summary*end*", "JPMorgan Chase Bank, N.A.",
    "Member FDIC", "En caso de errores llame al 1-800-935-9935",
    "account number: 000123456789", "how to avoid the monthly fee",
    "1-800-242-7338", "P.O. Box 182051", "", " ", "\t",
    "statement period activity",
]

WORDS = ("alpha beta gamma delta epsilon transfer payment invoice ref "
         "batch llc inc corp acme vendor payroll rent utilities "
         "reembolso pago transferencia").split()


def random_doc(rng: random.Random) -> str:
    lines = []
    if rng.random() < 0.8:
        lines.append(rng.choice(ISSUERS))
    n = rng.randint(1, 60)
    for _ in range(n):
        r = rng.random()
        if r < 0.15:
            lines.append(rng.choice(SECTIONS))
        elif r < 0.3:
            lines.append(rng.choice(NOISE))
        else:
            parts = []
            if rng.random() < 0.7:
                parts.append("%02d/%02d" % (rng.randint(0, 13),
                                            rng.randint(0, 32)))
            elif rng.random() < 0.3:
                parts.append(rng.choice([
                    "January 5, 2024", "Mar 7", "Dec 31", "May 1, 1999",
                ]))
            parts.extend(rng.sample(WORDS, rng.randint(1, 6)))
            if rng.random() < 0.6:
                parts.append(rng.choice(KEYWORDS))
            if rng.random() < 0.8:
                parts.append(rng.choice(AMOUNTS))
            if rng.random() < 0.1:
                parts.append(rng.choice(AMOUNTS))  # second amount
            sep = " " if rng.random() < 0.9 else "   "
            lines.append(sep.join(parts))
        if rng.random() < 0.05:
            lines.append("")  # blank
        if rng.random() < 0.06:
            # glued multi-transaction line (bofa D18 re-split territory)
            lines.append(" ".join(
                "%02d/%02d %s %s" % (rng.randint(1, 12), rng.randint(1, 28),
                                     rng.choice(WORDS),
                                     rng.choice(AMOUNTS))
                for _ in range(rng.randint(2, 4))))
        if rng.random() < 0.04:
            lines.append(rng.choice([
                "Código ñ 日本語テキスト 01/02 žluťoučký $9.99",
                "    nbsp soup 1,000.00",
                "emoji 🚀💰 WIRE OUT 55.00",
                "rtl ‮تجربة‬ 03/04 12.00",
            ]))
    if rng.random() < 0.1:
        lines.append("\f")  # page break mid-document
    return "\n".join(lines)


def main(n_docs: int = 2000, seed: int = 20260816) -> None:
    rng = random.Random(seed)
    mismatches = 0
    for i in range(n_docs):
        text = random_doc(rng)
        year = rng.choice([1999, 2019, 2024, 2025])
        ref_bank, ref_txs = run_reference(text, year)
        our_bank, our_txs = parse_document(text, year)
        ours = [(t["date"], t["description"], repr(t["amount"]),
                 t["direction"]) for t in our_txs]
        refs = [(t["date"], t["description"], repr(float(t["amount"])),
                 t["direction"]) for t in ref_txs]
        if our_bank != ref_bank or ours != refs:
            mismatches += 1
            print("MISMATCH doc %d (seed %d, year %d): bank %s vs %s"
                  % (i, seed, year, our_bank, ref_bank))
            for a, b in zip(ours + [None] * len(refs),
                            refs + [None] * len(ours)):
                if a != b:
                    print("  ours:", a)
                    print("  ref :", b)
                    break
            if mismatches >= 5:
                print("...stopping detail after 5")
        if i % 500 == 499:
            print("%d docs diffed, %d mismatches" % (i + 1, mismatches))
    print("DONE: %d docs, %d mismatches" % (n_docs, mismatches))
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 2000,
         int(sys.argv[2]) if len(sys.argv) > 2 else 20260816)
