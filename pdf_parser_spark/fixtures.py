"""Deterministic synthetic statement corpus (seed-free: fully literal).

One fixture per issuer rule-branch family per FIXTURES.md.  Each fixture
is ``(url, warc_ts, text, lang, issuer_hint)``; ``issuer_hint`` is only
set for the unregistered ``bofa_relationship`` layout (which detection
can never return, matching reference __init__.py:57) and for the
explicit no-detection case.

``\f`` separates pages (the PDF writer emits one page per form-feed).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Any, Dict, List, Optional

_T0 = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)


def _doc(key: str, case: str, text: str, lang: str = "en",
         issuer_hint: Optional[str] = None) -> Dict[str, Any]:
    return {
        "url": "https://fixtures.test/%s/%s" % (key, case),
        "text": text,
        "lang": lang,
        "issuer_hint": issuer_hint,
    }


_GENERIC_BASIC = """\
Hometown Community Credit Union Statement 2024
Member services available weekdays
01/02 ACH CREDIT PAYROLL ACME LLC 1,250.00 10,483.17
ref 0012-FF payroll batch
01/03 CHECK 1001 (-200.00)
March 5, 2024 WIRE IN INV-2291 3,000.00 13,283.17
Mar 7 POS DEB COFFEE SHOP 4.50
trailing narrative with no dates
"""

_GENERIC_NO_AMOUNT = """\
Hometown Community Credit Union Statement 2024
01/09 memo entry with no monetary token at all
next line still prose
01/10 SERVICE CHARGE 12.00
"""

_GENERIC_NO_YEAR = """\
Hometown Community Credit Union Statement
01/04 WITHDRAWAL BRANCH 75.00
"""

_GENERIC_EMPTY = ""

_IFB = """\
International Finance Bank
IFB Bus Checking 2024 statement
01/05 DEPOSIT MOBILE 942.10 5,100.25
01/06 WIRE OUT GLOBEX LTD $1,500.00 3,600.25
additional beneficiary details IBAN XX00
01/08/24 BILL PMT UTILITIES 88.40
"""

_VALLEY = """\
Valley National Bank 2024
01/04 DEPOSIT TELLER 500.00 2,750.00
01/05 WITHDRAWAL ATM -15.00
narrative continues briefly
01/06 ACH DEBIT VENDOR 77.25 2,657.75
%s
01/07 CHECK 2210 130.00
""" % ("Z" * 260)

_MERCURY = """\
Mercury Business Banking 2024
Choice Financial Group member FDIC help@mercury.com
Feb 01 Payment from Stripe 2,500.00 7,800.00
card processing payout
Feb 06 Wire to Supplier GmbH 1,200.00 6,600.00
Feb 09 Mercury IO fee 5.00
02/12 Refund received 42.42 6,637.42
"""

_PNB = """\
Pacific National Bank 2024
ACCT ENDING 4471 P.O. Box 012620, Miami
01/11 ACH PULL INSURANCE 63.43- 9,410.00
premium monthly
01/12 DEPOSIT REMOTE 1,000.00 10,410.00
January 16, 2024 INTEREST PAYMENT 1.97
"""

_TRUIST = """\
Truist Bank statement 2024 truist.com
Deposits, credits and interest
01/03 ZELLE BUSINESS PAYMENT RECEIVED 850.00
01/04 MOBILE DEPOSIT 320.55
Other withdrawals, debits and fees
01/05 ZELLE PAYMENT TO LANDSCAPER 400.00
01/08 MAINTENANCE FEE 25.00
"""

_TRUIST_NOSECTION = """\
Truist Bank statement 2024
01/09 BILL PAY ELECTRIC COOP 140.00
01/10 INTEREST EARNED 0.88
01/11 UNMARKED ITEM 55.00
"""

_WF = """\
Wells Fargo Navigate Business Checking 2024 wellsfargo.com
Statement period 01/01/2024 - 01/31/2024
1/16 WT Fed#08234 Morgan Stanley Bank /Org=Acme Capital LLC Srf# 210.00 18,400.00
1/17 Zelle From Rivera Paula on 01/17 Ref #PP0 300.00 18,700.00
1/18 Zelle to Nguyen Minh on 01/18 Ref #QQ1 120.00 18,580.00
1/19 WT 240119-112233 Wells Bank /Bnf=Overseas Supplier Ltd Srf# 2,350.00 16,230.00
1/22 Purchase authorized on 01/20 Costco Whse #0482 388.16 15,841.84
short ln
1/24 Monthly Service Fee 25.00 15,816.84
1/26 Interest Payment 1.97 15,818.81
"""

_WF_DATEFRAG = """\
Wells Fargo Initiate Business Checking 2024
Nov 8 Wise US Inc Acrux Glob 11.8.24 From Acrux Global Logistics LLC Via Wise 5,000.00 21,000.00
Nov 12 Lafeber Company Payment Nov 24 980.00 21,980.00
"""

_CITI_CHECKING = """\
CitiBusiness statement 2024
Checking Activity
Date Description Debits Credits Balance
01/08 DEBIT CARD PURCH CARD 0110 OFFICE DEPOT 89.99 12,410.01
01/09 ELECTRONIC CREDIT CLIENT PAYMENT 4,500.00 16,910.01
remittance info attached
01/10 CBUSOL WIRE TO BENEFICIARY GLOBAL PARTS 2,000.00 14,910.01
01/11 DEBIT CARD CREDIT REFUND MERCHANT 45.10 14,955.11
01/12 MONTHLY MAINTENANCE FEE 30.00 14,925.11
Page 3
In case of errors or questions about your electronic transfers call us
"""

_CITI_SAVINGS = """\
Citibank savings statement 2024
Savings Activity
Date Description Amount Subtracted Amount Added Balance
01/15 INTEREST PAID 0.00 12.33 30,012.33
01/16 WITHDRAWAL BRANCH 500.00 0.00 29,512.33
01/17 FUNDS TRANSFER FROM CHECKING 0.00 1,000.00 30,512.33
01/18 FEDERAL WITHHOLDING TAX 3.70 29,508.63
"""

_CITI_META = """\
CitiBusiness statement 2024
Checking Activity
01/20 ACME HOLDINGS LLC
no transaction keywords on this block at all
01/21 WIRE FROM ACME HOLDINGS LLC SETTLEMENT 7,750.00 37,258.63
"""

_BOFA = """\
Bank of America Business Advantage 2024 bankofamerica.com
Account summary
Deposits and other additions
01/05/24 WIRE TYPE:WIRE IN DATE: 240105 TRN:2024010500123 SEQ:001 ORIG:CLIENT ONE LLC 9,800.00
01/08/24 Zelle payment from PEREZ ANA Conf# abc123 450.00
Withdrawals and other debits
01/09/24 WIRE TYPE:INTL OUT DATE:240109 TRN:2024010900456 BNF:SUPPLIER GMBH 3,200.00
01/10/24 CHECKCARD 0109 FUEL STATION 58.30
01/11/24 Wire Transfer Fee 30.00 Wire Transfer Fee 16.00
01/12/24 Zelle payment to GOMEZ LUIS Conf# xyz789 125.00
Service fees
01/15/24 Monthly Fee Business Adv 16.00
Daily ledger balances
Date Balance ($)
01/05 9,800.00
01/09 6,600.00 01/12 6,459.70
"""

_BOFA_JPMC_TRAP = """\
Bank of America Business Advantage 2024
Deposits and other additions
01/16/24 WIRE TYPE:WIRE IN DATE: 240116 TRN:77 ORIG:JPMorgan Chase Bank NA settlement 1,100.00
"""

_BOFA_GLUED = (
    "Bank of America statement 2024\n"
    "Withdrawals and other debits\n"
    + "01/20/24 CHECKCARD 0119 VENDOR ALPHA PAYMENT SERVICES INC 210.00 "
    + "01/21/24 CHECKCARD 0120 VENDOR BETA LOGISTICS AND FREIGHT CO 340.00 "
    + "01/22/24 CHECKCARD 0121 VENDOR GAMMA INDUSTRIAL SUPPLY LLC 95.55 "
    + "01/23/24 CHECKCARD 0122 VENDOR DELTA OFFICE MANAGEMENT GROUP 77.10\n"
)

_CHASE = """\
Duplicate statement
JPMorgan Chase Bank, N.A. chase.com 2024
CHECKING SUMMARY
Depósitos y adiciones
01/03 Depósito en linea de imagen remota 4,100.00
01/04 Orig CO Name:Stripe Orig ID:123 Desc Date:240104 CO Entry
Descr:Transfer Sec:CCD Trn: 0040123456Tc
Retiros electrónicos
01/05 Online Domestic Wire Transfer Via: Wells Fargo NA/121000248 A/C: Globex Corp
Trn: 3100200123Es 02/05 $38,415.00
01/08 Débito de cámara compensadora automatizada Orig CO Name:IRS
Cargos
01/09 Service Charge For Wire Transfer 35.00
Page 2 of 4
01/10 Compra con tarjeta 0481 Coffee Shop 12.75
*start*dailyendingbalance2
DAILY ENDING BALANCE
01/03 $4,100.00
*end*dailyendingbalance2
En caso de errores o preguntas sobre sus transferencias electrónicas de fondos llámenos al 1-866-564-2262
"""

_CHASE_REVERSAL = """\
Chase Mobile statement 2024
Electronic Withdrawals
01/12 Reversal: Online Payment 98.00 To City Utilities
01/15 Zelle Payment To Ortega Luis 250.00
01/16 Book Transfer Credit B/O: Client Two Inc Trn: 9921 $2,750.00
"""

_CHASE_PHONE = """\
chase.com statement 2024
Deposits and Additions
01/18 Remote Online Deposit 866.800.4656 support line ref 1,575.00
"""

_REL = """\
Bank of America Business Advantage Relationship Banking 2024
Preferred Rewards for Bus Platinum Honors
Your checking account
for January 1, 2024 to January 31, 2024
Deposits and other credits
Date Description Amount
01/05/24 WIRE TYPE:WIRE IN DATE: 240105 TRN:11 ORIG:PAYER ONE 5,300.00
01/06/24 Zelle payment from LEE JIN Conf# r1 725.00
continued on the next page
01/07/24 Counter credit 410.00
Total deposits and other credits 6,435.00
Withdrawals and other debits
Date Description Amount
01/09/24 Zelle payment to VO HA Conf# r2 150.00
01/10/24 WIRE TYPE:INTL OUT DATE:240110 TRN:12 BNF:MAKER GMBH
EXCHANGE RATE 1.0800 1,890.00
Total withdrawals and other debits 2,040.00
01/12/24 ORPHAN OUTSIDE SECTION 77.00
"""

_UNDETECTED = """\
First Example State Bank 2024
01/22 CASH DEPOSIT 210.00 3,210.00
01/23 ACH DEBIT GYM MEMBERSHIP 45.00 3,165.00
"""

# ---- second wave: branch-targeted cases (engine lines uncovered by
# the first corpus, found via trace coverage) ----

_CHASE_BRANCHES = """\
chase.com statement 2024
Card Purchases
01/20 Wise US Inc sent funds 420.10
01/21 Payment to vendor portal 77.00
Cargos
01/22 Monthly maintenance 12.00
Electronic Withdrawals
13/45 not a real date line 9.99
01/23 Plain narrative item 55.00
01/24 FECHA CANTIDAD 88.00
01/25 first part of block 44.00
Page 2 of 9
Account Number: 000000000
still same block tail
01/26 En caso de errores o preguntas llame 1-800-935-9935 y prepárese para proporcionarnos la información sobre su cuenta y del error o transferencia del cual usted no esté seguro incluyendo los montos las fechas y los números de referencia que correspondan a la transacción en cuestión además de una explicación clara del motivo por el cual usted considera que se trata de un error o por qué necesita más información adicional sobre esta transferencia electrónica 1-800-935-9935 gracias por su atención
"""

_CHASE_SIGN_FALLBACK = """\
Chase Total Checking 2024
01/27 Unclassifiable narrative entry 64.00
$196,453.06
123456789012345
01/28 Débito de cámara compensadora lote 311.00
01/29 First item of legal block 18.00
para ayuda call us at 1-866-564-2262 whenever needed
01/30 subtotal daily ending balance memo line 22.00
01/31 reporting span next
March 1, 2024 through March 31, 2024 period notes only
"""

_WF_BRANCHES = """\
Wells Fargo 2024
1/25 Online Transfer From Baxsan, LLC Ref #Ib0 600.00 9,000.00
1/26 ACH Baxsan, LLC Sender Ref 55.00 9,055.00
1/27 Zelle to Cruz Maria on 01/27 Ref #AA1 89.00 10,000.00
1/28 WT 240128-99 Morgan Stanley reference 3,000.00 13,000.00
Feb 3 Acrux Glob 11.8.24 remit note 99.00 8,000.00
Feb 4 Acrux Glob 12.9.24 tiny 0.75 7,000.00
Feb 5 Gift Zelle from 12.00 900.00
Feb 6 Donation 44.00 Zelle from
Routing number: 121000248 for direct deposit details
1/29 Purchase continuation block start 21.00
extra purchase detail continues here
Totals 99,999.99
1/30 Deposit made in branch office 450.00
tiny ln
1/31 Final purchase authorized merchant 33.00 13,450.00
"""

_BOFA_BRANCHES = """\
Bank of America 2024
Deposits and other additions
01/05/24 Online Banking transfer conf# 9911 incoming funds 210.00
01/06/24 CA TLR transfer branch visit window 150.00
01/07/24 BKOFAMERICA BC remote item processed 95.00
Withdrawals and other debits
01/08/24 Online Banking transfer conf# 9912 outgoing funds 60.00
01/09/24 Agent assisted transaction confirmation# 4141 330.00
01/10/24 Wise Inc outbound remit-2210 88.00
01/11/24 Ontop Holdings payout batch 777.00
01/12/24 Intl remittance Bnf: Supplier GmbH advice 900.00
01/13/24 Online Banking payment processed web 41.00
01/14/24 02/02 no indicator words here 50.00
date description amount
this page intentionally left blank
average ledger balance was printed here
01/15/24 Rewards note Preferred Rewards Gold waiver applied fee waiver 0.50
"""

_BOFA_NO_SECTION = """\
bankofamerica.com statement 2024
01/16/24 Online Banking transfer conf# 7001 mystery 75.00
01/17/24 Zelle payment from RUIZ EVA Conf# zz1 25.00
01/18/24 Agent assisted remit confirmation# 5151 transfer desk 44.00
01/19/24 Online Banking payment scheduled web portal 61.00
01/20/24 Wise Inc remit-item minus-tagged 13.00
01/21/24 Wise Inc plain remit item settled 14.00
01/22/24 Ontop Holdings payroll batch settled 900.00
01/23/24 Beneficiary notice Bnf: Maker GmbH routing advice 120.00
01/24/24 Completely unmatched narrative thing 31.00
01/25/24 statement account summary reprint copy 66.00
01/26/24 Transfer received from ACME via Wise intl 310.00
"""

_BOFA_BALANCE_TRAPS = """\
Bank of America statement 2024
Page 3 of 9
Date  Description Amount
01/05 9,800.00
01/09 6,600.00 01/12 6,459.70
ATM and debit card subtractions
01/25/24 02/02 03/03 two yearless tokens drop me 40.00
01/26/24 04/04 lone yearless no indicator words 41.00
this page intentionally left blank
account # 1234 5678 9012 summary row
01/27/24 account # 1234 5678 9012 checkcard style 42.00
01/28/24 Prfd Rwds tier waiver applied monthly 0.50
Deposits and other additions
01/29/24 Plain narrative inflow item 80.00
"""

_CITI_BRANCHES = """\
CitiBusiness statement 2024
Streamlined Checking activity details
01/12 DEBIT CARD PURCH 0.00 0.00 77.70 12,000.00
remittance details continue
Page 9
mid block continuation line
01/13 WIRE TO BENEFICIARY OVERSEAS LTD 500.00 11,500.00
01/14 Unclassified narrative thing 66.00 11,434.00
01/15 ACME PARTNERS LLC account as of January
January 5, 2024 through February 4, 2024 statement span text
In case of errors or questions about your transfers call customer service
"""

_CITI_SAVINGS_BRANCHES = """\
Citibank® Savings statement 2024
CITI® SAVINGS account activity summary
01/16 TRANSFER BETWEEN ACCOUNTS 100.00 250.00 30,350.00
01/17 FEDERAL WITHHOLDING TAX 3.70 30,346.30
01/18 MISC ADJUSTMENT ENTRY 12.00 30,334.30
"""

_CITI_SECTION_VARIANTS = """\
Citibank statement 2024
Streamlined Checking services overview
$1,234.56
1234567890123
01/24 see service charge summary attached 9.00
01/25 MICRO ITEMS 0.00 0.00 500.00
Checking account activity continues
01/19 ELECTRONIC CREDIT RECEIVED 70.00 900.00
Citibank® Savings premier account activity
01/20 INTEREST PAID 0.00 1.11 901.11
Account activity amount subtracted amount added summary columns
01/21 DEPOSIT ITEM 0.00 9.00 910.11
01/22 DAILY ENDING BALANCE notes trail here
01/23 spans January 5, 2024 through February 4, 2024 span block
"""

_REL_BRANCHES = (
    "Business Advantage Relationship Banking 2024\n"
    "Preferred Rewards for Bus Platinum\n"
    "Important Messages\n"
    "Daily ledger balances shown below\n"
    "Deposits and other credits\n"
    "Date Description Amount\n"
    + "01/20/24 WIRE TYPE:WIRE IN ORIG:ALPHA LLC PAYMENT RECEIVED FOR INVOICE NUMBER 20241 WITH EXTENDED "
    + "REMITTANCE INFORMATION ATTACHED 1,500.00 "
    + "01/21/24 WIRE TYPE:WIRE IN ORIG:BETA LLC PAYMENT RECEIVED FOR INVOICE NUMBER 20242 WITH EXTENDED "
    + "REMITTANCE INFORMATION ATTACHED 2,500.00 "
    + "01/22/24 Counter credit received at branch location downtown 350.00\n"
    + "Total deposits and other credits 4,350.00\n"
)


def fixture_docs() -> List[Dict[str, Any]]:
    """The full corpus, with deterministic warc_ts per position."""
    docs = [
        _doc("generic", "basic", _GENERIC_BASIC),
        _doc("generic", "no-amount", _GENERIC_NO_AMOUNT),
        _doc("generic", "no-year", _GENERIC_NO_YEAR),
        _doc("generic", "empty", _GENERIC_EMPTY),
        _doc("ifb", "basic", _IFB),
        _doc("valley", "cutoff", _VALLEY),
        _doc("mercury", "mmm-dates", _MERCURY),
        _doc("pnb", "trailing-minus", _PNB),
        _doc("truist", "sections", _TRUIST),
        _doc("truist", "keywords", _TRUIST_NOSECTION),
        _doc("wf", "wires-zelle", _WF),
        _doc("wf", "date-fragment", _WF_DATEFRAG),
        _doc("citi", "checking", _CITI_CHECKING),
        _doc("citi", "savings", _CITI_SAVINGS),
        _doc("citi", "metadata", _CITI_META),
        _doc("bofa", "full", _BOFA),
        _doc("bofa", "jpmc-trap", _BOFA_JPMC_TRAP),
        _doc("bofa", "glued", _BOFA_GLUED),
        _doc("chase", "bilingual", _CHASE, lang="es"),
        _doc("chase", "reversal", _CHASE_REVERSAL),
        _doc("chase", "phone", _CHASE_PHONE),
        _doc("bofa_relationship", "sections", _REL,
             issuer_hint="bofa_relationship"),
        _doc("undetected", "fallback", _UNDETECTED),
        _doc("chase", "branches", _CHASE_BRANCHES, lang="es"),
        _doc("chase", "sign-fallback", _CHASE_SIGN_FALLBACK),
        _doc("wf", "branches", _WF_BRANCHES),
        _doc("bofa", "branches", _BOFA_BRANCHES),
        _doc("bofa", "no-section", _BOFA_NO_SECTION),
        _doc("bofa", "balance-traps", _BOFA_BALANCE_TRAPS),
        _doc("citi", "branches", _CITI_BRANCHES),
        _doc("citi", "savings-branches", _CITI_SAVINGS_BRANCHES),
        _doc("citi", "section-variants", _CITI_SECTION_VARIANTS),
        _doc("bofa_relationship", "branches", _REL_BRANCHES,
             issuer_hint="bofa_relationship"),
    ]
    # Skew tier: mega-documents (salted-repartition & glued-line tests).
    mega_lines = ["Bank of America Business Advantage 2024",
                  "Withdrawals and other debits"]
    for k in range(5000):
        mm, dd = (k % 12) + 1, (k % 28) + 1
        mega_lines.append(
            "%02d/%02d/24 CHECKCARD %04d VENDOR-%05d RETAIL PURCHASE %s.%02d"
            % (mm, dd, k % 10000, k, format(100 + (k % 900), ","), k % 100)
        )
    docs.append(_doc("bofa", "mega", "\n".join(mega_lines)))
    chase_mega = ["chase.com statement 2024", "Deposits and Additions"]
    for k in range(6000):
        mm, dd = (k % 12) + 1, (k % 28) + 1
        chase_mega.append(
            "%02d/%02d Orig CO Name:Payer-%05d Desc:Transfer Trn: %010d $%d.%02d"
            % (mm, dd, k, k, 500 + (k % 4500), k % 100)
        )
    docs.append(_doc("chase", "mega", "\n".join(chase_mega)))
    wf_mega = ["Wells Fargo Navigate Business Checking 2024"]
    for k in range(5000):
        mm, dd = (k % 12) + 1, (k % 28) + 1
        wf_mega.append(
            "%d/%d Purchase authorized on %02d/%02d Merchant-%05d Store %d.%02d %s.%02d"
            % (mm, dd, mm, dd, k, 10 + (k % 400), k % 100,
               format(9000 + k % 1000, ","), (k * 7) % 100)
        )
    docs.append(_doc("wf", "mega", "\n".join(wf_mega)))

    for idx, d in enumerate(docs):
        d["warc_ts"] = _T0 + timedelta(hours=idx)
    return docs


def mega_statement_text(target_mb: int = 512, seed: int = 7) -> str:
    """A single pathological multi-hundred-MB chase-shaped statement
    (SURVEY §4 worst-case document): deterministic pseudo-random
    transaction lines with section headers and noise interleaved, page
    breaks every 60 lines — the document that must neither OOM a 4 GB
    Python worker (tools/megadoc_bench.py measures; tests/test_megadoc.py
    pins a scaled-down bound)."""
    import random

    rng = random.Random(seed)
    target = target_mb * 1024 * 1024
    sections = ("Deposits and additions", "Electronic withdrawals",
                "ATM & debit card withdrawals")
    kinds = ("ACH CREDIT", "WIRE OUT", "ZELLE PAYMENT FROM ALEX",
             "CARD PURCHASE", "ONLINE TRANSFER FROM SAVINGS")
    payees = ("ACME HOLDINGS LLC", "NORTHWIND TRADERS", "CONTOSO LTD",
              "FABRIKAM INC", "TAILSPIN TOYS", "WINGTIP CORP")
    # a 48k-line pseudo-random pool tiled to the target size: the
    # parser's per-line regex work is identical to fully-unique lines,
    # and generation stays O(seconds) at 512 MB
    pool = []
    for i in range(48000):
        if i % 400 == 0:
            ln = rng.choice(sections)
        elif i % 97 == 13:
            ln = "Page %d of 99999" % (i // 60 + 1)
        else:
            ln = "%02d/%02d %s %s REF %010d $%d.%02d" % (
                rng.randint(1, 12), rng.randint(1, 28), rng.choice(kinds),
                rng.choice(payees), rng.randrange(10 ** 10),
                rng.randint(1, 99999), rng.randint(0, 99))
        if i % 60 == 59:
            ln += "\f"
        pool.append(ln)
    block = "\n".join(pool) + "\n"
    head = "chase.com statement period 01/01/2024 - 12/31/2024\n"
    reps = max(1, (target - len(head)) // len(block) + 1)
    return (head + block * reps)[:target]
