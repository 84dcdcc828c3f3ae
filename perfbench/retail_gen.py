"""Seeded generator for an Online-Retail-shaped CSV (the reference's input).

The file has the reference's eight columns and its size: 541,910 rows that
clean down to about 4,338 customers.  It carries the dirt the cleaning stage
must remove: C-prefixed cancellations with negative quantity, zero prices,
null CustomerIDs, and invoices stamped after the recency reference date.
Dates use both formats the loader accepts.

Every price is a multiple of 0.25 and every quantity an integer, so each
customer's Monetary sum is exact in binary floating point, whatever the
summation order.  `generate` returns the ground truth for the cleaned RFM
table beside the file: the valid customers, the sum of Frequency and the sum
of Monetary.  The same seed gives a byte-identical file.

Run standalone to write a file and print its ground truth:

    python3 perfbench/retail_gen.py OUT.csv [SEED]
"""

import datetime
import hashlib
import json
import random
import sys

ROWS = 541_910
POOL = 4_360            # distinct CustomerIDs before cleaning
DIRT_ONLY = 6           # customers that only ever cancel
FIRST_INVOICE = 536_365
START = datetime.datetime(2010, 12, 1, 8, 0, 0)
END = datetime.datetime(2011, 12, 9, 12, 50, 0)
# Retail.DefaultReferenceDate: a customer whose last purchase is later has a
# negative Recency and is dropped by the RFM stage.
REFERENCE = datetime.datetime(2011, 12, 9, 0, 0, 0)
# Customer segments, in the proportions of the reference's four clusters
# (README.md: 70.5 / 24.5 / 0.3 / 4.7 %): name, share of the pool, sale
# invoices per customer, the window of days before END they fall in, and a
# quantity multiplier.  Only regulars buy after the reference date, so a
# few of them drop out of the RFM table as in the reference.  Distinct segments keep the K-Means iteration count,
# and so the work of a pass, about the same from seed to seed.
SEGMENTS = (
    ("regular", 0.705, (2, 6), (0.4, 120), 1),
    ("lapsed", 0.245, (1, 2), (220, 373), 1),
    ("whale", 0.003, (80, 160), (0.6, 373), 20),
    ("loyal", 0.047, (15, 40), (0.6, 373), 3),
)
SALE_SHARE = 0.78       # of the rows; null-customer invoices fill the rest

WORDS = ("WHITE HANGING HEART LANTERN METAL RED BLUE PINK GLASS JAR CAKE "
         "STAND VINTAGE REGENCY TEACUP SAUCER BAG LUNCH BOX PARTY BUNTING "
         "CHRISTMAS CANDLE HOLDER ZINC WOODEN FRAME SIGN HOT WATER BOTTLE "
         "SET OF 3 6 12 PAPER CHAIN KIT RETROSPOT JUMBO SHOPPER").split()
COUNTRIES = ("United Kingdom",) * 9 + ("Germany", "France", "EIRE", "Spain",
                                       "Netherlands", "Belgium", "Portugal")


def _catalogue(rng):
    items = []
    for i in range(3_000):
        code = str(10_000 + rng.randrange(90_000))
        if rng.random() < 0.3:
            code += "ABCDEFG"[rng.randrange(7)]
        desc = " ".join(rng.choice(WORDS) for _ in range(2 + rng.randrange(3)))
        quarters = 1 + int(rng.expovariate(1 / 11.0))
        items.append((code, desc, quarters))
    return items


def _invoices(rng, customers, dirt_only):
    """(kind, customer, days before END, lines, quantity multiplier) for
    every invoice, exactly ROWS lines in all."""
    buyers = [c for c in customers if c not in dirt_only]
    rng.shuffle(buyers)
    sizes = [round(seg[1] * POOL) for seg in SEGMENTS[1:]]
    sizes.insert(0, len(buyers) - sum(sizes))
    sales = []
    at = 0
    for n, (_, _, (n_lo, n_hi), (d_lo, d_hi), mult) in zip(sizes, SEGMENTS):
        group, at = buyers[at:at + n], at + n
        for c in group:
            for _ in range(rng.randint(n_lo, n_hi)):
                sales.append(["sale", c, rng.uniform(d_lo, d_hi), 0, mult])
    mean_lines = SALE_SHARE * ROWS / len(sales)
    for inv in sales:
        inv[3] = 1 + int(rng.expovariate(1 / (mean_lines - 1)))
    cancels = [["cancel", rng.choice(customers), rng.uniform(0, 373),
                1 + int(rng.expovariate(1 / 1.5)), 1]
               for _ in range(len(sales) * 15 // 100)]
    cancels += [["cancel", c, rng.uniform(0, 373), 1, 1] for c in dirt_only]
    invoices = sales + cancels
    rows = sum(inv[3] for inv in invoices)
    while rows < ROWS:
        lines = min(1 + int(rng.expovariate(1 / 80.0)), ROWS - rows)
        invoices.append(["sale", None, rng.uniform(0, 373), lines, 1])
        rows += lines
    if rows > ROWS:
        raise ValueError("segments exceed the row budget")
    return invoices


def _fmt_date(rng, ts):
    if rng.random() < 0.05:
        return ts.strftime("%Y-%m-%dT%H:%M:%S")
    return ts.strftime("%m/%d/%Y %H:%M:%S")


def generate(path, seed):
    """Write the CSV to `path`; return its ground truth and sha256."""
    rng = random.Random(seed)
    items = _catalogue(rng)
    customers = sorted(rng.sample(range(12_346, 18_288), POOL))
    dirt_only = set(rng.sample(customers, DIRT_ONLY))
    country = {c: rng.choice(COUNTRIES) for c in customers}
    invoices = _invoices(rng, customers, sorted(dirt_only))
    # invoice numbers rise with time, as in the reference's data
    invoices.sort(key=lambda inv: -inv[2])
    span = (END - START).total_seconds()

    last = {}          # customer -> latest clean purchase
    bought = {}        # customer -> clean invoice numbers
    quarters = {}      # customer -> clean monetary, in units of 0.25
    out = ["InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,"
           "CustomerID,Country"]
    for n, (kind, cust, days, lines, mult) in enumerate(invoices):
        ts = END - datetime.timedelta(seconds=int(min(days * 86400, span)))
        number = str(FIRST_INVOICE + n)
        if kind == "cancel":
            number = "C" + number
        date = _fmt_date(rng, ts)
        where = country[cust] if cust is not None else "United Kingdom"
        cid = "" if cust is None else str(cust)
        for _ in range(lines):
            code, desc, price_q = items[rng.randrange(len(items))]
            qty = (1 + int(rng.expovariate(1 / 9.0))) * mult
            if kind == "cancel":
                qty = -qty
            if kind == "sale" and rng.random() < 0.005:
                price_q = 0
            out.append(f"{number},{code},{desc},{qty},{date},"
                       f"{price_q / 4:.2f},{cid},{where}")
            if qty > 0 and price_q > 0 and cust is not None:
                if ts > last.get(cust, START - datetime.timedelta(1)):
                    last[cust] = ts
                bought.setdefault(cust, set()).add(number)
                quarters[cust] = quarters.get(cust, 0) + qty * price_q
    data = ("\n".join(out) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    valid = [c for c in last if last[c] <= REFERENCE and quarters[c] > 0]
    recency_days = sum((REFERENCE - last[c]).total_seconds() / 86400.0
                       for c in valid)
    return {
        "rows": ROWS,
        "customers": len(valid),
        "sum_frequency": sum(len(bought[c]) for c in valid),
        "sum_monetary": sum(quarters[c] for c in valid) / 4,
        "sum_recency_days": recency_days,
        "sha256": hashlib.sha256(data).hexdigest(),
    }


if __name__ == "__main__":
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    print(json.dumps(generate(sys.argv[1], seed)))
