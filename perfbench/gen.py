"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed: the same seed writes the same
bytes, and it returns the output lines the program must produce from what it
planted, so the run can check the program's output exactly. Values are chosen
so the expected line is unambiguous: prices and amounts have at most three
decimals and stay within the range where JavaScript and Python print a double
the same way.
"""

import os
import random

BROKERS = ("freetrade", "ii", "fidelity", "bullionvault")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
MONTHS_FULL = ("January", "February", "March", "April", "May", "June", "July",
               "August", "September", "October", "November", "December")

# The cli_ingest mix of the paper's scale probe, per 1000 lines.
INGEST_MIX = {"freetrade": 500, "ii": 300, "fidelity": 198, "bullionvault": 2}
WARM_ROWS = 20


def js_num(x):
    """JavaScript's Number -> String for the values the generators plant."""
    if x == int(x):
        return str(int(x))
    return repr(x)


def _rng(seed, *salt):
    return random.Random("/".join(str(s) for s in (seed,) + salt))


def _date(r):
    return 2015 + r.randrange(9), 1 + r.randrange(12), 1 + r.randrange(28)


def _line(kind, ymd, asset, amount, price, expenses):
    y, m, d = ymd
    return f"{kind} {d:02d}/{m:02d}/{y} {asset} {js_num(amount)} {js_num(price)} {js_num(expenses)}"


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def freetrade(path, r, rows, dropped):
    """Freetrade CSV with `rows` orders and `dropped` statement rows."""
    out = ["Title,Type,Timestamp,Account Currency,Buy / Sell,Ticker,ISIN,"
           "Price per Share in Account Currency,Stamp Duty,Quantity,FX Fee Amount"]
    expected = []
    kinds = ["order"] * rows + ["statement"] * dropped
    r.shuffle(kinds)
    for i, k in enumerate(kinds):
        ymd = _date(r)
        if k == "statement":
            out.append(f"Statement,MONTHLY_STATEMENT,{ymd[0]}-{ymd[1]:02d}-15T00:00:00.000Z,GBP,,,,,,,")
            continue
        kind = r.choice(("BUY", "SELL"))
        ts = f"{ymd[0]}-{ymd[1]:02d}-{ymd[2]:02d}T{r.randrange(24):02d}:{r.randrange(60):02d}:00.000Z"
        isin = f"GB00B{r.randrange(1000000):06d}X"
        qty = 1 + r.randrange(500)
        price = (100 + r.randrange(90000)) / 100
        stamp = r.randrange(500) / 100 if kind == "BUY" else None
        fx = r.randrange(300) / 100 if r.randrange(4) == 0 else None
        cell = lambda v: "" if v is None else f"{v:.2f}"
        out.append(f"Order,ORDER,{ts},GBP,{kind},TKR{i % 97},{isin},{price},{cell(stamp)},{qty},{cell(fx)}")
        expected.append(_line(kind, ymd, isin, qty, price, (stamp or 0.0) + (fx or 0.0)))
    _write(path, "\n".join(out) + "\n")
    return expected


def ii(path, r, rows, dropped):
    """Interactive Investor CSV with `rows` trades and `dropped` fee rows."""
    out = ["Settlement Date,Symbol,Sedol,Quantity,Price,Debit,Credit"]
    expected = []
    kinds = ["trade"] * rows + ["fee"] * dropped
    r.shuffle(kinds)
    for i, k in enumerate(kinds):
        y, m, d = _date(r)
        if k == "fee":
            out.append(f"{d}/{m}/{y},,,n/a,n/a,£{r.randrange(20)}.99,n/a")
            continue
        buy = r.randrange(2) == 0
        qty = 1 + r.randrange(400)
        price = (100 + r.randrange(90000)) / 100
        total = f"{qty * 5.0:.2f}"
        debit, credit = (total, "n/a") if buy else ("n/a", total)
        out.append(f"{d}/{m}/{y},SYM{i % 89},SD{i % 53}L,{qty if buy else -qty},£{price:.2f},{debit},{credit}")
        expected.append(_line("BUY" if buy else "SELL", (y, m, d), f"SD{i % 53}L", qty, price, 0.0))
    _write(path, "\n".join(out) + "\n")
    return expected


def fidelity(path, r, rows, dropped):
    """Fidelity CSV (8-line preamble) with `rows` deals and `dropped` Cash In rows."""
    out = [f"Preamble line {k}" for k in range(1, 8)]
    out.append("Order date,Completion date,Transaction type,Investments,Product Wrapper,"
               "Account Number,Source investment,Amount,Quantity,Price per unit,Reference Number,Status")
    expected = []
    kinds = ["deal"] * rows + ["cash"] * dropped
    r.shuffle(kinds)
    for i, k in enumerate(kinds):
        y, m, d = _date(r)
        date = f"{d} {MONTHS[m - 1]} {y}"
        if k == "cash":
            out.append(f"{date},{date},Cash In,,ISA,ACC1,,100.00,,,REF{i},Complete")
            continue
        buy = r.randrange(2) == 0
        amount = (100 + r.randrange(900000)) / 100 * (1 if buy else -1)
        qty = (1 + r.randrange(90000)) / 100
        price = (100 + r.randrange(40000)) / 100
        fund = i % 31
        out.append(f"{date},{date},{'Buy' if buy else 'Sell'},Fidelity Index Fund {fund},ISA,ACC1,,"
                   f"{amount},{qty},{price},REF{i},Complete")
        expected.append(_line("BUY" if buy else "SELL", (y, m, d), f"Fidelity_Index_Fund_{fund}",
                              qty, price, 0.0))
    _write(path, "\n".join(out) + "\n")
    return expected


def bullionvault(folder, r, rows, dropped=0):
    """A folder of `rows` BullionVault dealing-advice emails."""
    os.makedirs(folder, exist_ok=True)
    expected = []
    for i in range(rows):
        buy = r.randrange(2) == 0
        metal = r.choice(("Gold", "Silver"))
        qty = (1 + r.randrange(2000)) / 1000
        price = 30000 + r.randrange(20000)
        consider = f"{qty * price:.2f}"
        commission = f"{qty * price * 0.005:.2f}"
        y, m, d = _date(r)
        t = f"{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d}"
        _write(os.path.join(folder, f"deal{i:05d}.eml"),
               "Subject: Dealing advice\n"
               f"Security: {metal} stored in Zurich\n"
               f"Summary: {'Buy' if buy else 'Sell'} {qty} kg @ GBP {price} /kg\n"
               f"Consideration: GBP {consider}\n"
               f"Commission: GBP {commission}\n"
               f"Deal time: {d} {MONTHS_FULL[m - 1]} {y} {t} BST\n")
        expected.append(_line("BUY" if buy else "SELL", (y, m, d), metal.upper(), qty, price,
                              float(commission)))
    return expected


WRITERS = {"freetrade": freetrade, "ii": ii, "fidelity": fidelity, "bullionvault": bullionvault}


def export_path(folder, broker):
    """Where a broker's export sits in `folder` (as Brokers.export in the harness reads it)."""
    return os.path.join(folder, "emails" if broker == "bullionvault" else f"{broker}.csv")


def broker_set(folder, seed, salt, rows):
    """One export per broker in `folder`; `rows` maps broker -> kept rows.
    About 1% extra rows that the parsers drop are planted in each CSV."""
    expected = {}
    for b in BROKERS:
        n = rows[b]
        expected[b] = WRITERS[b](export_path(folder, b), _rng(seed, salt, b), n,
                                 0 if b == "bullionvault" else n // 100)
    return expected


def ingest(out, seed, lines):
    """cli_ingest inputs: the four brokers' exports holding `lines` kept lines
    in the paper's mix, plus a small warm-up set."""
    rows = {b: max(1, lines * share // 1000) for b, share in INGEST_MIX.items()}
    expected = broker_set(os.path.join(out, "ingest"), seed, "ingest", rows)
    warm = broker_set(os.path.join(out, "warm"), seed, "warm", {b: WARM_ROWS for b in BROKERS})
    return {"expected_lines": [l for b in BROKERS for l in expected[b]],
            "warm_lines": [l for b in BROKERS for l in warm[b]]}

