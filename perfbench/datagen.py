"""Input generators for the benchmark.

Two datasets, both pure functions of their seed:

- ``write_tpch``: the TPC-H-ish parquet tables the registered queries read
  (``region nation customer supplier part orders lineitem events``), shaped
  like the engine's sf0.01 test tables: same column names and types, same
  value domains, same row counts. The query workloads use one fixed seed
  (``TPCH_SEED``) so the committed expected digests stay valid.
- ``write_hhek``: a household-finance database in the reference's
  10-table SQLite layout (the registry's DDL through stdlib ``sqlite3``),
  with a skewed ``Transaktioner`` ledger over 20 accounts and Swedish
  free text carrying non-ASCII letters, quotes and the euro sign.

Only numpy, pyarrow and stdlib ``sqlite3`` run here; no Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_SEED = 20240101
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

# sf0.01 row counts of the engine's own test tables
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000

_EPOCH = dt.datetime(1970, 1, 1)


def _days_ts(start: dt.date, days: np.ndarray) -> pa.Array:
    base = int((dt.datetime.combine(start, dt.time()) - _EPOCH).total_seconds()) * 1_000_000
    return pa.array(base + days.astype(np.int64) * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], type=pa.string())


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tpch(out_dir: str, seed: int = TPCH_SEED) -> None:
    """Write the eight query tables as one parquet file each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _choice(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMER
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    adjectives = ["blue", "large", "hot", "small", "red", "shiny", "old", "green"]
    nouns = ["anvil", "ring", "bolt", "widget", "gear", "spring", "valve", "nut"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": _choice(rng, names, N_PART),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)),
    })
    order_span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _days_ts(dt.date(1995, 1, 1), rng.integers(0, order_span + 1, N_ORDERS)),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        ),
    })
    ship_span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _choice(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _days_ts(dt.date(1995, 1, 2), rng.integers(0, ship_span + 1, N_LINEITEM)),
    })
    base_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS)) + base_us
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], dtype=object)
    props[rng.random(N_EVENTS) < 0.05] = ""
    props[rng.random(N_EVENTS) < 0.03] = "  "
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS).astype(np.int64)),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], N_EVENTS),
        "value": pa.array(_money(rng, 0.01, 490.0, N_EVENTS)),
        "props": pa.array(props, type=pa.string()),
    })


# ---------------------------------------------------------------------------
# hhek household-finance database
# ---------------------------------------------------------------------------

N_ACCOUNTS = 20
_WORDS = [
    "räksmörgås", "RÄKSMÖRGÅS", "Ölbryggeri", "Åsa's", "kött & fläsk", "mjölk",
    "\"extra\" ost", "fika", "Göteborg", "Malmö", "Ström", "källarförråd",
    "spårvagn", "€ 12,50", "hyra", "el och värme", "Systembolaget", "gåva",
]
_CATEGORIES = [
    "Livsmedel", "Hyra", "Studiestöd", "Lön", "Nöje", "Resor", "Kläder",
    "Försäkring", "Bränsle", "Övrigt",
]
_PERSONS = [("Gemensamt", 0, "Gemensamt"), ("Person Ett", 1979, "Man"),
            ("Person Två", 1982, "Kvinna"), ("Björn Åkesson", 2005, "Man"),
            ("Märta Öberg", 2008, "Kvinna")]


def _m(cents: int) -> str:
    """Money as the exact 4-place decimal text the engine binds."""
    return format(Decimal(int(cents)).scaleb(-2).quantize(Decimal("0.0001")), "f")


def _date(rng: np.random.Generator) -> str:
    return (dt.date(2015, 1, 1) + dt.timedelta(days=int(rng.integers(0, 3650)))).isoformat()


def _text(rng: np.random.Generator) -> str:
    k = int(rng.integers(1, 4))
    return " ".join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), k))[:60]


def write_hhek(db_path: str, seed: int, n_transactions: int) -> dict[str, int]:
    """Create the 10-table hhek database at ``db_path`` and return its row
    counts. ``Transaktioner`` draws its (from, to) account pairs from a
    Zipf-like distribution, so a few pairs hold most rows."""
    from hhek2sqlite_spark.schema.registry import COPY_ORDER, HHEK_TABLES, render_create_table

    rng = np.random.default_rng(seed)
    accounts = [f"Konto {i:02d} {'ÅÄÖ'[i % 3]}" for i in range(1, N_ACCOUNTS + 1)]
    places = [f"Plats {i} {_WORDS[i % len(_WORDS)]}"[:40] for i in range(1, 61)]
    persons = [p[0] for p in _PERSONS]
    rows: dict[str, list[tuple]] = {name: [] for name in COPY_ORDER}

    rows["DtbVer"].append(("1.0", "Hemekonomi databas", ""))
    for i, name in enumerate(places, 1):
        ref = accounts[i % N_ACCOUNTS] if i % 15 == 0 else ""
        rows["Platser"].append((i, name, f"{int(rng.integers(10**6, 10**7))}", "", ref))
    for i, (name, born, sex) in enumerate(_PERSONS, 1):
        rows["Personer"].append((i, name, born, sex))
    for i, name in enumerate(accounts, 1):
        start = int(rng.integers(0, 10**7))
        rows["Konton"].append((i, f"{8000 + i}-{i:04d}", name, _m(start + int(rng.integers(0, 10**6))),
                               _m(start), "2015-01", _m(start), "2024-01"))
    for i in range(1, 6):
        rows["BetalKonton"].append((i, accounts[i], f"{5000 + i}", f"K{i:05d}", ""))
    for i in range(1, 41):
        rows["Överföringar"].append((
            i, accounts[i % N_ACCOUNTS], accounts[(i * 7) % N_ACCOUNTS], _m(int(rng.integers(100, 10**6))),
            _date(rng), "Månadsvis", _CATEGORIES[i % len(_CATEGORIES)], persons[i % len(persons)],
            None if i % 4 == 0 else i, _date(rng), "N",
        ))
    for i in range(1, 401):
        rows["Betalningar"].append((
            i, accounts[i % N_ACCOUNTS], places[i % len(places)], "Inköp", _date(rng),
            _CATEGORIES[i % len(_CATEGORIES)], persons[i % len(persons)], _m(int(rng.integers(100, 10**6))),
            _text(rng), _m(0), _m(0), _m(0), _m(0), (i % 3) + 1 if i % 5 == 0 else None, "",
        ))
    for i in range(1, 4):
        rows["LÅN"].append((
            i, f"Långivare {i}", f"Bolån {'ÅÄÖ'[i - 1]}", f"L-{i:06d}", _m(250_000_000 * i),
            "2015-06-01", "2015-06-01", "2025-06-01", "2055-06-01",
            _m(200_000_000 * i), _m(100_000_000 * i), _m(100_000_000 * i), 1.5 + i / 4, 3.25,
            "M", _m(150_000), _m(100_000), _m(50_000), _m(0), "N", persons[i], accounts[0], "",
            f"Anteckning {_WORDS[i]}", "", "", "",
        ))
    for i, cat in enumerate(_CATEGORIES, 1):
        months = [_m(int(rng.integers(0, 500_000))) for _ in range(12)]
        rows["Budget"].append((i, cat, "J" if cat in ("Lön", "Studiestöd") else "N", 12, "2024-01",
                               *months, i))

    # skewed account pairs: pair k is drawn with weight 1/(k+1)
    pairs = [(a, b) for a in range(N_ACCOUNTS) for b in range(N_ACCOUNTS) if a != b]
    order = rng.permutation(len(pairs))
    weights = 1.0 / np.arange(1, len(pairs) + 1)
    pick = order[rng.choice(len(pairs), n_transactions, p=weights / weights.sum())]
    amounts = rng.integers(1, 2_000_000, n_transactions)
    deposits = rng.random(n_transactions) < 0.1
    for i in range(n_transactions):
        a, b = pairs[int(pick[i])]
        dep = bool(deposits[i])
        rows["Transaktioner"].append((
            i + 1, "---" if dep else accounts[a], accounts[b] if dep else places[(a * 7 + b) % len(places)],
            "Insättning" if dep else "Inköp", _date(rng), _CATEGORIES[int(rng.integers(0, len(_CATEGORIES)))],
            persons[int(rng.integers(0, len(persons)))], _m(int(amounts[i])),
            None if i % 7 == 0 else _m(int(rng.integers(0, 10**8))), int(i % 11 == 0), _text(rng),
        ))

    if os.path.exists(db_path):
        os.remove(db_path)
    con = sqlite3.connect(db_path)
    try:
        for name in COPY_ORDER:
            con.execute(render_create_table(name, "sqlite"))
            cols = ", ".join(f'"{c.name}"' for c in HHEK_TABLES[name].columns)
            marks = ", ".join("?" for _ in HHEK_TABLES[name].columns)
            con.executemany(f'INSERT INTO "{name}" ({cols}) VALUES ({marks})', rows[name])
        con.commit()
    finally:
        con.close()
    return {name: len(r) for name, r in rows.items()}
