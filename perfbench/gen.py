"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same bytes. Tick files are built with the standard library only and use
the reference layout `<root>/<date>/<TICKER>_PST_<date>`, one 9-field
line per tick, with a configurable share of invalid lines. Files enter a
watched tree only by `os.rename` from a staging directory beside it, so
a listing never sees a partial file.

The analytics tables mirror the schema of the suite's TPC-H-ish tables
(the columns the benchmark's query mix reads) and are written as parquet
with pyarrow, the writer the suite's own test data uses.
"""

from __future__ import annotations

import datetime as dt
import os
import random

#: field count of a valid tick line (reference `validExpectedColumns`)
TICK_FIELDS = 9
_BASE_MS = 1_710_000_000_000


def tick_lines(
    rnd: random.Random, ticker: str, n: int, invalid_share: float
) -> tuple[list[str], int]:
    """`n` tick lines for one ticker; returns (lines, valid line count).

    Invalid lines have too few or too many fields, which the loader must
    drop without failing the file."""
    lines, valid = [], 0
    seq = rnd.randrange(1_000_000)
    price = rnd.uniform(0.01, 500.0)
    ts = _BASE_MS + rnd.randrange(86_400_000)
    for _ in range(n):
        seq += 1
        ts += rnd.randrange(1, 500)
        price = max(0.0001, price * (1.0 + rnd.uniform(-0.001, 0.001)))
        if rnd.random() < invalid_share:
            if rnd.random() < 0.5:
                lines.append(f"{ticker},{seq},{price:.4f}")
            else:
                lines.append(f"{ticker},{seq},{price:.4f},1,2,3,4,5,{ts},extra")
            continue
        ask, bid = price * 1.0005, price * 0.9995
        lines.append(
            f"{ticker},{seq},{price:.6f},{rnd.uniform(0.001, 50):.4f},"
            f"{ask:.6f},{rnd.uniform(0.001, 50):.4f},"
            f"{bid:.6f},{rnd.uniform(0.001, 50):.4f},{ts}"
        )
        valid += 1
    return lines, valid


def file_name(ticker: str, date: str) -> str:
    return f"{ticker}_PST_{date}"


def land(staging: str, root: str, date: str, name: str, body: str) -> str:
    """Write `body` under `staging`, then rename it into `root/<date>/`.

    Both directories must be on one filesystem so the rename is atomic."""
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as fh:
        fh.write(body)
    day = os.path.join(root, date)
    os.makedirs(day, exist_ok=True)
    dst = os.path.join(day, name)
    os.rename(tmp, dst)
    return dst


def build_tree(
    seed: int,
    root: str,
    staging: str,
    dates: list[str],
    sizes: list[int],
    invalid_share: float,
    prefix: str = "T",
) -> dict[str, int]:
    """Land one file per entry of `sizes` (rows), round-robin over `dates`.

    Returns {filename: valid rows}. Ticker names carry `prefix` and the
    file index, so trees built with distinct prefixes never share names."""
    rnd = random.Random(f"tree:{seed}:{prefix}")
    valid: dict[str, int] = {}
    for i, n in enumerate(sizes):
        date = dates[i % len(dates)]
        ticker = f"{prefix}{i:04d}-USDT"
        lines, ok = tick_lines(rnd, ticker, n, invalid_share)
        name = file_name(ticker, date)
        land(staging, root, date, name, "\n".join(lines) + "\n")
        valid[name] = ok
    return valid


def past_dates(today: str, n: int) -> list[str]:
    """The `n` days before `today`, oldest first."""
    d = dt.date.fromisoformat(today)
    return [(d - dt.timedelta(days=n - i)).isoformat() for i in range(n)]


# -- analytics tables ----------------------------------------------------

_WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window a"
).split()
_LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "signup", "error", "purchase")
_COLORS = ("small", "red", "blue", "hot", "green", "big", "old")
_THINGS = ("ring", "widget", "bolt", "gear", "nut", "spring")
_PTYPES = ("ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO")


def _day(rnd: random.Random, start: dt.datetime, days: int) -> dt.datetime:
    return start + dt.timedelta(days=rnd.randrange(days))


def analytics_tables(seed: int, scale: float) -> dict[str, dict[str, list]]:
    """Column dicts for every table the query mix reads.

    `scale` follows the TPC-H scale factor of the suite's test data
    (lineitem ~ 6M x scale rows)."""
    rnd = random.Random(f"tables:{seed}")
    n_cust, n_supp = max(int(150_000 * scale), 50), max(int(10_000 * scale), 10)
    n_part, n_ord = max(int(200_000 * scale), 50), max(int(1_500_000 * scale), 100)
    n_li, n_ev = int(6_000_000 * scale), max(int(1_000_000 * scale), 100)
    n_doc = max(int(50_000 * scale), 50)
    t0 = dt.datetime(1995, 1, 1)
    tables: dict[str, dict[str, list]] = {}
    tables["nation"] = {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }
    tables["customer"] = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rnd.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rnd.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rnd.choice(_SEGMENTS) for _ in range(n_cust)],
    }
    tables["supplier"] = {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rnd.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rnd.uniform(-999, 9999), 2) for _ in range(n_supp)],
    }
    tables["part"] = {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rnd.choice(_COLORS)} {rnd.choice(_THINGS)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{rnd.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rnd.choice(_PTYPES) for _ in range(n_part)],
        "p_size": [rnd.randrange(1, 51) for _ in range(n_part)],
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)],
    }
    tables["orders"] = {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rnd.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rnd.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": [round(rnd.uniform(1000, 500_000), 2)
                         for _ in range(n_ord)],
        "o_orderdate": [_day(rnd, t0, 2404) for _ in range(n_ord)],
        "o_orderpriority": [rnd.choice(_PRIORITIES) for _ in range(n_ord)],
    }
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for _ in range(n_li):
        li["l_orderkey"].append(rnd.randrange(n_ord))
        li["l_partkey"].append(rnd.randrange(n_part))
        li["l_suppkey"].append(rnd.randrange(n_supp))
        li["l_linenumber"].append(rnd.randrange(1, 8))
        li["l_quantity"].append(float(rnd.randrange(1, 51)))
        li["l_extendedprice"].append(round(rnd.uniform(900, 105_000), 2))
        li["l_discount"].append(rnd.randrange(11) / 100)
        li["l_tax"].append(rnd.randrange(9) / 100)
        li["l_returnflag"].append(rnd.choice("ANR"))
        li["l_linestatus"].append(rnd.choice("OF"))
        li["l_shipdate"].append(_day(rnd, t0 + dt.timedelta(days=1), 2500))
    tables["lineitem"] = li
    e0 = dt.datetime(2024, 1, 1)
    n_users = max(n_ev // 66, 10)
    # whole seconds: `relational.sessionize` measures gaps in whole seconds
    # while its oracle uses microseconds, so a gap just over 30 minutes
    # splits a session in one engine only
    ts = sorted(e0 + dt.timedelta(seconds=rnd.randrange(30 * 86_400))
                for _ in range(n_ev))
    tables["events"] = {
        "event_id": list(range(n_ev)),
        "ts": ts,
        "user_id": [rnd.randrange(n_users) for _ in range(n_ev)],
        "event_type": [rnd.choice(_EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rnd.expovariate(1 / 50), 2) + 0.01 for _ in range(n_ev)],
        "props": [f'{{"k": {rnd.randrange(100)}}}' for _ in range(n_ev)],
    }
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rnd.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            words = rnd.choice(texts).split()
            words[rnd.randrange(len(words))] = rnd.choice(_WORDS)
        else:
            words = [rnd.choice(_WORDS) for _ in range(rnd.randrange(8, 90))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": list(range(n_doc)),
        "text": texts,
        "lang": [rnd.choice(_LANGS) for _ in range(n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(t) for t in texts],
    }
    return tables


_TYPES = {
    "int32": ("n_nationkey", "n_regionkey", "c_nationkey", "s_nationkey",
              "p_size", "l_linenumber"),
    "timestamp": ("o_orderdate", "l_shipdate", "ts"),
}


def write_tables(tables: dict[str, dict[str, list]], out_dir: str) -> None:
    """Write each table as `<out_dir>/<name>.parquet` (one file, like the
    suite's test data: int64 keys, int32 small codes, naive microsecond
    timestamps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {}
        for col, values in cols.items():
            if col in _TYPES["int32"]:
                arrays[col] = pa.array(values, pa.int32())
            elif col in _TYPES["timestamp"]:
                arrays[col] = pa.array(values, pa.timestamp("us"))
            else:
                arrays[col] = pa.array(values)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
