"""Seeded TPC-H-shaped inputs for the benchmark workloads.

Everything the benchmark feeds the program comes from here, drawn from one
``numpy`` generator seeded with ``--seed``: the same seed gives the same
tables, the same held-back order stream, the same delete targets and the
same wave splits.  Money columns are exact decimals and dates are DATE, so
the DuckDB recomputes in ``mv_maintain.py`` compare exactly.

Tables are kept as pandas frames whose money columns hold integer
hundredths and whose date columns hold days since 1970-01-01; ``to_arrow``
turns them into decimal/date columns for parquet and DuckDB, and
``values_sql`` renders rows as SQL literals for INSERT statements.

Scale: ``sf=0.1`` gives 15,000 customers, 150,000 orders and about 600,000
lineitems, the TPC-H cardinalities at that scale factor.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
LANGS = ["en", "de", "fr"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter group stream big index plan delta state bucket segment commit"
).split()

_EPOCH = dt.date(1970, 1, 1)


def _day(iso: str) -> int:
    return (dt.date.fromisoformat(iso) - _EPOCH).days


_START, _END = _day("1992-01-01"), _day("1998-08-02")
#: TPC-H "current date": the returnflag / linestatus split
_CURRENT = _day("1995-06-17")

#: engine DDL per table, in column order
SCHEMAS = {
    "region": "r_regionkey INT, r_name TEXT",
    "nation": "n_nationkey INT, n_name TEXT, n_regionkey INT",
    "supplier": "s_suppkey BIGINT, s_name TEXT, s_nationkey INT",
    "customer": ("c_custkey BIGINT, c_name TEXT, c_nationkey INT, "
                 "c_acctbal DECIMAL(12,2), c_mktsegment TEXT"),
    "orders": ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus TEXT, "
               "o_totalprice DECIMAL(12,2), o_orderdate DATE, "
               "o_orderpriority TEXT"),
    "lineitem": ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                 "l_linenumber INT, l_quantity DECIMAL(12,2), "
                 "l_extendedprice DECIMAL(12,2), l_discount DECIMAL(4,2), "
                 "l_tax DECIMAL(4,2), l_returnflag TEXT, l_linestatus TEXT, "
                 "l_shipdate DATE"),
}


def _columns(table: str) -> list[tuple[str, str]]:
    return [tuple(c.strip().split(None, 1)) for c in SCHEMAS[table].split(", ")]


def _decimal_array(cents: np.ndarray, precision: int) -> pa.Array:
    """int64 hundredths → decimal128(precision, 2) without a Python loop:
    a decimal128 slot is the 16-byte little-endian two's-complement
    unscaled value."""
    lo = np.ascontiguousarray(cents, dtype=np.int64)
    words = np.empty((len(lo), 2), dtype=np.int64)
    words[:, 0] = lo
    words[:, 1] = lo >> 63
    return pa.Array.from_buffers(
        pa.decimal128(precision, 2), len(lo), [None, pa.py_buffer(words.tobytes())]
    )


def to_arrow(table: str, df: pd.DataFrame) -> pa.Table:
    """The frame as an arrow table typed like the engine's DDL."""
    arrays, names = [], []
    for name, typ in _columns(table):
        col = df[name].to_numpy()
        if typ.startswith("DECIMAL"):
            precision = int(typ[len("DECIMAL("):].split(",")[0])
            arrays.append(_decimal_array(col, precision))
        elif typ == "DATE":
            arrays.append(pa.array(col.astype(np.int32), pa.date32()))
        elif typ == "INT":
            arrays.append(pa.array(col.astype(np.int32), pa.int32()))
        elif typ == "BIGINT":
            arrays.append(pa.array(col.astype(np.int64), pa.int64()))
        else:
            arrays.append(pa.array(col.astype(object), pa.string()))
        names.append(name)
    return pa.Table.from_arrays(arrays, names=names)


def write_parquet(table: str, df: pd.DataFrame, path: str) -> None:
    pq.write_table(to_arrow(table, df), path)


def _literal(typ: str, v) -> str:
    if typ.startswith("DECIMAL"):
        v = int(v)
        sign = "-" if v < 0 else ""
        return f"{sign}{abs(v) // 100}.{abs(v) % 100:02d}"
    if typ == "DATE":
        return f"'{_EPOCH + dt.timedelta(days=int(v))}'"
    if typ == "TEXT":
        return "'" + str(v).replace("'", "''") + "'"
    return str(int(v))


def values_sql(table: str, df: pd.DataFrame) -> str:
    """``INSERT INTO table VALUES (...), ...`` for every row of ``df``."""
    cols = _columns(table)
    rows = [
        "(" + ", ".join(_literal(t, v) for (_, t), v in zip(cols, r)) + ")"
        for r in df[[n for n, _ in cols]].itertuples(index=False)
    ]
    return f"INSERT INTO {table} VALUES " + ", ".join(rows)


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pd.DataFrame]:
    """region, nation, supplier, customer, orders and lineitem at ``sf``."""
    n_supp, n_cust, n_ord = int(10_000 * sf), int(150_000 * sf), int(1_500_000 * sf)
    n_part = int(200_000 * sf)
    region = pd.DataFrame({"r_regionkey": np.arange(5), "r_name": REGIONS})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(len(NATIONS)),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": [r for _, r in NATIONS],
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(1, n_supp + 1),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, n_cust + 1),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": rng.integers(-99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    okeys = np.arange(1, n_ord + 1)
    odate = rng.integers(_START, _END - 151, n_ord)
    nlines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(okeys, nlines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    linenumber = np.arange(n_li) - starts + 1
    partkey = rng.integers(1, n_part + 1, n_li)
    qty = rng.integers(1, 51, n_li)
    retail = 90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)
    extprice = qty * retail
    disc = rng.integers(0, 11, n_li)
    tax = rng.integers(0, 9, n_li)
    ship = np.repeat(odate, nlines) + rng.integers(1, 122, n_li)
    receipt = ship + rng.integers(1, 31, n_li)
    returnflag = np.where(receipt <= _CURRENT,
                          np.where(rng.random(n_li) < 0.5, "R", "A"), "N")
    linestatus = np.where(ship > _CURRENT, "O", "F")
    lineitem = pd.DataFrame({
        "l_orderkey": l_ok,
        "l_partkey": partkey,
        "l_suppkey": (partkey + linenumber * (n_supp // 4 + 1)) % n_supp + 1,
        "l_linenumber": linenumber,
        "l_quantity": qty * 100,
        "l_extendedprice": extprice,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": returnflag,
        "l_linestatus": linestatus,
        "l_shipdate": ship,
    })
    charge = extprice * (100 - disc) * (100 + tax) // 10_000
    total = np.bincount(np.repeat(np.arange(n_ord), nlines), weights=charge,
                        minlength=n_ord).astype(np.int64)
    open_lines = np.bincount(np.repeat(np.arange(n_ord), nlines),
                             weights=(linestatus == "O"), minlength=n_ord)
    status = np.where(open_lines == 0, "F",
                      np.where(open_lines == nlines, "O", "P"))
    # customers with custkey % 3 == 0 place no orders (TPC-H rule)
    cust = rng.integers(1, n_cust + 1, n_ord)
    cust = np.where(cust % 3 == 0, np.maximum(cust - 1, 1), cust)
    orders = pd.DataFrame({
        "o_orderkey": okeys,
        "o_custkey": cust,
        "o_orderstatus": status,
        "o_totalprice": total,
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    return {"region": region, "nation": nation, "supplier": supplier,
            "customer": customer, "orders": orders, "lineitem": lineitem}


def documents(rng: np.random.Generator, n: int, first_id: int = 0,
              dup_share: float = 0.15) -> pd.DataFrame:
    """``n`` documents of 20-80 words; ``dup_share`` of them are copies of
    an earlier document with a few words changed, so the MinHash
    maintainer finds near-duplicate pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if texts and rng.random() < dup_share:
            toks = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(20, 81))])
        texts.append(" ".join(toks))
    return pd.DataFrame({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
    })


def events(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": rng.integers(0, 1_000, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 10.0, n), 2),
    })
