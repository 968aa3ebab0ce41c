"""Seeded input generation. Every input a workload feeds the engine is
made here from ``--seed``; the same seed gives byte-identical tables.

The relational tables follow the schemas and value ranges of the
engine's declared-query corpus (a TPC-H-like star schema plus an
``events`` table and a ``documents`` table), so the declared queries and
their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "red", "green", "black", "white", "small", "large", "steel"]
_NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "valve", "spring", "pipe"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "es", "fr", "de", "zh"]
_WORDS = ("a the data row column table key value hash join sort group "
          "filter scan query window stream batch merge part line order "
          "customer vector spark agg fast slow big small").split()

_US_PER_DAY = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH) // dt.timedelta(
        microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the relational corpus at scale factor ``sf`` (lineitem has
    about 6M × sf rows) into ``out_dir``; return row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_COLORS, n_part),
                                              rng.choice(_NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})

    first, last = _day_us(dt.date(1995, 1, 1)), _day_us(dt.date(2001, 8, 1))
    odate = first + rng.integers(0, (last - first) // _US_PER_DAY + 1,
                                 n_ord) * _US_PER_DAY
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist()})

    # 1..7 lines per order (mean 4), so a few orders exceed tpch_q18's
    # 250-unit quantity threshold
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    partkey = rng.integers(0, n_part, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 122, n_li) * _US_PER_DAY)})

    jan = _day_us(dt.date(2024, 1, 1))
    ev_ts = np.sort(jan + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, min(1500, n_cust), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = [" ".join(rng.choice(_WORDS, int(k)))
             for k in rng.integers(10, 101, n_doc)]
    # a few exact copies and near-copies, as a crawl would have
    for i in rng.choice(n_doc, max(2, n_doc // 100), replace=False):
        j = int(rng.integers(0, n_doc))
        texts[i] = texts[j] if rng.random() < 0.5 else texts[j] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev, "documents": n_doc}


def iris_rows() -> tuple[list[tuple], list[tuple]]:
    """The reference's iris split: 120 train and 30 test rows of
    (sl, sw, pl, pw, type)."""
    def load(name):
        with open(os.path.join(HERE, "data", name), newline="") as f:
            return [tuple(float(v) for v in row) for row in csv.reader(f)]
    return load("iris_train.csv"), load("iris_test.csv")


def write_csv(path: str, rows: list[tuple]) -> None:
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)
