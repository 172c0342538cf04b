"""Seeded inputs for the benchmark: tables and statement streams.

Everything here is a pure function of ``(seed, scale)``: no Spark, no
clock, no file system. The same seed gives byte-identical statements
(``selftest.py`` pins this), so two commits measured with one seed see
the same inputs.

Key space. The ingest table uses the sparse orderkey layout of the
TPC-H specification: keys ``32*b + 1 .. 32*b + 8`` exist,
``32*b + 9 .. 32*b + 31`` are gaps. The ingest workload inserts into
the gaps, so every insert batch overlaps the key ranges of files already
written. (The engine's test data numbers orders densely, which leaves
no gaps; the analytic tables follow the test data.)
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa

EPOCH = _dt.date(1970, 1, 1)
DAY0 = (_dt.date(1995, 1, 1) - EPOCH).days      # first order date
DAYS = 2405                                     # order dates to 2001-08-01
SHIP_DAYS = 2499                                # ship dates to 2001-11-04
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small big data column order query "
         "customer stream filter group vector dup").split()


class Op(NamedTuple):
    """One client statement and what it must return.

    ``expect`` is a row tuple (``None`` for a key that must be absent),
    a list of rows, a count, or rows affected. ``user_bytes`` is the
    CSV size of the rows the statement writes; ``live_rows`` and
    ``live_bytes`` describe the table after it."""

    kind: str
    sql: str
    expect: Any = None
    user_bytes: int = 0
    live_rows: int = 0
    live_bytes: int = 0


def orderkey(i):
    """Dense order index -> sparse TPC-H orderkey (8 keys per 32)."""
    return (i // 8) * 32 + (i % 8) + 1


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    # Whole cents, so a value prints and parses back to the same double.
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)])


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


# ----------------------------------------------------------------- kv_ingest

def _order_row(rng: np.random.Generator, key: int) -> tuple:
    return (key, int(rng.integers(0, 15_000)),
            STATUS[int(rng.integers(0, 3))],
            int(rng.integers(100_000, 50_000_000)) / 100.0,
            EPOCH + _dt.timedelta(days=DAY0 + int(rng.integers(0, DAYS))),
            PRIORITY[int(rng.integers(0, 5))])


def csv_line(row: tuple) -> str:
    return ",".join(str(v) for v in row) + "\n"


def _sql_lit(v) -> str:
    return f"'{v}'" if isinstance(v, (str, _dt.date)) else str(v)


def kv_orders(seed: int, n_orders: int) -> dict[int, tuple]:
    """The rows the bulk load brings in, keyed by orderkey."""
    rng = np.random.default_rng([seed, 3])
    keys = orderkey(np.arange(n_orders, dtype=np.int64)).tolist()
    cols = zip(keys, rng.integers(0, 15_000, n_orders).tolist(),
               rng.integers(0, 3, n_orders).tolist(),
               (rng.integers(100_000, 50_000_000, n_orders) / 100.0).tolist(),
               (DAY0 + rng.integers(0, DAYS, n_orders)).astype(
                   "datetime64[D]").astype(object).tolist(),
               rng.integers(0, 5, n_orders).tolist())
    return {k: (k, c, STATUS[s], p, d, PRIORITY[q])
            for k, c, s, p, d, q in cols}


LOAD_SQL = "LOAD DATA LOCAL INPATH '{csv}' INTO TABLE orders_kv"


def ingest_ops(seed: int, base: dict[int, tuple], n_cycles: int,
               batch: int = 20) -> list[Op]:
    """Write-beside-read stream after the bulk load of ``base``,
    simulated against an in-memory model of the table so every op
    carries its expected answer. Cycles of sixteen ops, each write
    followed by three reads::

        INSERT, get, range, count,   UPDATE, get, range, count,
        INSERT, get, range, count,   DELETE, get, range, count

    * an INSERT adds ``batch`` new keys drawn from the gaps of the key
      space, and its get reads one of them;
    * the UPDATE sets one live key, the DELETE removes a 64-key range;
      each get reads the key it hit;
    * ``range`` is a short leading-key BETWEEN scan (128 key units),
      ``count`` a key-range COUNT(*) over 1/64 of the key space; both
      start at keys uniform over the whole key space.

    Two inserts per cycle: with the ingest table's compaction policy,
    auto-compaction fires once per cycle, so every cycle costs alike."""
    rng = np.random.default_rng([seed, 4])
    model = dict(base)
    n_blocks = max(base) // 32 + 1
    kmax = n_blocks * 32
    live_bytes = sum(len(csv_line(r)) for r in base.values())
    ops: list[Op] = []

    def add(kind, sql, expect, user_bytes=0):
        ops.append(Op(kind, sql, expect, user_bytes, len(model), live_bytes))

    def between(span: int) -> tuple[int, int, list[int]]:
        a = int(rng.integers(0, kmax - span))
        return a, a + span, [k for k in range(a, a + span + 1) if k in model]

    def live_original() -> int:
        while True:
            k = orderkey(int(rng.integers(0, len(base))))
            if k in model:
                return k

    def insert() -> int:
        nonlocal live_bytes
        rows = []
        while len(rows) < batch:
            k = int(rng.integers(0, n_blocks)) * 32 + int(rng.integers(9, 32))
            if k not in model:
                model[k] = _order_row(rng, k)
                rows.append(model[k])
        written = sum(len(csv_line(r)) for r in rows)
        live_bytes += written
        values = ", ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")"
                           for r in rows)
        add("insert", f"INSERT INTO orders_kv VALUES {values}", None, written)
        return rows[int(rng.integers(0, batch))][0]

    def update() -> int:
        nonlocal live_bytes
        k = live_original()
        price = int(rng.integers(100_000, 50_000_000)) / 100.0
        old = model[k]
        model[k] = old[:2] + ("U", price) + old[4:]
        live_bytes += len(csv_line(model[k])) - len(csv_line(old))
        add("mutate", "UPDATE orders_kv SET o_orderstatus = 'U', "
            f"o_totalprice = {price} WHERE o_orderkey = {k}", 1,
            len(csv_line(model[k])))
        return k

    def delete() -> int:
        nonlocal live_bytes
        k = live_original()
        hit = [x for x in range(k, k + 64) if x in model]
        for x in hit:
            live_bytes -= len(csv_line(model.pop(x)))
        add("mutate", "DELETE FROM orders_kv WHERE o_orderkey "
            f"BETWEEN {k} AND {k + 63}", len(hit))
        return k

    def reads(k: int) -> None:
        add("get", f"SELECT * FROM orders_kv WHERE o_orderkey = {k}",
            model.get(k))
        a, b, keys = between(128)
        add("range", f"SELECT * FROM orders_kv WHERE o_orderkey BETWEEN {a} "
            f"AND {b}", [model[x] for x in keys])
        a, b, keys = between(kmax // 64)
        add("count", "SELECT COUNT(*) FROM orders_kv WHERE o_orderkey "
            f"BETWEEN {a} AND {b}", len(keys))

    for _ in range(n_cycles):
        for write in (insert, update, insert, delete):
            reads(write())
    return ops


# --------------------------------------------------------- analytic_headline

def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The three tables the analytic queries read, with the column
    names, types and distributions of the engine's TPC-H-shaped test
    data (figures in README.md, checked by ``selftest.py``): dense
    orderkeys; each line item's order drawn uniformly, so lines per
    order are binomial (mean 4) with random line numbers 1-7; uniform
    prices, quantities, discounts, flags and dates; documents of 10-100
    words from a 31-word vocabulary."""
    rng = np.random.default_rng([seed, 5])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_doc = int(6_000_000 * sf), max(50, int(50_000 * sf))
    out = {
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, STATUS, n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(DAY0 + rng.integers(0, DAYS, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITY, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            # Rounded uniforms: the end values are half as frequent.
            "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(DAY0 + 1 + rng.integers(0, SHIP_DAYS, n_li))}),
    }
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         int(rng.integers(10, 101)))])
             for _ in range(n_doc)]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return out


def digest(ops: list[Op]) -> str:
    """sha256 of a statement list's SQL text, one statement per line."""
    return hashlib.sha256("\n".join(op.sql for op in ops).encode()).hexdigest()
