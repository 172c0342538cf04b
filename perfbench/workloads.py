"""The workloads: set-up, statement stream and answer checks.

Each workload object is driven by ``run.py``: ``setup`` is timed and
repeated, ``ops`` is the seeded statement stream, whose first
``warm_passes`` passes run before the clock starts, ``execute`` runs one
op and ``check`` says whether its answer was right. ``execute`` also
records how long the statement's dispatch (or plan construction) and its
collect took. A run measures a fixed number of passes, ``--seconds /
pass_s``, so two commits measured alike do the same work.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen

INGEST_ORDERS = 40_000
ANALYTIC_SF = 0.01
# Headline queries the analytic workload runs, by family. A subset of
# bench.HEADLINE sized so a pass (~3 s on 4 cores) repeats within one
# run, and limited to queries that read files through plain Spark: none
# reaches the dispatcher, the catalog, pruning or the writer.
HEADLINE_FAMILIES = {
    "relational": ["q6_forecast_revenue", "point_lookup", "key_range_scan",
                   "topk_orders", "window_row_number"],
    "pipeline": ["doc_term_frequencies"],
    "orderstats": ["lineitem_quantile_disc"],
}
# kv_ingest's table: 8 key-range files per full rewrite, and automatic
# compaction (OPTIMIZE) after a write once the table has >= 8 files whose
# average key-range overlap depth is >= 4 (the engine's defaults).
INGEST_PROPS = ("'keyCols'='o_orderkey', 'numBuckets'='8', "
                "'autoOptimize'='true'")


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def csv_bytes(table) -> int:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    pacsv.write_csv(table, sink, pacsv.WriteOptions(include_header=False))
    return sink.getvalue().size


class Workload:
    """Defaults shared by the workloads; ``execute`` records the split
    between statement dispatch (or plan construction) and collect."""

    cycle = 1               # ops per pass: one repetition of the op mix
    pass_s = 1.0            # nominal seconds per pass, 4-core reference
    # Unmeasured passes before the clock starts, after the first (cold)
    # set-up has loaded the engine's classes: the JVM is still compiling
    # the engine's hot paths over the first passes.
    warm_passes = 2

    def __init__(self, hs, work: str, seed: int) -> None:
        self.hs, self.work, self.seed = hs, work, seed

    def kind(self, op) -> str:
        return op.kind

    def execute(self, op):
        t0 = time.perf_counter()
        df = self.hs.sql(op.sql)
        t1 = time.perf_counter()
        rows = df.collect() if df is not None else None
        self.build_s, self.collect_s = t1 - t0, time.perf_counter() - t1
        return df, rows

    def expect_answers(self) -> None:
        """Work out, before any op runs, what the ops must return."""

    def after_op(self, n: int, op) -> None:
        """Called after measured op ``n`` (0-based), outside its timing."""

    def final_check(self, last_op) -> bool:
        return True

    def files_total(self) -> float:
        return 0.0

    def files_per_table(self) -> float:
        return 0.0


class KvIngest(Workload):
    """Bulk load (in set-up), then inserts into key gaps, copy-on-write
    updates and deletes, point gets on the keys just written, key-range
    scans and key-range counts, all through ``HeraclesSession.sql``."""

    name = "kv_ingest"
    cycle = 16
    pass_s = 5.5

    def __init__(self, hs, work: str, seed: int) -> None:
        super().__init__(hs, work, seed)
        self.base = gen.kv_orders(seed, INGEST_ORDERS)
        self.load_s: list[float] = []
        self.space: list[float] = []
        self.files: list[int] = []

    def setup(self, rep: int) -> None:
        csv = os.path.join(self.work, f"orders{rep}.csv")
        with open(csv, "w") as fh:
            fh.writelines(gen.csv_line(r) for r in self.base.values())
        self.hs.sql("DROP TABLE IF EXISTS orders_kv")
        self.hs.sql(
            "CREATE TABLE orders_kv (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, "
            f"o_orderpriority STRING) TBLPROPERTIES({INGEST_PROPS})")
        t0 = time.perf_counter()
        self.hs.sql(gen.LOAD_SQL.format(csv=csv))
        self.load_s.append(time.perf_counter() - t0)

    def after_op(self, n: int, op) -> None:
        # Space and file count are sampled after every op of the first
        # measured pass: the mean over one whole cycle does not depend
        # on where in the cycle compaction fires.
        if n < self.cycle:
            tbl = self.hs.catalog.get_table("orders_kv")
            self.space.append(dir_bytes(tbl.data_dir) / op.live_bytes)
            self.files.append(len(tbl.files))

    def ops(self, passes: int) -> list:
        return gen.ingest_ops(self.seed, self.base, passes)

    def check(self, op, rows) -> bool:
        if op.kind == "insert":
            return rows is None
        if op.kind == "mutate":
            return rows[0]["rows_affected"] == op.expect
        if op.kind == "count":
            return len(rows) == 1 and rows[0][0] == op.expect
        if op.kind == "range":
            return sorted(map(tuple, rows)) == op.expect
        return [tuple(r) for r in rows] == (
            [] if op.expect is None else [op.expect])

    def files_total(self) -> float:
        """Table files, mean over the first measured pass."""
        return sum(self.files) / len(self.files)

    def final_check(self, last_op) -> bool:
        n = self.hs.sql("SELECT COUNT(*) FROM orders_kv").collect()[0][0]
        return n == last_op.live_rows

    def stored_per_user_byte(self) -> float:
        """On-disk bytes of the table, retired files included, per CSV
        byte of the live rows, mean over the first measured pass."""
        return sum(self.space) / len(self.space)


def _canon(v) -> str:
    if v is None:
        return "\0"
    if isinstance(v, bool) or isinstance(v, str):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        x = float(v) + 0.0
    except (TypeError, ValueError):
        return str(v)
    return "nan" if math.isnan(x) else repr(x)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    values canonicalised (numbers as doubles), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256(
        repr(([columns[i] for i in order], body)).encode()).hexdigest()


class AnalyticHeadline(Workload):
    """Fresh-plan passes over headline queries on the layout mirror,
    each result checked against the DuckDB oracle's."""

    name = "analytic_headline"
    warm_passes = 3         # pass times still fall over the first three
    pass_s = 3.2

    def __init__(self, hs, work: str, seed: int) -> None:
        import bench
        from heracles_spark.queries import all_queries

        super().__init__(hs, work, seed)
        registry = all_queries()
        self.family = {q: f for f, qs in HEADLINE_FAMILIES.items()
                       for q in qs}
        missing = set(self.family) - set(bench.HEADLINE)
        if missing:
            raise SystemExit(f"not in bench.HEADLINE: {sorted(missing)}")
        self.names = [q for q in bench.HEADLINE if q in self.family]
        self.cycle = len(self.names)
        self.fresh = {q: getattr(registry[q], "__wrapped_query__",
                                 registry[q]) for q in self.names}
        self.tables = gen.tpch_tables(seed, ANALYTIC_SF)
        self.layout_s: list[float] = []

    def setup(self, rep: int) -> None:
        from heracles_spark import layout

        self.data = os.path.join(self.work, f"data{rep}")
        os.makedirs(self.data)
        for t, tbl in self.tables.items():
            pq.write_table(tbl, os.path.join(self.data, f"{t}.parquet"))
        t0 = time.perf_counter()
        self.mirror, _ = layout.prepare(
            self.hs.spark, self.data,
            dest=os.path.join(self.work, f"layout{rep}"))
        self.layout_s.append(time.perf_counter() - t0)
        os.environ["HERACLES_LAYOUT_DIR"] = self.mirror

    def expect_answers(self) -> None:
        """Hash the DuckDB oracle's answer to each query."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t + '.parquet')}'")
            self.expect = {}
            for q in self.names:
                cur = con.execute(oracles[q])
                cols = [d[0] for d in cur.description]
                self.expect[q] = result_hash(cols, cur.fetchall())
        finally:
            con.close()

    def ops(self, passes: int) -> list:
        return self.names * passes

    def kind(self, q: str) -> str:
        return self.family[q]

    def execute(self, q: str):
        t0 = time.perf_counter()
        df = self.fresh[q](self.hs.spark, self.data)
        t1 = time.perf_counter()
        rows = df.collect()
        self.build_s, self.collect_s = t1 - t0, time.perf_counter() - t1
        self.columns = df.columns
        return df, rows

    def check(self, q: str, rows) -> bool:
        return result_hash(self.columns, rows) == self.expect[q]

    def _stored(self) -> list[str]:
        """Where each table is read from: its mirror, or the raw file
        where the layout does not split it."""
        from heracles_spark import layout

        return [layout.resolve(os.path.join(self.data, f"{t}.parquet"))
                for t in self.tables]

    def files_per_table(self) -> float:
        n = [sum(f.endswith(".parquet") for f in os.listdir(p))
             if os.path.isdir(p) else 1 for p in self._stored()]
        return sum(n) / len(n)

    def stored_per_user_byte(self) -> float:
        """Bytes the queries read per CSV byte of the same rows."""
        return (sum(map(dir_bytes, self._stored()))
                / sum(csv_bytes(t) for t in self.tables.values()))


WORKLOADS = {w.name: w for w in (KvIngest, AnalyticHeadline)}
