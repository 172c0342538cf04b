"""Self-test of the benchmark's own contract, at sf0.001-sized inputs.

    python3 perfbench/selftest.py            # generator + metric names
    python3 perfbench/selftest.py --smoke    # also run every workload
    python3 perfbench/selftest.py --shapes DIR   # figures of DIR's tables

Checks that the same seed gives byte-identical statements and tables
(and pins seed 1's digests, so a generator change shows), that another
seed gives other inputs, that the generated analytic tables have the
shapes ``SHAPES`` records for the engine's test data, and that
``BENCHMARK.json`` names exactly the metrics ``layers.py`` prints, with
the same units. ``--smoke`` runs each workload for two seconds with and
without tracing from the repository root and checks that the result
line carries every metric with its unit and that every answer was
right. ``--shapes`` prints the same figures for a directory of
``<table>.parquet`` files, to re-measure ``SHAPES``.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen                                                      # noqa: E402
import layers                                                   # noqa: E402

# sf0.001 sizes: 1,500 orders, ~6k lineitem rows.
ORDERS = 1_500
SF = 0.001
PINNED = {
    "ingest": "347a0ff572ee3937c26f655d0e7e06b5311955fac9bae96ab4630c9c0c3410f9",
    "tables": "0b8be9f92672935e85101dd3f90990755ecdcb284e1a6b97836d082cf65d2009",
}


def statements(seed: int) -> dict[str, str]:
    """Digests of the ingest statement list and the analytic tables."""
    tables = hashlib.sha256()
    for name, tbl in sorted(gen.tpch_tables(seed, SF).items()):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        tables.update(name.encode() + sink.getvalue().to_pybytes())
    base = gen.kv_orders(seed, ORDERS)
    return {"ingest": gen.digest(gen.ingest_ops(seed, base, 40)),
            "tables": tables.hexdigest()}


# Figures the analytic queries depend on, measured with ``--shapes`` on
# the engine's sf0.01 test data, and the relative difference the
# generated sf0.01 tables may show. Row counts of the headline queries'
# answers come from their oracle SQL.
SHAPES = {
    "lineitem.rows": (60_000, 0.0),
    "orders.rows": (15_000, 0.0),
    "documents.rows": (500, 0.0),
    "orders.orderkey_span_per_row": (1.0, 0.0),
    "lineitem.orders_with_lines": (14_743, 0.01),
    "lineitem.lines_per_order_max": (13, 0.35),
    "lineitem.linenumbers": (7, 0.0),
    "lineitem.duplicate_key_pairs": (11_785, 0.03),
    "lineitem.extendedprice_mean": (53_054, 0.02),
    "documents.words_per_doc": (54.3, 0.05),
    "documents.terms": (30, 0.0),
    "q6_forecast_revenue.rows_matched": (2_090, 0.15),
    "key_range_scan.rows": (414, 0.15),
    "window_row_number.rows": (303, 0.0),
    "lineitem_quantile_disc.groups": (3, 0.0),
}


def shapes(tables: dict) -> dict[str, float]:
    """The ``SHAPES`` figures of ``{name: arrow table or parquet path}``."""
    import duckdb

    con = duckdb.connect()
    for t, src in tables.items():
        if isinstance(src, str):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        else:
            con.register(t, src)

    def one(sql):
        return con.execute(sql).fetchone()[0]

    terms = ("SELECT lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g')) AS t "
             "FROM documents, UNNEST(string_split_regex(trim(text), "
             "'\\s+')) AS u(tok)")
    out = {f"{t}.rows": one(f"SELECT COUNT(*) FROM {t}") for t in tables}
    out.update({
        "orders.orderkey_span_per_row": one(
            "SELECT (MAX(o_orderkey) - MIN(o_orderkey) + 1) / COUNT(*) "
            "FROM orders"),
        "lineitem.orders_with_lines": one(
            "SELECT COUNT(DISTINCT l_orderkey) FROM lineitem"),
        "lineitem.lines_per_order_max": one(
            "SELECT MAX(c) FROM (SELECT COUNT(*) c FROM lineitem "
            "GROUP BY l_orderkey)"),
        "lineitem.linenumbers": one(
            "SELECT COUNT(DISTINCT l_linenumber) FROM lineitem"),
        "lineitem.duplicate_key_pairs": one(
            "SELECT COUNT(*) FROM (SELECT 1 FROM lineitem GROUP BY "
            "l_orderkey, l_linenumber HAVING COUNT(*) > 1)"),
        "lineitem.extendedprice_mean": one(
            "SELECT AVG(l_extendedprice) FROM lineitem"),
        "documents.words_per_doc": one(
            "SELECT AVG(len(string_split_regex(trim(text), '\\s+'))) "
            "FROM documents"),
        "documents.terms": one(
            f"SELECT COUNT(DISTINCT t) FROM ({terms}) WHERE length(t) >= 2"),
        "q6_forecast_revenue.rows_matched": one(
            "SELECT COUNT(*) FROM lineitem WHERE l_shipdate >= "
            "TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"),
    })
    import __spark_entry__

    oracle = __spark_entry__.oracle_sql()
    for q, name in (("key_range_scan", "rows"), ("window_row_number", "rows"),
                    ("lineitem_quantile_disc", "groups")):
        out[f"{q}.{name}"] = one(f"SELECT COUNT(*) FROM ({oracle[q]})")
    con.close()
    return {k: float(v) for k, v in out.items()}


def check_shapes() -> list[str]:
    got = shapes(gen.tpch_tables(1, 0.01))
    return [f"generated {k} is {got[k]:g}, the test data's {want:g}"
            for k, (want, tol) in SHAPES.items()
            if abs(got[k] - want) > tol * want]


def check_generators() -> list[str]:
    errors = []
    a, b = statements(1), statements(1)
    if a != b:
        errors.append("seed 1 gave two different statement lists")
    for k, want in PINNED.items():
        if a[k] != want:
            errors.append(f"{k} statements for seed 1 changed: {a[k]}")
    other = statements(2)
    errors += [f"seeds 1 and 2 gave the same {k} statements"
               for k in a if a[k] == other[k]]
    return errors


def check_benchmark_json() -> list[str]:
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for key, names in (("end_to_end", layers.END_TO_END),
                       ("per_layer", layers.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        if listed != names:
            errors.append(f"BENCHMARK.json {key} differs from layers.py: "
                          f"{sorted(set(listed.items()) ^ set(names.items()))}")
    return errors


def smoke() -> list[str]:
    from workloads import WORKLOADS

    root = os.path.dirname(HERE)
    errors = []
    for wl in WORKLOADS:
        for trace, names in ((0, layers.END_TO_END), (1, layers.PER_LAYER)):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", wl, "--seed", "1", "--seconds", "2",
                 "--trace", str(trace)],
                cwd=root, capture_output=True, text=True, timeout=300)
            tag = f"{wl} --trace {trace}"
            if out.returncode != 0:
                errors.append(f"{tag}: exit {out.returncode}: "
                              f"{out.stderr[-500:]}")
                continue
            res = json.loads(out.stdout.splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != names:
                errors.append(f"{tag}: metric names or units differ")
            if not res["correct"] or res["failed"]:
                errors.append(f"{tag}: {res['failed']} wrong answers")
            print(f"{tag}: ok, {res['attempted']} ops", flush=True)
    return errors


def main() -> int:
    if sys.argv[1:2] == ["--shapes"]:
        tables = {t: os.path.join(sys.argv[2], f"{t}.parquet")
                  for t in ("lineitem", "orders", "documents")}
        print(json.dumps(shapes(tables), indent=1))
        return 0
    errors = check_generators() + check_shapes() + check_benchmark_json()
    if "--smoke" in sys.argv[1:]:
        errors += smoke()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
