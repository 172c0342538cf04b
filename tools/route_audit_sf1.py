"""sf1 access-path route audit (round-13 judge ask #8).

The sf0.01 pins prove the pruned routes fire (8-file tables); this
records the files_read/files_total RATIO at sf1 row counts with a
realistic file count (64 fact buckets / 16 dim buckets), for the
dominant routed shapes:

  star      join-derived fact pruning (dim BETWEEN + edge, NO literal
            fact predicate)
  literal   literal key-range pruning on the fact
  metacount range-covered metadata COUNT (contained files answered
            from index row counts)
  nonkey    literal range on a non-key column with harvested boxes

Each statement's result is checked against a stock-Spark computation
of the same statement (exactness gate), then the audit is printed.

Usage: python tools/route_audit_sf1.py [sf1_dir]
       (default: .layout/sf1_synth — build with tools/scale_check.py)
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".layout/sf1_synth"

    from heracles_spark import writer
    from heracles_spark.queries.relational import _t
    from heracles_spark.session import HeraclesSession, get_session

    spark = get_session("route-audit-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_ra_"))
    cat = hs.catalog

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cat.create_table("ral", [("l_orderkey", "bigint"),
                             ("l_linenumber", "int"),
                             ("l_seq", "bigint"),
                             ("l_quantity", "double"),
                             ("l_extendedprice", "double")],
                     ["l_orderkey", "l_linenumber"])
    writer.write_key_organized(
        spark, cat, "ral",
        li.select(F.col("l_orderkey").cast("bigint"),
                  F.col("l_linenumber").cast("int"),
                  (F.col("l_orderkey") * 10).cast("bigint").alias("l_seq"),
                  F.col("l_quantity").cast("double"),
                  F.col("l_extendedprice").cast("double")), n_buckets=64)
    cat.create_table("rao", [("o_orderkey", "bigint"),
                             ("o_orderpriority", "string")],
                     ["o_orderkey"])
    writer.write_key_organized(
        spark, cat, "rao",
        o.select(F.col("o_orderkey").cast("bigint"), "o_orderpriority"),
        n_buckets=16)

    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    a = int(lo) + (int(hi) - int(lo)) // 4
    b = int(lo) + (int(hi) - int(lo)) // 2
    plo, phi = li.agg(F.min("l_extendedprice"),
                      F.max("l_extendedprice")).first()
    pa = float(plo) + (float(phi) - float(plo)) / 4
    pb = float(plo) + (float(phi) - float(plo)) / 2.5

    stmts = {
        "star": ("SELECT o.o_orderpriority AS pri, count(*) AS n "
                 "FROM ral l JOIN rao o ON l.l_orderkey = o.o_orderkey "
                 f"WHERE o.o_orderkey BETWEEN {a} AND {b} "
                 "GROUP BY o.o_orderpriority ORDER BY pri"),
        "literal": ("SELECT count(*) AS n, SUM(l_quantity) AS q "
                    f"FROM ral WHERE l_orderkey BETWEEN {a} AND {b}"),
        "metacount": ("SELECT count(*) AS n FROM ral "
                      f"WHERE l_orderkey BETWEEN {a} AND {b}"),
        "nonkey-correlated": ("SELECT count(*) AS n, SUM(l_quantity) AS q "
                              f"FROM ral WHERE l_seq <= {a * 10}"),
        "nonkey-uncorrelated": ("SELECT count(*) AS n, SUM(l_quantity) "
                                f"AS q FROM ral WHERE l_extendedprice "
                                f"BETWEEN {pa:.2f} AND {pb:.2f}"),
    }
    # Stock-Spark truth: same statement over plain temp views of the
    # same stored rows (full scan, no routing).
    hs.table("ral").createOrReplaceTempView("stock_ral")
    hs.table("rao").createOrReplaceTempView("stock_rao")

    for label, s in stmts.items():
        got = sorted(map(tuple, hs.sql(s).collect()))
        audit = dict(hs.last_select_route)
        truth = sorted(map(tuple, spark.sql(
            s.replace("ral", "stock_ral").replace("rao", "stock_rao"))
            .collect()))
        ok = got == truth
        print(f"--- {label}: exact={ok}")
        print(f"    audit: {audit}")
        assert ok, f"{label}: routed result differs from stock Spark!"


if __name__ == "__main__":
    main()
