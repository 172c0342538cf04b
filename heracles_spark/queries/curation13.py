"""Thirteenth batch: round-13 optimizations certified externally —
JOIN-DERIVED file pruning (the star statement with NO literal fact
predicate: the dim's surviving key range, read from the catalog file
index's min/max boxes only, prunes the fact's file list across the
equi-join edge) and the non-key metadata access paths the extended
per-file statistics (all-column min/max + null counts) enable.

Each query pins the FEATURE VERDICT inside the value hash (routing
booleans, pruning facts) alongside real row data — a silently-dead
route flips a boolean the oracle asserts TRUE, and a route that
corrupts rows flips the data hash.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from heracles_spark.queries.relational import _t

QUERIES: dict = {}


def lineitem_join_derived_pruned_sql(spark, sf_dir):
    """Round-13 judge ask #1 certified: the star statement whose ONLY
    selective predicate sits on the dimension — ``SELECT ... FROM fact
    JOIN dim ON fact.fk = dim.pk WHERE dim.pk BETWEEN a AND b`` — now
    prunes the FACT side's file list too: the dim's surviving files'
    min/max boxes on the edge column (catalog file index, metadata
    only — no data read) become a derived range the fact's files are
    classified against (sql._join_derived_pred). Pinned: route ==
    pruned-scan-join, fact files_read < files_total, the audit's
    derived_from naming the dim edge column, and the aggregates the
    oracle recomputes from raw lineitem ⋈ orders — a derivation bug
    that loses rows flips the hash."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_jdp_"))
    cat = hs.catalog
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cat.create_table("jdl", [("l_orderkey", "bigint"),
                             ("l_linenumber", "int"),
                             ("l_quantity", "double")],
                     ["l_orderkey", "l_linenumber"])
    writer.write_key_organized(
        spark, cat, "jdl",
        li.select(F.col("l_orderkey").cast("bigint"),
                  F.col("l_linenumber").cast("int"),
                  F.col("l_quantity").cast("double")), n_buckets=8)
    cat.create_table("jdo", [("o_orderkey", "bigint"),
                             ("o_orderpriority", "string")],
                     ["o_orderkey"])
    writer.write_key_organized(
        spark, cat, "jdo",
        o.select(F.col("o_orderkey").cast("bigint"),
                 "o_orderpriority"), n_buckets=4)
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    a = int(lo) + (int(hi) - int(lo)) // 4
    b = int(lo) + (int(hi) - int(lo)) // 2
    got = hs.sql(
        f"SELECT o.o_orderpriority AS pri, count(*) AS n, "
        f"CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE) "
        f"AS sum_qty FROM jdl l JOIN jdo o "
        f"ON l.l_orderkey = o.o_orderkey "
        f"WHERE o.o_orderkey BETWEEN {a} AND {b} "
        f"GROUP BY o.o_orderpriority ORDER BY pri").collect()
    rr = dict(hs.last_select_route)
    fact = rr.get("tables", {}).get("l", {})
    routed_derived = bool(
        rr.get("route") == "pruned-scan-join"
        and fact.get("files_read", 99) < fact.get("files_total", 0)
        and fact.get("derived_from") == ["o.o_orderkey"])
    return (spark.createDataFrame(
                [(r.pri, int(r.n), float(r.sum_qty)) for r in got],
                "pri: string, n: long, sum_qty: double")
            .withColumn("join_derived_pruned", F.lit(routed_derived))
            .orderBy("pri"))


JOIN_DERIVED_PRUNED_SQL = """
WITH b AS (SELECT MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey))
                  // 4 AS a,
                  MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey))
                  // 2 AS b FROM orders)
SELECT o.o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE)
         AS sum_qty,
       TRUE AS join_derived_pruned
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey, b
WHERE o.o_orderkey BETWEEN b.a AND b.b
GROUP BY o.o_orderpriority ORDER BY pri
"""

QUERIES["lineitem_join_derived_pruned_sql"] = (
    lineitem_join_derived_pruned_sql, JOIN_DERIVED_PRUNED_SQL)


def orders_nonkey_range_metadata_count(spark, sf_dir):
    """Round-13 judge ask #4 certified: the range-covered metadata
    COUNT now fires on NON-KEY columns — the extended footer harvest
    records per-file min/max + null counts for every column, and
    ``pruning.must_match`` certifies a file when its recorded null
    count is zero and its box lies inside the range. The probed
    column (o_seq, an invoice-number-style monotone derivation of the
    key) is layout-correlated, the realistic warehouse case. Pinned:
    route == metadata-count-range, files_read < files_total, at least
    one fully-contained file, and the count the oracle recomputes
    from raw orders."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_nkm_"))
    cat = hs.catalog
    o = _t(spark, sf_dir, "orders")
    cat.create_table("nkmo", [("o_orderkey", "bigint"),
                              ("o_seq", "bigint")], ["o_orderkey"])
    writer.write_key_organized(
        spark, cat, "nkmo",
        o.select(F.col("o_orderkey").cast("bigint"),
                 (F.col("o_orderkey") * 2 + 7).cast("bigint")
                 .alias("o_seq")), n_buckets=8)
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    a = (int(lo) + (int(hi) - int(lo)) // 8) * 2 + 7
    b = (int(lo) + 3 * (int(hi) - int(lo)) // 4) * 2 + 7
    n = int(hs.sql(f"SELECT COUNT(*) AS n FROM nkmo "
                   f"WHERE o_seq BETWEEN {a} AND {b}").first().n)
    rr = dict(hs.last_select_route)
    routed = bool(rr.get("route") == "metadata-count-range"
                  and rr.get("files_read", 99) < rr.get("files_total", 0)
                  and rr.get("files_contained", 0) >= 1)
    return spark.createDataFrame(
        [(n, routed)], "n: long, nonkey_meta_routed: boolean")


NONKEY_META_COUNT_SQL = """
WITH b AS (SELECT (MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey))
                   // 8) * 2 + 7 AS a,
                  (MIN(o_orderkey) + 3 * (MAX(o_orderkey)
                   - MIN(o_orderkey)) // 4) * 2 + 7 AS b FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n, TRUE AS nonkey_meta_routed
FROM orders o, b WHERE o.o_orderkey * 2 + 7 BETWEEN b.a AND b.b
"""

QUERIES["orders_nonkey_range_metadata_count"] = (
    orders_nonkey_range_metadata_count, NONKEY_META_COUNT_SQL)


def lineitem_nonkey_pruned_sql(spark, sf_dir):
    """Round-13 judge ask #4 certified (scan side): a GROUP BY
    statement whose ONLY predicate sits on a layout-correlated
    NON-KEY column now prunes its file list opportunistically — the
    swap fires exactly when the extended per-file boxes remove files.
    Pinned: route == pruned-scan-join, files_read < files_total, and
    the aggregates the oracle recomputes from raw lineitem."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_nkp_"))
    cat = hs.catalog
    li = _t(spark, sf_dir, "lineitem")
    cat.create_table("nkpl", [("l_orderkey", "bigint"),
                              ("l_linenumber", "int"),
                              ("l_seq", "bigint"),
                              ("l_quantity", "double")],
                     ["l_orderkey", "l_linenumber"])
    writer.write_key_organized(
        spark, cat, "nkpl",
        li.select(F.col("l_orderkey").cast("bigint"),
                  F.col("l_linenumber").cast("int"),
                  (F.col("l_orderkey") * 10).cast("bigint")
                  .alias("l_seq"),
                  F.col("l_quantity").cast("double")), n_buckets=8)
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    b = (int(lo) + (int(hi) - int(lo)) // 4) * 10
    got = hs.sql(
        f"SELECT l.l_linenumber AS ln, count(*) AS n, "
        f"CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE) "
        f"AS sum_qty FROM nkpl l WHERE l.l_seq <= {b} "
        f"GROUP BY l.l_linenumber ORDER BY ln").collect()
    rr = dict(hs.last_select_route)
    ref = rr.get("tables", {}).get("l", {})
    routed = bool(rr.get("route") == "pruned-scan-join"
                  and ref.get("files_read", 99)
                  < ref.get("files_total", 0))
    return (spark.createDataFrame(
                [(int(r.ln), int(r.n), float(r.sum_qty)) for r in got],
                "ln: long, n: long, sum_qty: double")
            .withColumn("nonkey_pruned", F.lit(routed))
            .orderBy("ln"))


NONKEY_PRUNED_SQL = """
WITH b AS (SELECT (MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey))
                   // 4) * 10 AS b FROM lineitem)
SELECT CAST(l.l_linenumber AS BIGINT) AS ln, CAST(COUNT(*) AS BIGINT)
         AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE)
         AS sum_qty,
       TRUE AS nonkey_pruned
FROM lineitem l, b WHERE l.l_orderkey * 10 <= b.b
GROUP BY l.l_linenumber ORDER BY ln
"""

QUERIES["lineitem_nonkey_pruned_sql"] = (
    lineitem_nonkey_pruned_sql, NONKEY_PRUNED_SQL)
