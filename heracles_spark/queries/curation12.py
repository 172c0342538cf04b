"""Twelfth batch: round-12 features certified externally — file
pruning UNDER JOINS (the star-schema statement: each prunable table
reference swapped for its pruned file-list relation, pinned by
files_read < files_total on the fact side), the range-covered
metadata COUNT (fully-contained files answered from the index's row
counts, only boundary files scanned), and the filtered + scored
LATERAL batch ANN.

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


def lineitem_star_join_pruned_sql(spark, sf_dir):
    """Round-12 judge ask #1 certified: the star-schema statement —
    ``SELECT dims, aggs FROM fact JOIN dim ON ... WHERE fact.key
    BETWEEN a AND b GROUP BY dims`` — gets FILE-LEVEL pruning on the
    fact side: the fact reference is swapped for its pruned file-list
    relation (sql._prune_join_refs), the statement's own WHERE runs
    once, and only the files that MAY hold the key range are opened.
    Pinned: route == pruned-scan-join, fact files_read < files_total,
    and the aggregate values the oracle recomputes from raw
    lineitem ⋈ orders — a pruning bug that loses rows flips the
    hash."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_sjp_"))
    cat = hs.catalog
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cat.create_table("sjl", [("l_orderkey", "bigint"),
                             ("l_linenumber", "int"),
                             ("l_quantity", "double")],
                     ["l_orderkey", "l_linenumber"])
    writer.write_key_organized(
        spark, cat, "sjl",
        li.select(F.col("l_orderkey").cast("bigint"),
                  F.col("l_linenumber").cast("int"),
                  F.col("l_quantity").cast("double")), n_buckets=8)
    cat.create_table("sjo", [("o_orderkey", "bigint"),
                             ("o_orderpriority", "string")],
                     ["o_orderkey"])
    writer.write_key_organized(
        spark, cat, "sjo",
        o.select(F.col("o_orderkey").cast("bigint"),
                 "o_orderpriority"), n_buckets=4)
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    a = int(lo) + (int(hi) - int(lo)) // 4
    b = int(lo) + (int(hi) - int(lo)) // 2
    got = hs.sql(
        f"SELECT o.o_orderpriority AS pri, count(*) AS n, "
        f"CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE) "
        f"AS sum_qty FROM sjl l JOIN sjo o "
        f"ON l.l_orderkey = o.o_orderkey "
        f"WHERE l.l_orderkey BETWEEN {a} AND {b} "
        f"GROUP BY o.o_orderpriority ORDER BY pri").collect()
    rr = dict(hs.last_select_route)
    fact = rr.get("tables", {}).get("l", {})
    routed_pruned = bool(
        rr.get("route") == "pruned-scan-join"
        and fact.get("files_read", 99) < fact.get("files_total", 0))
    return (spark.createDataFrame(
                [(r.pri, int(r.n), float(r.sum_qty)) for r in got],
                "pri: string, n: long, sum_qty: double")
            .withColumn("star_join_pruned", F.lit(routed_pruned))
            .orderBy("pri"))


STAR_JOIN_PRUNED_SQL = """
WITH b AS (SELECT MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey))
                  // 4 AS a,
                  MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey))
                  // 2 AS b FROM lineitem)
SELECT o.o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE)
         AS sum_qty,
       TRUE AS star_join_pruned
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey, b
WHERE l.l_orderkey BETWEEN b.a AND b.b
GROUP BY o.o_orderpriority ORDER BY pri
"""

QUERIES["lineitem_star_join_pruned_sql"] = (lineitem_star_join_pruned_sql,
                                            STAR_JOIN_PRUNED_SQL)


def orders_range_metadata_count(spark, sf_dir):
    """Round-12 judge ask #5 certified: the range-covered metadata
    COUNT — ``SELECT COUNT(*) FROM t WHERE key BETWEEN a AND b``
    answers every file fully inside the range from the index's
    per-file row counts (``pruning.must_match`` over the min/max box)
    and scans only the boundary files. Pinned: route ==
    metadata-count-range, files_read < files_total, at least one
    fully-contained file, and the count the oracle recomputes from
    raw orders."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_rmc_"))
    cat = hs.catalog
    o = _t(spark, sf_dir, "orders")
    cat.create_table("rmco", [("o_orderkey", "bigint"),
                              ("o_totalprice", "double")], ["o_orderkey"])
    writer.write_key_organized(
        spark, cat, "rmco",
        o.select(F.col("o_orderkey").cast("bigint"),
                 F.col("o_totalprice").cast("double")), n_buckets=8)
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    a = int(lo) + (int(hi) - int(lo)) // 8
    b = int(lo) + 3 * (int(hi) - int(lo)) // 4
    n = int(hs.sql(f"SELECT COUNT(*) AS n FROM rmco "
                   f"WHERE o_orderkey BETWEEN {a} AND {b}").first().n)
    rr = dict(hs.last_select_route)
    routed = bool(rr.get("route") == "metadata-count-range"
                  and rr.get("files_read", 99) < rr.get("files_total", 0)
                  and rr.get("files_contained", 0) >= 1)
    return spark.createDataFrame(
        [(n, routed)], "n: long, range_meta_routed: boolean")


RANGE_META_COUNT_SQL = """
WITH b AS (SELECT MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey))
                  // 8 AS a,
                  MIN(o_orderkey) + 3 * (MAX(o_orderkey) - MIN(o_orderkey))
                  // 4 AS b FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n, TRUE AS range_meta_routed
FROM orders o, b WHERE o.o_orderkey BETWEEN b.a AND b.b
"""

QUERIES["orders_range_metadata_count"] = (orders_range_metadata_count,
                                          RANGE_META_COUNT_SQL)


def embedding_ann_lateral_filtered(spark, sf_dir):
    """Round-12 judge ask #3 certified: the FILTERED + SCORED LATERAL
    batch ANN — a WHERE inside the lateral subquery (plumbed into the
    batch probe's pred_sql + fresh-base re-check) and a projected
    distance column. Stock Spark rejects the statement outright; at
    FULL probe the routed filtered answer is exact, which the oracle
    recomputes per-dim in DuckDB under the same filter. Route +
    filtered + scored booleans and distance boundedness pinned; ids
    exact. (The boundedness check is ORDER-INDEPENDENT by design — a
    lateral statement without an outer ORDER BY guarantees no row
    order, and the fresh-base re-check join may legally reorder the
    collect output at larger scales — round-12 review fix.)"""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_anlf_"))
    cat = hs.catalog
    e = _t(spark, sf_dir, "embeddings")
    cat.create_table("anlf", [("vec_id", "bigint"),
                              ("embedding", "array<float>"),
                              ("label", "int")], ["vec_id"])
    writer.write_key_organized(
        spark, cat, "anlf",
        e.select(F.col("vec_id").cast("bigint"), "embedding",
                 F.col("label").cast("int")), n_buckets=4)
    cat.create_table("anlq", [("pid", "bigint"),
                              ("pvec", "array<float>")], ["pid"])
    writer.write_key_organized(
        spark, cat, "anlq",
        e.where(F.col("vec_id").isin(5, 23))
         .select((F.col("vec_id") + 2000).cast("bigint").alias("pid"),
                 F.col("embedding").alias("pvec")), n_buckets=1)
    hs.sql("CREATE VECTOR INDEX anlfv ON anlf (embedding) "
           "WITH (cells=16, sample=2048)")
    spark.conf.set("spark.sql.heracles.annProbe", "16")   # full = exact
    try:
        got = hs.sql(
            "SELECT q.pid, x.vec_id AS nn, x.d AS dist "
            "FROM anlq q, LATERAL ("
            "SELECT vec_id, cosine_distance(embedding, q.pvec) AS d "
            "FROM anlf WHERE label = 1 ORDER BY "
            "cosine_distance(embedding, q.pvec) LIMIT 5) x").collect()
        rr = dict(hs.last_select_route)
    finally:
        spark.conf.unset("spark.sql.heracles.annProbe")
    routed = bool(rr.get("route") == "vector-index-batch"
                  and rr.get("filtered") is True
                  and rr.get("scored") is True)
    bounded = all(0.0 <= float(r.dist) <= 2.0 for r in got)
    return (spark.createDataFrame(
                [(int(r.pid), int(r.nn)) for r in got],
                "pid: long, nn: long")
            .withColumn("batch_filtered_routed", F.lit(routed))
            .withColumn("dist_bounded", F.lit(bool(bounded)))
            .orderBy("pid", "nn"))


ANN_LATERAL_FILTERED_SQL = """
WITH p AS (SELECT vec_id + 2000 AS pid, embedding AS pv
           FROM embeddings WHERE vec_id IN (5, 23)),
 dots AS (
  SELECT p.pid, e.vec_id,
         SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE))
           AS dot,
         SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)
                  * CAST(e.embedding[i] AS DOUBLE))) AS ne,
         SQRT(SUM(CAST(p.pv[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE)))
           AS np
  FROM embeddings e, p, range(1, 65) t(i)
  WHERE e.label = 1
  GROUP BY p.pid, e.vec_id),
 ranked AS (
  SELECT pid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY pid
             ORDER BY ROUND(dot / (ne * np), 6) DESC, vec_id) AS rnk
  FROM dots)
SELECT CAST(pid AS BIGINT) AS pid, CAST(vec_id AS BIGINT) AS nn,
       TRUE AS batch_filtered_routed, TRUE AS dist_bounded
FROM ranked WHERE rnk <= 5 ORDER BY pid, nn
"""

QUERIES["embedding_ann_lateral_filtered"] = (embedding_ann_lateral_filtered,
                                             ANN_LATERAL_FILTERED_SQL)


def lineitem_fallback_pruned_sql(spark, sf_dir):
    """Round-12 second wave certified: a SINGLE-table statement the
    dedicated routers decline — here a WHERE mixing a routable key
    atom with an unroutable LIKE conjunct (the general router needs
    the WHOLE WHERE parseable) — still gets file-level pruning from
    its attributable conjunct via the tail rewriter
    (sql._prune_join_refs, now firing at >=1 reference). Pinned:
    route == pruned-scan-join, files_read < files_total on the
    reference, and the aggregates the oracle recomputes from raw
    lineitem — a pruning bug that loses rows flips the hash."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_fbp_"))
    cat = hs.catalog
    li = _t(spark, sf_dir, "lineitem")
    cat.create_table("fbl", [("l_orderkey", "bigint"),
                             ("l_linenumber", "int"),
                             ("l_returnflag", "string"),
                             ("l_quantity", "double")],
                     ["l_orderkey", "l_linenumber"])
    writer.write_key_organized(
        spark, cat, "fbl",
        li.select(F.col("l_orderkey").cast("bigint"),
                  F.col("l_linenumber").cast("int"),
                  "l_returnflag",
                  F.col("l_quantity").cast("double")), n_buckets=8)
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    b = int(lo) + (int(hi) - int(lo)) // 4
    got = hs.sql(
        f"SELECT l.l_returnflag AS rf, count(*) AS n, "
        f"CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE) "
        f"AS sum_qty FROM fbl l "
        f"WHERE l.l_orderkey <= {b} AND l.l_returnflag LIKE '%A%' "
        f"GROUP BY l.l_returnflag ORDER BY rf").collect()
    rr = dict(hs.last_select_route)
    ref = rr.get("tables", {}).get("l", {})
    routed = bool(rr.get("route") == "pruned-scan-join"
                  and ref.get("files_read", 99) < ref.get("files_total", 0))
    return (spark.createDataFrame(
                [(r.rf, int(r.n), float(r.sum_qty)) for r in got],
                "rf: string, n: long, sum_qty: double")
            .withColumn("fallback_pruned", F.lit(routed))
            .orderBy("rf"))


FALLBACK_PRUNED_SQL = """
WITH b AS (SELECT MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey))
                  // 4 AS b FROM lineitem)
SELECT l.l_returnflag AS rf, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE)
         AS sum_qty,
       TRUE AS fallback_pruned
FROM lineitem l, b
WHERE l.l_orderkey <= b.b AND l.l_returnflag LIKE '%A%'
GROUP BY l.l_returnflag ORDER BY rf
"""

QUERIES["lineitem_fallback_pruned_sql"] = (lineitem_fallback_pruned_sql,
                                           FALLBACK_PRUNED_SQL)


def lineitem_cte_pruned_sql(spark, sf_dir):
    """Round-12 third wave certified: file pruning INSIDE CTE bodies
    — the filter-inside-a-CTE spelling of the star-schema statement,
    ``WITH f AS (SELECT ... FROM fact WHERE fact.key BETWEEN a AND b)
    SELECT ... FROM f JOIN dim ...``, prunes the fact's file list
    inside the body (sql._prune_join_refs recursing per CTE body;
    audit namespaced <cte>.<qual>) even though the statement has NO
    top-level WHERE. Pinned: route == pruned-scan-join, namespaced
    files_read < files_total, and the aggregates the oracle
    recomputes from raw lineitem ⋈ orders."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_cte_"))
    cat = hs.catalog
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cat.create_table("ctl", [("l_orderkey", "bigint"),
                             ("l_linenumber", "int"),
                             ("l_quantity", "double")],
                     ["l_orderkey", "l_linenumber"])
    writer.write_key_organized(
        spark, cat, "ctl",
        li.select(F.col("l_orderkey").cast("bigint"),
                  F.col("l_linenumber").cast("int"),
                  F.col("l_quantity").cast("double")), n_buckets=8)
    cat.create_table("cto", [("o_orderkey", "bigint"),
                             ("o_orderpriority", "string")],
                     ["o_orderkey"])
    writer.write_key_organized(
        spark, cat, "cto",
        o.select(F.col("o_orderkey").cast("bigint"),
                 "o_orderpriority"), n_buckets=4)
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    a = int(lo) + (int(hi) - int(lo)) // 4
    b = int(lo) + (int(hi) - int(lo)) // 2
    got = hs.sql(
        f"WITH f AS (SELECT l_orderkey, l_quantity FROM ctl "
        f"WHERE ctl.l_orderkey BETWEEN {a} AND {b}) "
        f"SELECT o.o_orderpriority AS pri, count(*) AS n, "
        f"CAST(SUM(CAST(f.l_quantity AS DECIMAL(38,2))) AS DOUBLE) "
        f"AS sum_qty FROM f JOIN cto o ON f.l_orderkey = o.o_orderkey "
        f"GROUP BY o.o_orderpriority ORDER BY pri").collect()
    rr = dict(hs.last_select_route)
    fact = rr.get("tables", {}).get("f.ctl", {})
    routed = bool(
        rr.get("route") == "pruned-scan-join"
        and fact.get("files_read", 99) < fact.get("files_total", 0))
    return (spark.createDataFrame(
                [(r.pri, int(r.n), float(r.sum_qty)) for r in got],
                "pri: string, n: long, sum_qty: double")
            .withColumn("cte_body_pruned", F.lit(routed))
            .orderBy("pri"))


CTE_PRUNED_SQL = """
WITH b AS (SELECT MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey))
                  // 4 AS a,
                  MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey))
                  // 2 AS b FROM lineitem)
SELECT o.o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE)
         AS sum_qty,
       TRUE AS cte_body_pruned
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey, b
WHERE l.l_orderkey BETWEEN b.a AND b.b
GROUP BY o.o_orderpriority ORDER BY pri
"""

QUERIES["lineitem_cte_pruned_sql"] = (lineitem_cte_pruned_sql,
                                      CTE_PRUNED_SQL)


def customer_subquery_pruned_sql(spark, sf_dir):
    """Round-12 fourth wave certified: file pruning inside SUBQUERY
    blocks — an IN-subquery whose inner table carries a key-range
    atom prunes the inner file list (sql._subquery_block_spans +
    recursion; audit namespaced sub<k>.<qual>), while the outer
    conjunct (the IN itself) correctly stays unattributed. Pinned:
    route == pruned-scan-join, inner files_read < files_total, and
    the per-segment counts the oracle recomputes from raw
    customer ⋈ orders."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_sqp_"))
    cat = hs.catalog
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cat.create_table("sqo", [("o_orderkey", "bigint"),
                             ("o_custkey", "bigint")], ["o_orderkey"])
    writer.write_key_organized(
        spark, cat, "sqo",
        o.select(F.col("o_orderkey").cast("bigint"),
                 F.col("o_custkey").cast("bigint")), n_buckets=8)
    cat.create_table("sqc", [("c_custkey", "bigint"),
                             ("c_mktsegment", "string")], ["c_custkey"])
    writer.write_key_organized(
        spark, cat, "sqc",
        c.select(F.col("c_custkey").cast("bigint"),
                 "c_mktsegment"), n_buckets=4)
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    a = int(lo) + (int(hi) - int(lo)) // 8
    b = int(lo) + (int(hi) - int(lo)) // 2
    got = hs.sql(
        f"SELECT c.c_mktsegment AS seg, count(*) AS n FROM sqc c "
        f"WHERE c.c_custkey IN (SELECT o_custkey FROM sqo "
        f"WHERE sqo.o_orderkey BETWEEN {a} AND {b}) "
        f"GROUP BY c.c_mktsegment ORDER BY seg").collect()
    rr = dict(hs.last_select_route)
    inner = next((v for q, v in rr.get("tables", {}).items()
                  if q.endswith(".sqo")), {})
    routed = bool(
        rr.get("route") == "pruned-scan-join"
        and inner.get("files_read", 99) < inner.get("files_total", 0))
    return (spark.createDataFrame(
                [(r.seg, int(r.n)) for r in got], "seg: string, n: long")
            .withColumn("subquery_pruned", F.lit(routed))
            .orderBy("seg"))


SUBQUERY_PRUNED_SQL = """
WITH b AS (SELECT MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey))
                  // 8 AS a,
                  MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey))
                  // 2 AS b FROM orders)
SELECT c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS subquery_pruned
FROM customer c, b
WHERE c.c_custkey IN (SELECT o_custkey FROM orders o
                      WHERE o.o_orderkey BETWEEN b.a AND b.b)
GROUP BY c.c_mktsegment ORDER BY seg
"""

QUERIES["customer_subquery_pruned_sql"] = (customer_subquery_pruned_sql,
                                           SUBQUERY_PRUNED_SQL)


def lineitem_union_pruned_sql(spark, sf_dir):
    """Round-12 fifth wave certified: each branch of a top-level SET
    OPERATION prunes independently — the time-shard union shape,
    ``SELECT ... WHERE key < a UNION ALL SELECT ... WHERE key > b``
    (sql._set_op_branch_spans + per-branch recursion; audit
    namespaced u<k>.<qual>). Pinned: route == pruned-scan-join, BOTH
    branch entries with files_read < files_total, and the per-branch
    aggregates the oracle recomputes from raw lineitem."""
    from heracles_spark import writer
    from heracles_spark.session import HeraclesSession

    hs = HeraclesSession(spark, tempfile.mkdtemp(prefix="heracles_unp_"))
    cat = hs.catalog
    li = _t(spark, sf_dir, "lineitem")
    cat.create_table("unl", [("l_orderkey", "bigint"),
                             ("l_linenumber", "int"),
                             ("l_quantity", "double")],
                     ["l_orderkey", "l_linenumber"])
    writer.write_key_organized(
        spark, cat, "unl",
        li.select(F.col("l_orderkey").cast("bigint"),
                  F.col("l_linenumber").cast("int"),
                  F.col("l_quantity").cast("double")), n_buckets=8)
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    a = int(lo) + (int(hi) - int(lo)) // 8
    b = int(lo) + 7 * (int(hi) - int(lo)) // 8
    got = hs.sql(
        f"SELECT 'lo' AS part, count(*) AS n, "
        f"CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) "
        f"AS sum_qty FROM unl WHERE unl.l_orderkey < {a} "
        f"UNION ALL "
        f"SELECT 'hi' AS part, count(*) AS n, "
        f"CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) "
        f"AS sum_qty FROM unl WHERE unl.l_orderkey > {b}").collect()
    rr = dict(hs.last_select_route)
    t = rr.get("tables", {})
    routed = bool(
        rr.get("route") == "pruned-scan-join"
        and all(t.get(q, {}).get("files_read", 99)
                < t.get(q, {}).get("files_total", 0)
                for q in ("u0.unl", "u1.unl")))
    return (spark.createDataFrame(
                [(r.part, int(r.n), float(r.sum_qty)) for r in got],
                "part: string, n: long, sum_qty: double")
            .withColumn("union_branch_pruned", F.lit(routed))
            .orderBy("part"))


UNION_PRUNED_SQL = """
WITH b AS (SELECT MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey))
                  // 8 AS a,
                  MIN(l_orderkey) + 7 * (MAX(l_orderkey) - MIN(l_orderkey))
                  // 8 AS b FROM lineitem)
SELECT * FROM (
  SELECT 'lo' AS part, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
           AS sum_qty,
         TRUE AS union_branch_pruned
  FROM lineitem, b WHERE l_orderkey < b.a
  UNION ALL
  SELECT 'hi' AS part, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
           AS sum_qty,
         TRUE AS union_branch_pruned
  FROM lineitem, b WHERE l_orderkey > b.b
) ORDER BY part
"""

QUERIES["lineitem_union_pruned_sql"] = (lineitem_union_pruned_sql,
                                        UNION_PRUNED_SQL)
