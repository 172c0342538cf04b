"""The reference's first-milestone flow, end to end (SURVEY §7.2.4):
CREATE store_sales with composite key → LOAD CSV (with NULLs) → point
query on the full key → pushdown visible in the plan → IS-NULL matrix
semantics (HBaseTpcMiniTestSuite.scala:113-119,299-339)."""

from __future__ import annotations

import pytest

from heracles_spark.plans import pushed_filters
from heracles_spark.pruning import scan

STORE_SALES_DDL = """CREATE TABLE store_sales (
  ss_sold_date_sk INTEGER, ss_item_sk INTEGER, ss_customer_sk INTEGER,
  ss_ticket_number INTEGER, ss_quantity INTEGER,
  ss_wholesale_cost FLOAT, ss_list_price FLOAT, ss_net_profit FLOAT)
TBLPROPERTIES('hbaseTableName'='store_sales_htable',
              'keyCols'='ss_item_sk;ss_ticket_number',
              'nonKeyCols'='ss_sold_date_sk,f,d;ss_customer_sk,f,c;ss_quantity,f,q;ss_wholesale_cost,f,w;ss_list_price,f,l;ss_net_profit,f,p',
              'encodingFormat'='binaryformat')"""

# ss_sold_date_sk, ss_item_sk, ss_customer_sk, ss_ticket_number,
# ss_quantity, ss_wholesale_cost, ss_list_price, ss_net_profit
CSV = """2450829,2744,100,1,25,31.84,51.26,-200.25
2450829,4599,101,1,20,17.39,21.41,-300.12
,2744,102,2,10,,15.00,50.00
2450830,9275,103,2,,12.00,,
"""


@pytest.fixture()
def store_sales(hsession, tmp_path):
    f = tmp_path / "store_sales.txt"
    f.write_text(CSV)
    hsession.sql(STORE_SALES_DDL)
    hsession.sql(f"LOAD DATA LOCAL INPATH '{f}' INTO TABLE store_sales")
    return hsession


def test_point_query_on_full_key(store_sales):
    """Reference answer shape at HBaseTpcMiniTestSuite.scala:113-119."""
    rows = store_sales.sql(
        "SELECT ss_quantity, ss_wholesale_cost, ss_list_price "
        "FROM store_sales WHERE ss_item_sk = 2744 AND ss_ticket_number = 1"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["ss_quantity"] == 25
    assert abs(r["ss_wholesale_cost"] - 31.84) < 1e-5
    assert abs(r["ss_list_price"] - 51.26) < 1e-5


def test_point_query_pushdown_visible(store_sales, monkeypatch):
    """Above the point-get bound the point query is a parquet scan with
    the key equalities pushed to it. (Below it, the rows are read on
    the driver: see test_point_query_is_point_get.)"""
    from heracles_spark import pruning

    monkeypatch.setattr(pruning, "LOCAL_SCAN_ROWS", 0)
    df = store_sales.sql(
        "SELECT ss_quantity FROM store_sales "
        "WHERE ss_item_sk = 2744 AND ss_ticket_number = 1")
    assert store_sales.last_select_route["scan"] == "spark"
    pf = pushed_filters(df)
    assert any("EqualTo(ss_item_sk,2744)" in f for f in pf)
    assert any("EqualTo(ss_ticket_number,1)" in f for f in pf)


def test_point_query_is_point_get(store_sales):
    """≙ the reference's point-get conversion (HBaseSQLReaderRDD.scala:
    276-328): a full-key point on a small table reads its row on the
    driver and plans as a local table scan, no parquet scan."""
    from heracles_spark.plans import plan_node_names

    df = store_sales.sql(
        "SELECT ss_quantity FROM store_sales "
        "WHERE ss_item_sk = 2744 AND ss_ticket_number = 1")
    assert store_sales.last_select_route["scan"] == "local"
    assert store_sales.last_select_route["local_rows"] == 1
    nodes = plan_node_names(df._jdf.queryExecution().executedPlan())
    assert "LocalTableScanExec" in nodes and "FileSourceScanExec" not in nodes
    assert [r.ss_quantity for r in df.collect()] == [25]


def test_is_null_matrix(store_sales):
    """Null ⟺ absent cell semantics (HBaseRelation.scala:902-903;
    IS NULL matrix HBaseTpcMiniTestSuite.scala:299-339)."""
    s = store_sales
    q = lambda sql: s.sql(sql).collect()[0][0]
    assert q("SELECT count(*) FROM store_sales WHERE ss_sold_date_sk IS NULL") == 1
    assert q("SELECT count(*) FROM store_sales WHERE ss_quantity IS NULL") == 1
    assert q("SELECT count(*) FROM store_sales "
             "WHERE ss_list_price IS NULL AND ss_net_profit IS NULL") == 1
    assert q("SELECT count(*) FROM store_sales "
             "WHERE ss_wholesale_cost IS NULL AND ss_list_price IS NOT NULL") == 1
    assert q("SELECT count(*) FROM store_sales "
             "WHERE ss_sold_date_sk IS NULL OR ss_quantity IS NULL") == 2
    # key columns are never null
    assert q("SELECT count(*) FROM store_sales WHERE ss_item_sk IS NULL") == 0
    # count(col) skips nulls, count(*) doesn't (≙ null-aware counts)
    assert q("SELECT count(ss_quantity) FROM store_sales") == 3
    assert q("SELECT count(*) FROM store_sales") == 4


def test_pruned_scan_equals_full_scan(store_sales):
    got = scan(store_sales.spark, store_sales.catalog, "store_sales",
               ("and", ("=", "ss_item_sk", 2744),
                ("=", "ss_ticket_number", 2))).collect()
    assert len(got) == 1 and got[0]["ss_customer_sk"] == 102


def test_aggregate_on_key_prefix(store_sales):
    rows = store_sales.sql(
        "SELECT ss_item_sk, count(*) AS cnt, sum(ss_quantity) AS q "
        "FROM store_sales GROUP BY ss_item_sk ORDER BY ss_item_sk").collect()
    assert [(r["ss_item_sk"], r["cnt"]) for r in rows] == \
        [(2744, 2), (4599, 1), (9275, 1)]


def test_sources_module(spark, tmp_path):
    from pyspark.sql import types as T

    from heracles_spark.sources import csv_source, json_source

    schema = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
    (tmp_path / "x.csv").write_text("1,hi\n2,\n")
    rows = csv_source(spark, str(tmp_path / "x.csv"), schema).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "hi"), (2, None)]

    (tmp_path / "x.jsonl").write_text('{"a": 3, "b": "x"}\n{"a": 4}\n')
    rows = json_source(spark, str(tmp_path / "x.jsonl"), schema).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(3, "x"), (4, None)]
