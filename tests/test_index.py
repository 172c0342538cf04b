"""Secondary index projections: pruned lookups on non-key columns
(heracles_spark/index.py — the columnar answer to the reference's
server-side seek-hint skip-scan, HBaseCustomFilter.scala:43-658)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from heracles_spark import index as ix
from heracles_spark import writer


def _mk(spark, catalog, n=800, buckets=8):
    """8-file table keyed on k; v is DECOUPLED from k (v = k*37 % n) so
    key-range boxes are useless for v predicates — the situation a
    secondary index exists for."""
    catalog.create_table("base", [("k", "int"), ("v", "int"),
                                  ("payload", "string")], ["k"])
    df = spark.range(n).selectExpr(
        "CAST(id AS INT) k",
        f"CAST(id * 37 % {n} AS INT) v",
        "CONCAT('p', id) payload")
    writer.write_key_organized(spark, catalog, "base", df,
                               n_buckets=buckets)


def test_create_probe_point(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    got = ix.indexed_lookup(spark, catalog, "base", ("=", "v", 37)).collect()
    assert [(r.k, r.v) for r in got] == [(1, 37)]
    st = ix.LAST_INDEX_STATS
    assert st["mode"] == "index"
    assert st["base_files_read"] == 1          # one pointer → one file
    assert st["index_files_read"] <= 2


def test_stats_reset_between_lookups(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    ix.indexed_lookup(spark, catalog, "base", ("=", "v", 37)).collect()
    assert "pointers" in ix.LAST_INDEX_STATS
    # A direct-fallback lookup must not inherit the prior call's
    # index-mode counters (no-index on column k → direct).
    ix.indexed_lookup(spark, catalog, "base", ("isnull", "v"))
    st = ix.LAST_INDEX_STATS
    assert st["mode"] == "direct"
    assert "pointers" not in st and "index_files_read" not in st


def test_probe_range_matches_full_scan(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    pred = ("between", "v", 100, 140)
    got = sorted((r.k, r.v) for r in
                 ix.indexed_lookup(spark, catalog, "base", pred).collect())
    want = sorted((r.k, r.v) for r in
                  catalog.read_table(spark, "base")
                  .where("v BETWEEN 100 AND 140").collect())
    assert got == want and len(got) == 41
    assert ix.LAST_INDEX_STATS["mode"] == "index"


def test_stale_index_falls_back_and_refresh_restores(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    writer.insert_rows(spark, catalog, "base", "(9001, 77, 'new')")
    got = sorted((r.k, r.v) for r in
                 ix.indexed_lookup(spark, catalog, "base",
                                   ("=", "v", 77)).collect())
    # stale → direct scan, but STILL CORRECT (sees the new row)
    assert ix.LAST_INDEX_STATS["mode"] == "direct"
    assert ix.LAST_INDEX_STATS["reason"] == "stale-index"
    assert (9001, 77) in got
    st = ix.refresh_index(spark, catalog, "base", "v")
    assert st["refreshed"]
    got2 = sorted((r.k, r.v) for r in
                  ix.indexed_lookup(spark, catalog, "base",
                                    ("=", "v", 77)).collect())
    assert got2 == got
    assert ix.LAST_INDEX_STATS["mode"] == "index"


def test_isnull_predicate_goes_direct(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    ix.indexed_lookup(spark, catalog, "base", ("isnull", "v")).collect()
    assert ix.LAST_INDEX_STATS["reason"] == "isnull-predicate"


def test_unselective_predicate_hits_pointer_cap(spark, catalog, monkeypatch):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    monkeypatch.setattr(ix, "POINTER_CAP", 10)
    got = ix.indexed_lookup(spark, catalog, "base",
                            ("between", "v", 0, 500)).collect()
    assert ix.LAST_INDEX_STATS["reason"] == "pointer-cap"
    assert len(got) == 501


def test_key_column_rejected_and_drop(spark, catalog):
    _mk(spark, catalog)
    with pytest.raises(ValueError, match="already a key column"):
        ix.create_index(spark, catalog, "base", "k")
    ix.create_index(spark, catalog, "base", "v", name="vi")
    assert catalog.table_exists("base__idx_vi")
    ix.drop_index(catalog, "base", "vi")
    assert not catalog.table_exists("base__idx_vi")
    # falls back cleanly once dropped
    ix.indexed_lookup(spark, catalog, "base", ("=", "v", 37)).collect()
    assert ix.LAST_INDEX_STATS["reason"] == "no-index"


def test_sql_surface(hsession, spark, catalog):
    _mk(spark, catalog)
    catalog.read_table(spark, "base").createOrReplaceTempView(
        catalog.view_name("base"))
    hsession.sql("CREATE INDEX vi ON base (v)")
    assert catalog.table_exists("base__idx_vi")
    out = hsession.sql("REFRESH INDEX vi ON base").collect()[0]
    assert out.refreshed is False              # fresh right after build
    hsession.sql("DROP INDEX vi ON base")
    assert not catalog.table_exists("base__idx_vi")


def test_incremental_refresh_appends_only_new_files(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    n_idx_files_before = len(catalog.get_table("base__idx_v").files)
    writer.insert_rows(spark, catalog, "base",
                       "(9001, 123456, 'x'), (9002, 123457, 'y')")
    st = ix.refresh_index(spark, catalog, "base", "v")
    assert st["mode"] == "incremental"
    # appended exactly one new index file; old index files untouched
    assert len(catalog.get_table("base__idx_v").files) == \
        n_idx_files_before + 1
    got = [(r.k, r.v) for r in
           ix.indexed_lookup(spark, catalog, "base",
                             ("=", "v", 123456)).collect()]
    assert got == [(9001, 123456)]
    assert ix.LAST_INDEX_STATS["mode"] == "index"


def test_rewrite_triggers_full_rebuild(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v")
    writer.optimize_table(spark, catalog, "base")   # rewrites every file
    st = ix.refresh_index(spark, catalog, "base", "v")
    assert st["mode"] == "rebuild"
    got = [(r.k, r.v) for r in
           ix.indexed_lookup(spark, catalog, "base",
                             ("=", "v", 37)).collect()]
    assert got == [(1, 37)]
    assert ix.LAST_INDEX_STATS["mode"] == "index"


def test_show_indexes(hsession, spark, catalog):
    _mk(spark, catalog)
    catalog.read_table(spark, "base").createOrReplaceTempView(
        catalog.view_name("base"))
    hsession.sql("CREATE INDEX vi ON base (v)")
    rows = hsession.sql("SHOW INDEXES ON base").collect()
    assert [(r.index_name, r.column, r.fresh) for r in rows] == \
        [("vi", "v", True)]
    writer.insert_rows(spark, catalog, "base", "(9001, 5, 'z')")
    rows = hsession.sql("SHOW INDEXES ON base").collect()
    assert rows[0].fresh is False


def test_covering_index_index_only_scan(hsession, spark, catalog):
    _mk(spark, catalog)
    catalog.read_table(spark, "base").createOrReplaceTempView(
        catalog.view_name("base"))
    hsession.sql("CREATE INDEX vp ON base (v) INCLUDE (payload)")
    got = ix.indexed_lookup(spark, catalog, "base", ("=", "v", 37),
                            columns=["k", "v", "payload"]).collect()
    assert [(r.k, r.v, r.payload) for r in got] == [(1, 37, "p1")]
    assert ix.LAST_INDEX_STATS["mode"] == "index-only"
    assert ix.LAST_INDEX_STATS["base_files_read"] == 0
    # projection NOT covered -> normal pointer path, still correct
    got2 = ix.indexed_lookup(spark, catalog, "base", ("=", "v", 37),
                             columns=None).collect()
    assert ix.LAST_INDEX_STATS["mode"] == "index"
    assert [(r.k, r.v, r.payload) for r in got2] == [(1, 37, "p1")]


def test_covering_index_survives_rebuild(spark, catalog):
    _mk(spark, catalog)
    ix.create_index(spark, catalog, "base", "v", name="vp",
                    include=["payload"])
    writer.optimize_table(spark, catalog, "base")
    st = ix.refresh_index(spark, catalog, "base", "vp")
    assert st["mode"] == "rebuild"
    got = ix.indexed_lookup(spark, catalog, "base", ("=", "v", 37),
                            columns=["payload"]).collect()
    assert [r.payload for r in got] == ["p1"]
    assert ix.LAST_INDEX_STATS["mode"] == "index-only"


def test_stream_ingest_keeps_index_fresh(spark, catalog, tmp_path):
    from heracles_spark.streaming import ingest

    catalog.create_table("sev", [("k", "int"), ("v", "int")], ["k"])
    from heracles_spark import writer as w
    w.write_key_organized(
        spark, catalog, "sev",
        spark.range(100).selectExpr("CAST(id AS INT) k",
                                    "CAST(id * 7 % 100 AS INT) v"))
    ix.create_index(spark, catalog, "sev", "v")
    src = tmp_path / "sev_src"
    src.mkdir()
    spark.createDataFrame([(900, 41), (901, 52)], "k int, v int") \
         .coalesce(1).write.parquet(str(src / "b1"))
    q = ingest.stream_into_table(
        spark, catalog, "sev", str(src / "*"),
        checkpoint_dir=str(tmp_path / "ckpt_ix"), available_now=True,
        refresh_indexes=["v"])
    q.awaitTermination(180)
    got = sorted((r.k, r.v) for r in
                 ix.indexed_lookup(spark, catalog, "sev",
                                   ("=", "v", 41)).collect())
    assert (900, 41) in got
    assert ix.LAST_INDEX_STATS["mode"] == "index"   # fresh, no fallback


def test_composite_index(spark, catalog):
    """Composite (v, payload-prefix) index: prefix predicate prunes on
    the leading column; a second-column predicate still answers
    correctly through the residual."""
    catalog.create_table("comp", [("k", "int"), ("a", "int"),
                                  ("b", "int")], ["k"])
    df = spark.range(400).selectExpr(
        "CAST(id AS INT) k", "CAST(id % 20 AS INT) a",
        "CAST(id % 7 AS INT) b")
    writer.write_key_organized(spark, catalog, "comp", df, n_buckets=4)
    ix.create_index(spark, catalog, "comp", ["a", "b"], name="ab")
    got = sorted((r.k, r.a, r.b) for r in
                 ix.indexed_lookup(spark, catalog, "comp",
                                   ("=", "a", 5), name="ab").collect())
    want = sorted((r.k, r.a, r.b) for r in
                  catalog.read_table(spark, "comp")
                  .where("a = 5").collect())
    assert got == want and len(got) == 20
    assert ix.LAST_INDEX_STATS["mode"] == "index"
    # second-column predicate: matched via cols list, correct answer
    got_b = sorted(r.k for r in
                   ix.indexed_lookup(spark, catalog, "comp",
                                     ("=", "b", 3)).collect())
    want_b = sorted(r.k for r in catalog.read_table(spark, "comp")
                    .where("b = 3").collect())
    assert got_b == want_b
    # composite index survives an incremental refresh
    writer.insert_rows(spark, catalog, "comp", "(900, 5, 6)")
    st = ix.refresh_index(spark, catalog, "comp", "ab")
    assert st["mode"] == "incremental"
    got2 = {r.k for r in ix.indexed_lookup(spark, catalog, "comp",
                                           ("=", "a", 5), name="ab")
            .collect()}
    assert 900 in got2
