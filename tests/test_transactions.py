"""Multi-table atomic transactions (catalog.Transaction).

The reference has no cross-table atomicity (HBase commits per-row); the
rebuild generalizes its own per-table atomic commit (one os.replace of
the table JSON) to N tables via a journal: COMMIT publishes one journal
file atomically, then applies per-table saves; recovery replays any
surviving journal. All-or-nothing at every crash point.
"""
from __future__ import annotations

import json
import os

import pytest

from heracles_spark import writer
from heracles_spark.catalog import CatalogError, HeraclesCatalog


def _mk(catalog, name):
    catalog.create_table(name, [("k", "int"), ("v", "int")], ["k"])


def _write(spark, catalog, name, rows):
    df = spark.createDataFrame(rows, "k int, v int")
    writer.write_key_organized(spark, catalog, name, df, n_buckets=1)


def test_two_table_commit_is_atomic(spark, catalog):
    _mk(catalog, "a")
    _mk(catalog, "b")
    with catalog.transaction():
        _write(spark, catalog, "a", [(1, 1)])
        _write(spark, catalog, "b", [(2, 2)])
        # Another catalog instance (≙ another process) sees NEITHER
        # write before COMMIT.
        other = HeraclesCatalog(catalog.metastore_dir)
        assert other.get_table("a").version == 0
        assert other.get_table("b").version == 0
        # The owning session reads its own writes.
        assert catalog.read_table(spark, "a").count() == 1
    other = HeraclesCatalog(catalog.metastore_dir)
    assert other.get_table("a").version == 1
    assert other.get_table("b").version == 1
    assert other.read_table(spark, "b").collect()[0].v == 2


def test_rollback_restores_committed_state(spark, catalog):
    _mk(catalog, "a")
    _write(spark, catalog, "a", [(1, 1)])
    with pytest.raises(RuntimeError):
        with catalog.transaction():
            _write(spark, catalog, "a", [(9, 9)])
            assert catalog.get_table("a").version == 2  # read-your-writes
            raise RuntimeError("abort")
    assert catalog.get_table("a").version == 1
    assert catalog.read_table(spark, "a").count() == 1
    # The aborted write's staged files are unreferenced; VACUUM reclaims
    # them without touching live data.
    writer.vacuum_table(catalog, "a", retain_versions=1)
    assert catalog.read_table(spark, "a").count() == 1


def test_journal_recovery_applies_all_tables(spark, catalog):
    """Crash AFTER the journal publish but BEFORE the per-table saves:
    a fresh catalog replays the journal and both tables land."""
    _mk(catalog, "a")
    _mk(catalog, "b")
    txn = catalog.begin_transaction()
    _write(spark, catalog, "a", [(1, 1)])
    _write(spark, catalog, "b", [(2, 2)])
    os.makedirs(catalog.txns_dir, exist_ok=True)
    journal = os.path.join(catalog.txns_dir, f"{txn.txn_id}.json")
    with open(journal, "w") as f:
        json.dump({"tables": {n: t.to_json()
                              for n, t in txn.working.items()}},
                  f, default=str)
    catalog.rollback_transaction()       # simulate the crash: no saves
    fresh = HeraclesCatalog(catalog.metastore_dir)
    assert fresh.get_table("a").version == 1
    assert fresh.get_table("b").version == 1
    assert not os.path.exists(journal)
    assert fresh.read_table(spark, "a").count() == 1


def test_precommit_tmp_journal_is_discarded(spark, catalog):
    """Crash BEFORE the journal publish (tmp file only): recovery
    discards it and no table changes."""
    _mk(catalog, "a")
    os.makedirs(catalog.txns_dir, exist_ok=True)
    tmp = os.path.join(catalog.txns_dir, "dead.json.tmp")
    with open(tmp, "w") as f:
        f.write("{\"partial")
    fresh = HeraclesCatalog(catalog.metastore_dir)
    assert not os.path.exists(tmp)
    assert fresh.get_table("a").version == 0


def test_no_nesting_and_no_stray_commits(catalog):
    catalog.begin_transaction()
    with pytest.raises(CatalogError, match="already open"):
        catalog.begin_transaction()
    catalog.rollback_transaction()
    with pytest.raises(CatalogError, match="no open"):
        catalog.commit_transaction()
    with pytest.raises(CatalogError, match="no open"):
        catalog.rollback_transaction()


def test_empty_transaction_commit_is_noop(catalog):
    catalog.begin_transaction()
    assert catalog.commit_transaction() == []


def test_sql_surface_begin_commit_rollback(hsession, spark, catalog):
    hsession.sql("CREATE TABLE ta (k INT, v INT) "
                 "TBLPROPERTIES('keyCols'='k')")
    hsession.sql("CREATE TABLE tb (k INT, v INT) "
                 "TBLPROPERTIES('keyCols'='k')")
    hsession.sql("BEGIN TRANSACTION")
    hsession.sql("INSERT INTO ta VALUES (1, 10)")
    hsession.sql("INSERT INTO tb VALUES (2, 20)")
    other = HeraclesCatalog(catalog.metastore_dir)
    assert other.get_table("ta").version == 0
    hsession.sql("COMMIT")
    assert spark.sql("SELECT count(*) n FROM ta").first().n == 1
    other = HeraclesCatalog(catalog.metastore_dir)
    assert other.get_table("tb").version == 1

    hsession.sql("BEGIN")
    hsession.sql("INSERT INTO ta VALUES (3, 30)")
    hsession.sql("ROLLBACK")
    assert catalog.get_table("ta").version == 1
    assert spark.sql("SELECT count(*) n FROM ta").first().n == 1


def test_merge_and_rollup_refresh_commit_together(hsession, spark, catalog):
    """The motivating case: keep a fact table and its rollup consistent —
    either both the MERGE and the REFRESH land, or neither."""
    from heracles_spark import rollup

    hsession.sql("CREATE TABLE fact (k INT, grp STRING, v INT) "
                 "TBLPROPERTIES('keyCols'='k')")
    df = spark.createDataFrame([(i, f"g{i % 2}", i) for i in range(10)],
                               "k int, grp string, v int")
    writer.write_key_organized(spark, catalog, "fact", df, n_buckets=1)
    rollup.create_rollup(spark, catalog, "fact_r", "fact", ["grp"],
                         {"sv": ("sum", "v")})
    with catalog.transaction():
        rollup.refresh_rollup(spark, catalog, "fact_r")
        other = HeraclesCatalog(catalog.metastore_dir)
        assert other.get_table("fact_r").version == 0
    got = {r.grp: r.sv for r in
           catalog.read_table(spark, "fact_r").collect()}
    assert got == {"g0": 20, "g1": 25}
    # And the processed-file tracking committed with it (idempotence).
    st = rollup.refresh_rollup(spark, catalog, "fact_r")
    assert st["mode"] == "noop"


def test_write_audit_publish(spark, catalog):
    """WAP: a batch that fails its audits is rolled back (metadata-only
    restore — readers see the pre-write rows); a clean batch publishes
    and bumps the version."""
    from heracles_spark import writer

    catalog.create_table("wap", [("k", "int"), ("v", "double")], ["k"])
    writer.insert_rows(spark, catalog, "wap", "(1, 10.0), (2, 20.0)")
    audits = [
        ("no_negative_values",
         "(SELECT count(*) FROM t WHERE v < 0) = 0"),
        ("row_growth_bounded",
         "(SELECT count(*) FROM t) <= 2 * (SELECT count(*) FROM t_before)"),
    ]

    bad = spark.createDataFrame([(3, -5.0)], "k int, v double")
    st = writer.write_audit_publish(spark, catalog, "wap", bad, audits)
    assert st["published"] is False
    assert st["failed"] == ["no_negative_values"]
    rows = sorted((r.k, r.v) for r in
                  catalog.read_table(spark, "wap").collect())
    assert rows == [(1, 10.0), (2, 20.0)]      # rolled back

    good = spark.createDataFrame([(3, 5.0)], "k int, v double")
    st = writer.write_audit_publish(spark, catalog, "wap", good, audits)
    assert st["published"] is True and not st["failed"]
    assert st["rows_after"] == 3
    rows = sorted(r.k for r in catalog.read_table(spark, "wap").collect())
    assert rows == [1, 2, 3]

    # audit catching over-growth: 10 rows > 2x current 3
    flood = spark.createDataFrame([(10 + i, 1.0) for i in range(10)],
                                  "k int, v double")
    st = writer.write_audit_publish(spark, catalog, "wap", flood, audits)
    assert st["published"] is False
    assert st["failed"] == ["row_growth_bounded"]
    assert catalog.read_table(spark, "wap").count() == 3
    # the reported version is the one readers ACTUALLY see: the new
    # version the restore committed (content == pre-write), and the
    # restore target is reported separately (round-8 advisor fix)
    assert st["version"] == catalog.get_table("wap").version
    assert st["version"] > st["restored_to"]


def test_write_audit_publish_view_hygiene(spark, catalog):
    """Round-8 advisor fix: WAP must not clobber a user temp view
    named 't'/'t_before', must clean its own views up, and two audited
    writes to different tables in one session must not collide."""
    from heracles_spark import writer

    spark.range(7).createOrReplaceTempView("t")        # user's view
    catalog.create_table("wapa", [("k", "int")], ["k"])
    catalog.create_table("wapb", [("k", "int")], ["k"])
    ok = [("nonempty", "(SELECT count(*) FROM t) >= 1")]
    sta = writer.write_audit_publish(
        spark, catalog, "wapa",
        spark.createDataFrame([(1,)], "k int"), ok)
    stb = writer.write_audit_publish(
        spark, catalog, "wapb",
        spark.createDataFrame([(2,), (3,)], "k int"), ok)
    assert sta["published"] and stb["published"]
    assert sta["rows_after"] == 1 and stb["rows_after"] == 2
    # the user's view survived untouched, the WAP views are gone
    assert spark.table("t").count() == 7
    assert not [v.name for v in spark.catalog.listTables()
                if v.name.startswith("__wap_")]
    spark.catalog.dropTempView("t")


def test_commit_conflicts_with_foreign_commit(spark, catalog):
    """OCC at transaction scope (round-11 advisor fix): a foreign
    session's commit landing after a table was buffered inside an open
    transaction must fail the transaction COMMIT — never be silently
    overwritten by the journal apply."""
    _mk(catalog, "a")
    _write(spark, catalog, "a", [(1, 1)])
    catalog.begin_transaction()
    _write(spark, catalog, "a", [(2, 2)])       # buffered at base v1
    foreign = HeraclesCatalog(catalog.metastore_dir)
    _write(spark, foreign, "a", [(9, 9)])       # lands v2 on disk
    with pytest.raises(CatalogError, match="write conflict"):
        catalog.commit_transaction()
    # The foreign commit survives; the txn published nothing.
    fresh = HeraclesCatalog(catalog.metastore_dir)
    assert fresh.get_table("a").version == 2
    vals = {r.v for r in fresh.read_table(spark, "a").collect()}
    assert vals == {1, 9}
    # No journal and no leaked version markers block later commits.
    assert not [f for f in os.listdir(catalog.txns_dir)
                if f.endswith(".json")] \
        if os.path.isdir(catalog.txns_dir) else True
    _write(spark, fresh, "a", [(3, 3)])         # next commit proceeds
    assert fresh.get_table("a").version == 3


def test_commit_claims_fence_foreign_writer(spark, catalog):
    """The transaction commit claims each touched table's next version
    marker — a foreign single-table writer racing the commit window
    loses its first claim and retries against the committed state (no
    lost update on either side)."""
    _mk(catalog, "a")
    catalog.begin_transaction()
    _write(spark, catalog, "a", [(1, 1)])
    touched = catalog.commit_transaction()
    assert touched == ["a"]
    foreign = HeraclesCatalog(catalog.metastore_dir)
    _write(spark, foreign, "a", [(2, 2)])
    fresh = HeraclesCatalog(catalog.metastore_dir)
    assert fresh.get_table("a").version == 2
    assert fresh.read_table(spark, "a").count() == 2
