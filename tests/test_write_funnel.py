"""One write funnel: every file-writing path conforms its rows (casts,
null keys, CHECK constraints), stages into a directory of its own with
the table's parquet bloom options, and commits through the same harvest
(catalog blooms included). Each test pins a guarantee that one of the
paths once skipped.
"""
from __future__ import annotations

import os
import threading

import pytest

from heracles_spark import pruning, writer, zorder
from heracles_spark.catalog import HeraclesCatalog


# -- CHECK constraints on the stream and curve paths ----------------------

@pytest.fixture()
def checked(spark, catalog, hsession):
    hsession.sql("""CREATE TABLE ck (k INT, v INT)
                    TBLPROPERTIES('keyCols'='k')""")
    hsession.sql("INSERT INTO ck VALUES (1, 10)")
    hsession.sql("ALTER TABLE ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    return catalog.get_table("ck")


def _unchanged(spark, catalog, before):
    after = catalog.get_table("ck")
    assert after.version == before.version
    assert [f["path"] for f in after.files] == [f["path"]
                                                for f in before.files]
    assert sorted(os.listdir(after.data_dir)) == sorted(
        os.listdir(before.data_dir))
    assert [tuple(r) for r in catalog.read_table(spark, "ck").collect()] \
        == [(1, 10)]


def test_stream_append_rejects_check_violation(spark, catalog, checked):
    batch = spark.createDataFrame([(3, -7)], "k int, v int")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        writer.append_batch_exactly_once(spark, catalog, "ck", batch,
                                         batch_id=0)
    marker = os.path.join(checked.data_dir, "_batch_commits", "0.json")
    assert not os.path.exists(marker)
    _unchanged(spark, catalog, checked)


def test_zordered_append_rejects_check_violation(spark, catalog, checked):
    batch = spark.createDataFrame([(4, -9)], "k int, v int")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        zorder.write_zordered(spark, catalog, "ck", batch, mode="append")
    _unchanged(spark, catalog, checked)


# -- parquet blooms on every Spark write ----------------------------------

@pytest.fixture()
def bt(spark, catalog):
    catalog.create_table("bt", [("k", "int"), ("s", "string"), ("v", "int")],
                         ["k"], properties={"bloomCols": "s"})
    df = spark.range(4000).selectExpr(
        "CAST(id AS INT) AS k", "md5(CAST(id AS STRING)) AS s",
        "CAST(id AS INT) AS v")
    writer.write_key_organized(spark, catalog, "bt", df, n_buckets=2)
    return catalog.get_table("bt")


_REWRITES = {
    "delete": "DELETE FROM bt WHERE k = 5",
    "update": "UPDATE bt SET v = -1 WHERE k = 5",
    "merge": ("MERGE INTO bt USING (SELECT 5 AS k, 'x' AS s, 1 AS v) src "
              "ON bt.k = src.k WHEN MATCHED THEN UPDATE SET v = src.v"),
    "compact": "OPTIMIZE bt COMPACT TARGET 100000 ROWS",
}


@pytest.mark.parametrize("op", [*_REWRITES, "stream"])
def test_rewritten_files_carry_parquet_blooms(spark, catalog, hsession, bt,
                                              bloom_offsets, op):
    before = {f["path"] for f in bt.files}
    if op == "stream":
        batch = spark.createDataFrame([(9000, "new", 1)],
                                      "k int, s string, v int")
        writer.append_batch_exactly_once(spark, catalog, "bt", batch,
                                         batch_id=0)
    else:
        hsession.sql(_REWRITES[op])
    new = [f for f in catalog.get_table("bt").files
           if f["path"] not in before]
    assert new
    for f in new:
        assert bloom_offsets(f["path"])["s"] >= 0, f["path"]
        assert "s" in f.get("bloom", {})


def test_zorder_keeps_catalog_blooms(spark, catalog, hsession, bt):
    rows = catalog.read_table(spark, "bt").where("k % 200 = 7").collect()

    def kept(tbl):
        """Files a bloom-column equality keeps, per probe; each must
        include the file holding the row."""
        out = []
        for r in rows:
            keep = pruning.prune_files(tbl.files, ("=", "s", r.s),
                                       tbl.key_cols)
            assert any(f["min"]["k"] <= r.k <= f["max"]["k"] for f in keep)
            out.append(len(keep))
        return out

    before = kept(bt)
    hsession.sql("OPTIMIZE bt ZORDER BY (k)")
    tbl = catalog.get_table("bt")
    assert len(tbl.files) == 1      # as OPTIMIZE bt sizes 4,000 rows
    assert all("s" in f.get("bloom", {}) for f in tbl.files)
    # Min/max on md5 strings keeps every file; the blooms keep the one
    # holding the value plus ~1% false positives of the rest.
    for n_kept in (before, kept(tbl)):
        assert sum(n_kept) <= len(rows) + 8, n_kept


def test_restore_keeps_catalog_blooms(spark, catalog, hsession):
    catalog.create_table("rb", [("k", "int"), ("s", "string")], ["k"],
                         properties={"bloomCols": "s"})
    df = spark.range(4000).selectExpr("CAST(id AS INT) AS k",
                                      "md5(CAST(id AS STRING)) AS s")
    writer.write_key_organized(spark, catalog, "rb", df, n_buckets=4)
    v1 = catalog.get_table("rb").version
    hsession.sql("INSERT INTO rb VALUES (5000, 'new')")
    hsession.sql(f"RESTORE TABLE rb TO VERSION AS OF {v1}")
    tbl = catalog.get_table("rb")
    assert len(tbl.files) == 4
    row = catalog.read_table(spark, "rb").where("k = 1234").first()
    keep = pruning.prune_files(tbl.files, ("=", "s", row.s), tbl.key_cols)
    assert len(keep) == 1 and keep[0]["min"]["k"] <= 1234 <= \
        keep[0]["max"]["k"]
    assert all("s" in f.get("bloom", {}) for f in tbl.files)


# -- concurrent writers ----------------------------------------------------

@pytest.mark.parametrize("run", range(3))
def test_concurrent_writers_commit_every_row_once(spark, tmp_path, run):
    ms = str(tmp_path / "ms")
    cats = [HeraclesCatalog(ms), HeraclesCatalog(ms)]
    cats[0].create_table("t", [("k", "bigint"), ("v", "bigint")], ["k"])
    n = 50_000
    errs: list = []

    def append(i: int) -> None:
        try:
            df = spark.range(i * n, (i + 1) * n).selectExpr("id AS k",
                                                            "id * 2 AS v")
            writer.write_key_organized(spark, cats[i], "t", df)
        except Exception as e:     # pragma: no cover - fails the test
            errs.append(e)

    threads = [threading.Thread(target=append, args=(i,)) for i in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    got = (HeraclesCatalog(ms).read_table(spark, "t")
           .selectExpr("count(*) AS n", "count(DISTINCT k) AS d",
                       "min(k) AS lo", "max(k) AS hi").first())
    assert tuple(got) == (2 * n, 2 * n, 0, 2 * n - 1)
