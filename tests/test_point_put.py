"""Point-put: small writes served on the driver, with no Spark job.

An INSERT VALUES batch, and an UPDATE/DELETE whose touched files hold at
most ``pruning.LOCAL_SCAN_ROWS`` rows, are evaluated by Spark over a
``LocalRelation`` and written by ``writer.put_rows`` as one parquet file
with pyarrow (≙ the HBase ``Put`` an INSERT VALUES becomes,
HBaseRelation.insert, HBaseRelation.scala:672-723). These tests pin that
a driver-written file reads back exactly like a Spark-written one (every
supported type, both time zones, same harvested index entry, size within
3%), that the statements run no Spark job, that the fallbacks take the
Spark write, and that rows, ``rows_affected``, history and time travel
are the same on both paths. They also pin the NaN rule both writers'
boxes now share, and the rejection of a repeated UPDATE SET target.
"""

from __future__ import annotations

import contextlib
import datetime
import math
import os
import random

import pytest

from heracles_spark import dml, pruning, writer
from heracles_spark.catalog import HeraclesCatalog, local_frame
from tests.test_dml import _jobs_run, _mk, _rows, _sql_collect
from tests.test_local_scan import TZS, _TYPED, _TYPED_ROWS, _rendered
from tests.test_local_scan import session_tz  # noqa: F401  (fixture)


@contextlib.contextmanager
def _spark_path(monkeypatch):
    """Every write inside takes the Spark path (the bound is 0 rows)."""
    with monkeypatch.context() as m:
        m.setattr(pruning, "LOCAL_SCAN_ROWS", 0)
        yield


def _put_calls(monkeypatch) -> list:
    calls: list = []
    real = writer.put_rows

    def spy(*a, **kw):
        calls.append(a[1].name)
        return real(*a, **kw)

    monkeypatch.setattr(writer, "put_rows", spy)
    return calls


# -- NaN boxes ---------------------------------------------------------------

_NAN_ROWS = "(1L, CAST('NaN' AS DOUBLE)), (2L, 3.0D), (3L, 1.0D)"


def _nan_table(hsession, spark, catalog, stale):
    """``nt`` written by Spark, whose footer records max(v) = NaN, and
    the same rows as the stock view ``nt_stock``. ``stale`` puts the
    NaN bound into the index too, as indexes written before harvest
    dropped such boxes hold it."""
    hsession.sql("CREATE TABLE nt (k BIGINT, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    df = spark.sql(f"SELECT * FROM VALUES {_NAN_ROWS} AS x(k, v)")
    df.createOrReplaceTempView("nt_stock")
    writer.write_key_organized(spark, catalog, "nt", df, n_buckets=1)
    if stale:
        files = [{**f, "min": {**f["min"], "v": 1.0},
                  "max": {**f["max"], "v": float("nan")}}
                 for f in catalog.get_table("nt").files]
        catalog.update_file_index("nt", files, op="stale-index")
    catalog.read_table(spark, "nt").createOrReplaceTempView(
        catalog.view_name("nt"))


@pytest.mark.parametrize("stale", [False, True], ids=["harvested", "stale"])
@pytest.mark.parametrize("query", [
    "SELECT k FROM {t} WHERE v > 5",
    "SELECT k FROM {t} WHERE k >= 1 AND v > 5",
    "SELECT COUNT(*) FROM {t} WHERE v > 5",
    "SELECT COUNT(*) FROM {t} WHERE k >= 1 AND v > 5",
], ids=["join-route", "scan-route", "count", "key-count"])
def test_nan_box_answers_like_stock_spark(hsession, spark, catalog, stale,
                                          query):
    """Spark orders NaN above every number, so ``v > 5`` holds for the
    NaN row. A box with a NaN bound pruned it away (through the
    pruned-scan-join, pruned-scan and metadata-count-range routes);
    such a box must decide nothing, and harvest no longer records it."""
    _nan_table(hsession, spark, catalog, stale)
    got = sorted(tuple(r) for r in hsession.sql(query.format(t="nt"))
                 .collect())
    assert got == sorted(tuple(r) for r in
                         spark.sql(query.format(t="nt_stock")).collect())
    assert len(got) == 1 and got[0][0] == 1


@pytest.mark.parametrize("stale", [False, True], ids=["harvested", "stale"])
def test_nan_box_delete_like_stock_spark(hsession, spark, catalog, stale):
    _nan_table(hsession, spark, catalog, stale)
    out = hsession.sql("DELETE FROM nt WHERE v > 5").collect()[0]
    assert out.rows_affected == 1
    assert sorted(r.k for r in hsession.sql("SELECT k FROM nt").collect()) \
        == [2, 3]


def test_nan_bound_decides_nothing():
    for lo, hi in [(1.0, math.nan), (math.nan, math.nan)]:
        for atom in [(">", "v", 5.0), ("<", "v", 0.0), ("=", "v", 2.0),
                     ("between", "v", 7.0, 9.0)]:
            assert pruning.may_match(atom, {"v": lo}, {"v": hi}, [])
            assert not pruning.must_match(atom, {"v": lo}, {"v": hi}, [],
                                          {"v": 0})


# -- UPDATE SET targets --------------------------------------------------------

@pytest.mark.parametrize("sets", ["v = 1, v = 2", "v = 1, V = 2"],
                         ids=["same-case", "other-case"])
@pytest.mark.parametrize("path", ["local", "spark"])
def test_update_repeated_set_target_rejected(hsession, monkeypatch, sets,
                                             path):
    _mk(hsession)
    before = _rows(hsession)
    with contextlib.ExitStack() as stack:
        if path == "spark":
            stack.enter_context(_spark_path(monkeypatch))
        with pytest.raises(ValueError, match="SET twice"):
            hsession.sql(f"UPDATE t SET {sets} WHERE k = 1")
    assert _rows(hsession) == before


def test_update_table_repeated_target_rejected(hsession, spark, catalog):
    _mk(hsession)
    with pytest.raises(ValueError, match="SET twice"):
        dml.update_table(spark, catalog, "t", {"v": "1", "V": "2"})


# -- writer parity -------------------------------------------------------------

def _write_both(hsession, spark, catalog, df, columns):
    """``df`` written by Spark into ``w_spark`` and by ``put_rows``
    (through the INSERT path's conform and collect) into ``w_put``."""
    for name in ("w_spark", "w_put"):
        hsession.sql(f"CREATE TABLE {name} ("
                     + ", ".join(f"{c} {t}" for c, t in columns)
                     + f") TBLPROPERTIES('keyCols'='{columns[0][0]}')")
    writer.write_key_organized(spark, catalog, "w_spark", df, n_buckets=1)
    tbl = catalog.get_table("w_put")
    writer.put_rows(catalog, tbl, writer.collect_local(
        writer._conform(df, tbl), tbl.schema()), None, "append", None)
    return catalog.get_table("w_spark"), catalog.get_table("w_put")


@pytest.mark.parametrize("rows", [_TYPED_ROWS, _TYPED_ROWS[1:]],
                         ids=["with-nan", "without-nan"])
@pytest.mark.parametrize("tz", TZS)
def test_put_file_reads_like_spark_file(hsession, spark, catalog,
                                        session_tz, tz, rows):  # noqa: F811
    """Every supported type; NULL, NaN, ±Inf and -0.0; 1500-03-01 and
    9999-12-31; µs timestamps, one in a DST gap: the same rows through
    Spark's reader and ``read_local``, and the same index entry."""
    session_tz(tz)
    df = spark.sql(" UNION ALL ".join(
        "SELECT " + ", ".join(f"CAST({v} AS {t}) AS {c}"
                              for v, (c, t) in zip(row, _TYPED))
        for row in rows))
    ref, put = _write_both(hsession, spark, catalog, df, _TYPED)
    assert len(ref.files) == len(put.files) == 1
    want = _rendered(spark.read.schema(ref.schema()).parquet(
        ref.files[0]["path"]))
    assert len(want) == len(rows)
    assert _rendered(spark.read.schema(put.schema()).parquet(
        put.files[0]["path"])) == want
    for tbl in (ref, put):
        local = pruning.read_local(tbl, tbl.files, None)
        assert _rendered(local_frame(spark, local, tbl.schema())) == want

    def entry(tbl):
        return {k: tbl.files[0].get(k) for k in ("rows", "min", "max",
                                                 "nulls")}

    assert entry(put) == entry(ref)
    if rows[0][6] == "'NaN'":
        assert "f32" not in entry(ref)["min"] and "f64" not in entry(ref)["min"]
        assert entry(ref)["nulls"]["f64"] == 1


def test_put_file_size_within_3pct_of_spark(hsession, spark, catalog):
    """An orders_kv-shaped 5k-row batch: dictionaries by parquet-mr's
    size rule keep the pyarrow file within 3% of Spark's."""
    columns = [("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"),
               ("o_orderstatus", "STRING"), ("o_totalprice", "DOUBLE"),
               ("o_orderdate", "DATE"), ("o_orderpriority", "STRING")]
    rng = random.Random(7)
    day0 = datetime.date(1995, 1, 1)
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows = [(k * 4 + 1, rng.randrange(15_000), rng.choice("FOP"),
             rng.randrange(100_000, 50_000_000) / 100.0,
             day0 + datetime.timedelta(days=rng.randrange(2405)),
             rng.choice(prio)) for k in range(5000)]
    df = local_frame(spark, rows, ", ".join(f"{c} {t}" for c, t in columns))
    ref, put = _write_both(hsession, spark, catalog, df, columns)
    size = [os.path.getsize(t.files[0]["path"]) for t in (ref, put)]
    assert abs(size[1] / size[0] - 1) <= 0.03, size


# -- path pins -------------------------------------------------------------------

def _kv(hsession, spark, catalog, props=""):
    """``kv``: even keys 0..1998 in 4 Spark-written files of 250 rows."""
    hsession.sql("CREATE TABLE kv (k BIGINT, s STRING, v DOUBLE) "
                 f"TBLPROPERTIES('keyCols'='k'{props})")
    df = spark.range(0, 2000, 2).selectExpr("id AS k", "CAST(id AS STRING) s",
                                            "id / 2.0 AS v")
    writer.write_key_organized(spark, catalog, "kv", df, n_buckets=4)
    catalog.read_table(spark, "kv").createOrReplaceTempView(
        catalog.view_name("kv"))
    return {k: (k, str(k), k / 2.0) for k in range(0, 2000, 2)}


def _kv_rows(hsession):
    return {r.k: tuple(r) for r in hsession.sql("SELECT * FROM kv")
            .collect()}


def _insert_sql(keys):
    return "INSERT INTO kv VALUES " + ", ".join(
        f"({k}, 'i{k}', {k}.25)" for k in keys)


def test_small_writes_run_no_spark_job(hsession, spark, catalog,
                                       monkeypatch):
    """A 20-row INSERT VALUES, a point UPDATE and a 64-key range DELETE
    run no Spark job, statement result included."""
    model = _kv(hsession, spark, catalog)
    calls = _put_calls(monkeypatch)
    keys = list(range(1, 40, 2))
    _, n = _jobs_run(spark, lambda: hsession.sql(_insert_sql(keys)))
    assert n == 0 and calls == ["kv"]
    model.update({k: (k, f"i{k}", k + 0.25) for k in keys})

    (_, rows), n = _jobs_run(spark, lambda: _sql_collect(
        hsession, "UPDATE kv SET s = 'U', v = 1.5 WHERE k = 10"))
    assert n == 0 and rows[0].rows_affected == 1
    assert dml.LAST_DML_STATS["write"] == "local"
    model[10] = (10, "U", 1.5)

    (_, rows), n = _jobs_run(spark, lambda: _sql_collect(
        hsession, "DELETE FROM kv WHERE k BETWEEN 20 AND 83"))
    hit = [k for k in model if 20 <= k <= 83]
    assert n == 0 and rows[0].rows_affected == len(hit) == 42
    assert dml.LAST_DML_STATS["write"] == "local"
    for k in hit:
        del model[k]
    assert len(calls) == 3
    assert _kv_rows(hsession) == model


@pytest.mark.parametrize("case", ["bloom", "over-bound", "unreadable"])
def test_fallbacks_take_the_spark_write(hsession, spark, catalog,
                                        monkeypatch, case):
    model = _kv(hsession, spark, catalog,
                ", 'bloomCols'='s'" if case == "bloom" else "")
    upd, dele = 10, 12
    if case == "unreadable":
        # Legacy-calendar footers: read_local leaves the files to Spark.
        upd, dele = 5001, 5003
        key = "spark.sql.parquet.datetimeRebaseModeInWrite"
        old = spark.conf.get(key)
        spark.conf.set(key, "LEGACY")
        try:
            for k in (upd, dele):
                writer.write_key_organized(
                    spark, catalog, "kv", spark.sql(
                        f"SELECT {k}L AS k, 'x' AS s, 1.0D AS v"),
                    n_buckets=1)
                model[k] = (k, "x", 1.0)
        finally:
            spark.conf.set(key, old)
    if case == "over-bound":
        monkeypatch.setattr(pruning, "LOCAL_SCAN_ROWS", 10)
    calls = _put_calls(monkeypatch)
    keys = list(range(1, 40, 2))
    hsession.sql(_insert_sql(keys))
    model.update({k: (k, f"i{k}", k + 0.25) for k in keys})
    # An INSERT writes new rows: only the bloom and the bound stop it.
    assert calls == ([] if case in ("bloom", "over-bound") else ["kv"])
    out = hsession.sql(f"UPDATE kv SET s = 'U' WHERE k = {upd}").collect()
    assert out[0].rows_affected == 1
    assert dml.LAST_DML_STATS["write"] == "spark"
    model[upd] = (upd, "U", model[upd][2])
    out = hsession.sql(f"DELETE FROM kv WHERE k = {dele}").collect()
    assert out[0].rows_affected == 1
    assert dml.LAST_DML_STATS["write"] == "spark"
    del model[dele]
    assert len(calls) == (0 if case in ("bloom", "over-bound") else 1)
    assert _kv_rows(hsession) == model


# Statements over table {t} (k INT, s STRING, v DOUBLE), each with the
# rows the table holds after it and its rows_affected (None: INSERT).
_SCRIPT = [
    ("INSERT INTO {t} VALUES (1,'a',1.0),(3,'c',NULL),(5,'e',5.5)", None,
     [(1, "a", 1.0), (3, "c", None), (5, "e", 5.5)]),
    ("INSERT INTO {t} VALUES (2,'b',2.0),(4,NULL,'NaN')", None,
     [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, None, "nan"),
      (5, "e", 5.5)]),
    ("UPDATE {t} SET v = v * 2, s = upper(s) WHERE k >= 2 "
     "AND s IS NOT NULL", 3,
     [(1, "a", 1.0), (2, "B", 4.0), (3, "C", None), (4, None, "nan"),
      (5, "E", 11.0)]),
    ("DELETE FROM {t} WHERE k = 3 OR v > 5", 3,
     [(1, "a", 1.0), (2, "B", 4.0)]),
    ("UPDATE {t} SET s = 'z' WHERE v IS NULL", 0,
     [(1, "a", 1.0), (2, "B", 4.0)]),
    ("DELETE FROM {t} WHERE k < 10", 2, []),
    ("INSERT INTO {t} VALUES (7,'g',7.0)", None, [(7, "g", 7.0)]),
]


def _canon(rows):
    return [tuple("nan" if isinstance(x, float) and math.isnan(x) else x
                  for x in r) for r in rows]


def _run_script(hsession, t):
    """Per statement: (rows_affected, write path, rows after); then the
    history's ops and every version's rows."""
    hsession.sql(f"CREATE TABLE {t} (k INT, s STRING, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    steps = []
    for sql, _, _ in _SCRIPT:
        out = hsession.sql(sql.format(t=t))
        affected = None if out is None else out.collect()[0].rows_affected
        path = None if out is None else dml.LAST_DML_STATS["write"]
        steps.append((affected, path, _canon(hsession.sql(
            f"SELECT * FROM {t} ORDER BY k").collect())))
    hist = [(r.version, r.op) for r in
            hsession.sql(f"DESCRIBE HISTORY {t}").collect()]
    travel = {v: _canon(hsession.sql(
        f"SELECT * FROM {t} VERSION AS OF {v} ORDER BY k").collect())
        for v, _ in hist}
    return steps, hist, travel


def test_both_paths_agree_with_model(hsession, monkeypatch):
    """Rows, rows_affected, DESCRIBE HISTORY ops and time travel after
    each write: the same on the driver path and the Spark path, and as
    the model says."""
    local = _run_script(hsession, "p_local")
    with _spark_path(monkeypatch):
        spark_run = _run_script(hsession, "p_spark")
    for (sql, affected, rows), got in zip(_SCRIPT, local[0]):
        assert got[0] == affected and got[2] == rows, sql
    # the UPDATE that touches no file writes nothing
    assert [s[1] for s in local[0]] == [None, None, "local", "local", None,
                                        "local", None]
    assert [s[1] for s in spark_run[0]] == [None, None, "spark", "spark",
                                            None, "spark", None]
    assert [(a, r) for a, _, r in local[0]] == \
        [(a, r) for a, _, r in spark_run[0]]
    assert local[1] == spark_run[1]
    assert local[2] == spark_run[2]


def test_point_put_in_transactions(hsession, catalog):
    """Writes inside BEGIN/COMMIT are buffered until COMMIT; a
    ROLLBACK discards its write; a write after it lands."""
    hsession.sql("CREATE TABLE ta (k INT, v INT) TBLPROPERTIES('keyCols'='k')")
    hsession.sql("INSERT INTO ta VALUES (1, 10), (2, 20)")

    def rows():
        return sorted(tuple(r) for r in
                      hsession.sql("SELECT * FROM ta").collect())

    hsession.sql("BEGIN")
    hsession.sql("INSERT INTO ta VALUES (3, 30)")
    hsession.sql("UPDATE ta SET v = 0 WHERE k = 1")
    assert dml.LAST_DML_STATS["write"] == "local"
    hsession.sql("DELETE FROM ta WHERE k = 2")
    assert rows() == [(1, 0), (3, 30)]
    assert HeraclesCatalog(catalog.metastore_dir).get_table("ta").version == 1
    hsession.sql("COMMIT")
    assert HeraclesCatalog(catalog.metastore_dir).get_table("ta").version == 4
    assert rows() == [(1, 0), (3, 30)]

    hsession.sql("BEGIN")
    hsession.sql("DELETE FROM ta WHERE k = 3")
    hsession.sql("ROLLBACK")
    assert catalog.get_table("ta").version == 4
    assert rows() == [(1, 0), (3, 30)]
    hsession.sql("INSERT INTO ta VALUES (4, 40)")
    assert rows() == [(1, 0), (3, 30), (4, 40)]
    assert catalog.get_table("ta").version == 5
