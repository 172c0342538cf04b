"""Point-get conversion: small pruned key reads served on the driver.

When the files a predicate prunes to hold at most
``pruning.LOCAL_SCAN_ROWS`` rows, ``pruning.read_local`` reads them with
pyarrow, keeps the rows for which the predicate is TRUE and hands
them to Spark as a ``LocalRelation`` (≙ the reference's batched ``Get``s,
HBaseSQLReaderRDD.scala:276-328). These tests pin that the driver path
returns exactly what Spark's parquet reader returns over the same files
(every supported type, NULLs, time zones, schema evolution), that
``pruning.eval_arrow`` keeps exactly the rows Spark's WHERE keeps, and
that eligible statements run no Spark job and build no Spark filter
while larger ones still take Spark.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from heracles_spark import pruning, writer
from heracles_spark.catalog import KeyTable, local_frame
from tests.test_dml import _jobs_run

TZS = ["UTC", "America/Los_Angeles"]


@pytest.fixture()
def session_tz(spark):
    """Sets the session time zone for one test and restores it."""
    old = spark.conf.get("spark.sql.session.timeZone")
    yield lambda tz: spark.conf.set("spark.sql.session.timeZone", tz)
    spark.conf.set("spark.sql.session.timeZone", old)


def _rendered(df):
    """Rows as Spark renders them in the session time zone (exact
    floats incl. NaN and -0.0, microsecond timestamps plus their UTC
    instant), sorted."""
    ts = [f.name for f in df.schema.fields
          if f.dataType.typeName() == "timestamp"]
    df = df.select("*", *[F.unix_micros(c).alias(f"{c}__us") for c in ts])
    opts = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
            "ignoreNullFields": "false"}
    return sorted(r[0] for r in
                  df.select(F.to_json(F.struct("*"), opts)).collect())


def _assert_parity(spark, tbl, files, pred=None):
    """The driver path over ``files`` equals Spark's parquet read of the
    same files, with and without the residual predicate."""
    rows = pruning.read_local(tbl, files, pred)
    assert rows is not None, "expected the driver path"
    got = local_frame(spark, rows, tbl.schema())
    ref = spark.read.schema(tbl.schema()).parquet(*[f["path"] for f in files])
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in ref.schema.fields]
    if pred is None:
        assert _rendered(got) == _rendered(ref)
    else:
        cond = pruning.to_sql(pred)
        assert _rendered(got.where(cond)) == _rendered(ref.where(cond))


# -- type parity -----------------------------------------------------------

_TYPED = [("k", "INT"), ("b", "BOOLEAN"), ("i8", "TINYINT"),
          ("i16", "SMALLINT"), ("i32", "INT"), ("i64", "BIGINT"),
          ("f32", "FLOAT"), ("f64", "DOUBLE"), ("s", "STRING"),
          ("d", "DATE"), ("ts", "TIMESTAMP"), ("af", "ARRAY<FLOAT>"),
          ("ad", "ARRAY<DOUBLE>")]

# One row per tuple, as SQL expressions cast to the column's type.
_TYPED_ROWS = [
    ("1", "true", "'127'", "'32767'", "'2147483647'",
     "'9223372036854775807'", "'NaN'", "'NaN'", "'héllo wörld ✓ 日本'",
     "'1500-03-01'", "'1500-03-01 00:00:00'",
     "array(CAST('NaN' AS FLOAT), CAST('-0.0' AS FLOAT))",
     "array(CAST('-0.0' AS DOUBLE), 1e300)"),
    ("2", "false", "'-128'", "'-32768'", "'-2147483648'",
     "'-9223372036854775808'", "'-0.0'", "'-0.0'", "''",
     "'9999-12-31'", "'9999-12-31 23:59:59.999999'", "array()", "array()"),
    ("3",) + ("NULL",) * 12,
    ("4", "true", "'0'", "'0'", "'0'", "'0'", "'Infinity'", "'-Infinity'",
     "'a'", "'2024-03-10'", "'2024-03-10 02:30:00'",
     "array(1.5, NULL)", "array(NULL)"),
    ("5", "NULL", "'-1'", "'-1'", "'-1'", "'-1'", "'1.25'", "'0.1'",
     "'ß'", "'1970-01-01'", "'2024-01-02 03:04:05.123456'",
     "array(CAST('-Infinity' AS FLOAT))", "NULL"),
    ("6", "false", "NULL", "'7'", "NULL", "'8'", "NULL", "'-0.0'",
     "NULL", "'2024-11-03'", "'2024-11-03 01:30:00.000001'",
     "NULL", "array(2.5, -0.0)"),
]


def _typed_table(hsession, spark, catalog):
    hsession.sql("CREATE TABLE ty ("
                 + ", ".join(f"{c} {t}" for c, t in _TYPED)
                 + ") TBLPROPERTIES('keyCols'='k')")
    rows = " UNION ALL ".join(
        "SELECT " + ", ".join(f"CAST({v} AS {t}) AS {c}"
                              for v, (c, t) in zip(row, _TYPED))
        for row in _TYPED_ROWS)
    writer.write_key_organized(spark, catalog, "ty", spark.sql(rows),
                               n_buckets=2)
    return catalog.get_table("ty")


@pytest.mark.parametrize("tz", TZS)
def test_type_parity_every_supported_type(hsession, spark, catalog,
                                          session_tz, tz):
    """Written under UTC, read under ``tz``: INT96 timestamps are UTC
    instants (naive from pyarrow), so the DST-gap wall time
    2024-03-10 02:30 reads fine under America/Los_Angeles."""
    from heracles_spark.catalog import SUPPORTED_TYPES

    session_tz("UTC")
    tbl = _typed_table(hsession, spark, catalog)
    assert {t.lower() for _, t in _TYPED} >= {
        n for n, t in SUPPORTED_TYPES.items()
        if n not in ("byte", "short", "integer", "long")}
    assert len(tbl.files) == 2
    session_tz(tz)
    _assert_parity(spark, tbl, tbl.files)
    _assert_parity(spark, tbl, tbl.files, ("between", "k", 2, 5))
    _assert_parity(spark, tbl, tbl.files, ("in", "k", [1, 3, 6]))


@pytest.mark.parametrize("tz", TZS)
def test_type_parity_written_in_session_zone(hsession, spark, catalog,
                                             session_tz, tz):
    session_tz(tz)
    tbl = _typed_table(hsession, spark, catalog)
    _assert_parity(spark, tbl, tbl.files)


def test_parity_after_add_and_drop_columns(hsession, spark, catalog):
    """Files from before ADD COLUMNS lack the new columns (null-filled,
    as Spark's reader does); files from before DROP COLUMN carry the
    dropped one (ignored). Gap INSERTs overlap the earlier files."""
    hsession.sql("CREATE TABLE ev (k INT, a STRING, z INT) "
                 "TBLPROPERTIES('keyCols'='k')")
    hsession.sql("INSERT INTO ev VALUES (1,'x',10),(5,'y',50),(9,'z',90)")
    hsession.sql("ALTER TABLE ev ADD COLUMNS (w DOUBLE, t TIMESTAMP)")
    hsession.sql("INSERT INTO ev VALUES (3,'p',30,1.5,'2024-01-01 00:00:01'),"
                 "(7,'q',70,NULL,NULL)")
    hsession.sql("ALTER TABLE ev DROP COLUMN z")
    hsession.sql("INSERT INTO ev VALUES (4,'r',-0.0,NULL),(6,NULL,NULL,"
                 "'2024-03-10 02:30:00')")
    tbl = catalog.get_table("ev")
    assert len(tbl.files) == 3
    _assert_parity(spark, tbl, tbl.files)
    _assert_parity(spark, tbl, tbl.files, ("between", "k", 3, 7))
    got = sorted(tuple(r) for r in
                 hsession.sql("SELECT k, a, w FROM ev WHERE k BETWEEN 3 AND 7"
                              ).collect())
    assert hsession.last_select_route["scan"] == "local"
    assert got == [(3, "p", 1.5), (4, "r", -0.0), (5, "y", None),
                   (6, None, None), (7, "q", None)]


# -- exact driver-side predicate evaluation ---------------------------------

_KEYS = ["k", "s", "d"]
_DATES = [datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
          for i in range(3)] + [datetime.date(1500, 3, 1),
                                datetime.date(9999, 12, 31)]
_STRS = ["", "a", "ab", "b", "é", "日本", "z"]
_FLOATS = [None, float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1.0,
           1.5, -2.0]
# Integral literals outside INT, and outside BIGINT (Spark compares
# those as decimals): eval_arrow answers the first exactly and need
# not decide the second.
_WIDE = [2 ** 31, -2 ** 31 - 1, 2 ** 63 - 1, 2 ** 63, -2 ** 63 - 1, 2 ** 70]


def _probe_table():
    """Every combination of a small key domain, plus a nullable int
    ``v`` and a nullable double ``f`` (NaN, ±Inf, -0.0 and 0.0), as one
    Arrow table."""
    rows = [(k, s, d) for k in range(-3, 4) for s in _STRS[:6]
            for d in _DATES]
    return pa.table({
        "id": pa.array(range(len(rows)), pa.int64()),
        "k": pa.array([r[0] for r in rows], pa.int32()),
        "s": pa.array([r[1] for r in rows], pa.string()),
        "d": pa.array([r[2] for r in rows], pa.date32()),
        "v": pa.array([None if i % 4 == 0 else i % 5 - 2
                       for i in range(len(rows))], pa.int32()),
        "f": pa.array([_FLOATS[i % len(_FLOATS)]
                       for i in range(len(rows))], pa.float64()),
    })


def _lits(col):
    """Literals of ``parse_where``'s type for ``col``."""
    if col in ("k", "v"):
        return st.one_of(st.integers(-4, 4), st.sampled_from(_WIDE))
    if col == "f":
        return st.one_of(st.sampled_from([0.0, -0.0, 1.0, 1.5, -2.0, 1e300]),
                         st.floats(allow_nan=False, allow_infinity=False))
    if col == "s":
        return st.sampled_from(_STRS + ["aa", "日", "ß"])
    # the ISO strings the SQL router emits for a date column
    return st.sampled_from(_DATES + [datetime.date(2023, 12, 31),
                                     datetime.date(1, 1, 1)]).map(
        datetime.date.isoformat)


def _atom(col):
    lit = _lits(col)
    return st.one_of(
        st.tuples(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
                  st.just(col), lit),
        st.tuples(st.just("in"), st.just(col),
                  st.lists(lit, min_size=1, max_size=3)),
        st.tuples(st.just("between"), st.just(col), lit, lit),
        st.tuples(st.sampled_from(["isnull", "isnotnull"]), st.just(col)),
    )


_PRED = st.recursive(
    st.sampled_from(_KEYS + ["v", "f"]).flatmap(_atom),
    lambda sub: st.one_of(
        st.tuples(st.sampled_from(["and", "or"]), sub, sub),
        st.tuples(st.just("not"), sub)),
    max_leaves=6)


def _bigint_literals(pred) -> bool:
    """Whether every integral literal of ``pred`` fits a BIGINT."""
    if pred[0] in ("and", "or", "not"):
        return all(map(_bigint_literals, pred[1:]))
    vals = pred[2] if pred[0] == "in" else pred[2:]
    return all(-2 ** 63 <= v < 2 ** 63 for v in vals if type(v) is int)


@pytest.fixture(scope="module")
def probe(spark):
    from pyspark.sql import types as T

    table = _probe_table()
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("s", T.StringType(), False),
        T.StructField("d", T.DateType(), False),
        T.StructField("v", T.IntegerType(), True),
        T.StructField("f", T.DoubleType(), True)])
    return table, local_frame(spark, table, schema)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_PRED, min_size=1, max_size=4))
@example([("=", "f", 0.0), ("=", "v", 0)])
@example([("in", "f", [0.0]), ("in", "v", [0])])
@example([("not", ("in", "v", [1])), ("not", ("in", "f", [1.0]))])
@example([(">", "f", 1.0), (">=", "f", -0.0), ("<", "f", 1e300)])
def test_eval_arrow_keeps_exactly_the_rows_spark_keeps(probe, preds):
    """``eval_arrow``'s TRUE rows are the rows Spark's WHERE keeps over
    a ``local_frame`` of the same table, and it decides every AST
    ``parse_where`` emits whose literals fit a BIGINT."""
    table, df = probe
    for p in preds:
        kept = {r.id for r in df.where(pruning.to_sql(p)).select(
            "id").collect()}
        mask = pruning.eval_arrow(p, table)
        if mask is None:
            assert not _bigint_literals(p), p
            continue
        got = set(table.filter(mask).column("id").to_pylist())
        assert got == kept, (p, sorted(got ^ kept))


def test_eval_arrow_declines_what_it_does_not_cover():
    table = _probe_table()
    assert pruning.eval_arrow(("=", "k", "2"), table) is None  # Spark casts
    assert pruning.eval_arrow(("=", "k", True), table) is None
    assert pruning.eval_arrow(("=", "k", 2.0), table) is None
    assert pruning.eval_arrow(("=", "f", 1), table) is None
    assert pruning.eval_arrow(("=", "f", float("nan")), table) is None
    assert pruning.eval_arrow(("=", "d", "2024-1-1"), table) is None
    assert pruning.eval_arrow(("=", "nope", 1), table) is None
    assert pruning.eval_arrow(("or", ("=", "k", 1), ("=", "k", "1")),
                              table) is None
    ts = pa.table({"t": pa.array([0], pa.timestamp("us", tz="UTC"))})
    assert pruning.eval_arrow(("=", "t", "1970-01-01 00:00:00"), ts) is None
    assert pruning.eval_arrow(("isnull", "t"), ts).to_pylist() == [False]


# -- job counts and the bound ------------------------------------------------

_GET = "SELECT * FROM pg WHERE k = 77"
_RANGE = "SELECT * FROM pg WHERE k BETWEEN 40 AND 60"
_COUNT = "SELECT COUNT(*) FROM pg WHERE k BETWEEN 30 AND 160"


def _mk_pg(hsession):
    """Four files of 50 keys each: 0-49, 50-99, 100-149, 150-199."""
    hsession.sql("CREATE TABLE pg (k INT, name STRING, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    for f in range(4):
        hsession.sql("INSERT INTO pg VALUES " + ", ".join(
            f"({k}, 'n{k}', {k}.5)" for k in range(f * 50, f * 50 + 50)))


def _answers(hsession):
    out = {}
    for q in (_GET, _RANGE, _COUNT):
        (_df, rows), jobs = _jobs_run(hsession.spark, lambda: (
            lambda df: (df, df.collect()))(hsession.sql(q)))
        out[q] = (sorted(tuple(r) for r in rows), jobs,
                  dict(hsession.last_select_route))
    return out


def test_point_get_range_and_count_run_no_job(hsession):
    _mk_pg(hsession)
    got = _answers(hsession)
    assert got[_GET][0] == [(77, "n77", 77.5)]
    assert got[_RANGE][0] == [(k, f"n{k}", k + 0.5) for k in range(40, 61)]
    assert got[_COUNT][0] == [(131,)]
    assert {q: jobs for q, (_r, jobs, _a) in got.items()} == \
        {_GET: 0, _RANGE: 0, _COUNT: 0}
    routes = {q: a for q, (_r, _j, a) in got.items()}
    assert routes[_GET] == {"route": "pruned-scan", "files_read": 1,
                            "files_total": 4, "scan": "local",
                            "local_rows": 1}
    assert routes[_RANGE]["scan"] == "local"
    assert routes[_RANGE]["local_rows"] == 21
    assert routes[_COUNT] == {"route": "metadata-count-range",
                              "files_total": 4, "files_read": 2,
                              "files_contained": 2, "scan": "local",
                              "local_rows": 31}


@pytest.mark.parametrize("bound", [49, 50])
def test_over_the_bound_takes_spark_path_same_rows(hsession, monkeypatch,
                                                   bound):
    """The get prunes to one 50-row file, the range and the count's
    boundary to two: 100 rows."""
    _mk_pg(hsession)
    local = _answers(hsession)
    monkeypatch.setattr(pruning, "LOCAL_SCAN_ROWS", bound)
    viaspark = _answers(hsession)
    over = (_GET, _RANGE, _COUNT) if bound < 50 else (_RANGE, _COUNT)
    for q in (_GET, _RANGE, _COUNT):
        assert viaspark[q][0] == local[q][0]
        route = viaspark[q][2]
        assert route["scan"] == ("spark" if q in over else "local")
        assert ("local_rows" in route) == (q not in over)
        assert (viaspark[q][1] >= 1) == (q in over)


def _key_table(tmp_path, columns, files):
    return KeyTable("t", columns, [columns[0][0]], str(tmp_path),
                    files=[{"path": str(p), "rows": n} for p, n in files])


def test_declines_before_reading_any_file(tmp_path):
    """Over the bound, or with a row count missing, no file is opened:
    these paths do not exist."""
    cols = [("k", "int")]
    over = _key_table(tmp_path, cols, [
        (tmp_path / "a", 1), (tmp_path / "b", pruning.LOCAL_SCAN_ROWS)])
    assert pruning.read_local(over, over.files, ("=", "k", 1)) is None
    unknown = _key_table(tmp_path, cols, [(tmp_path / "a", 1)])
    del unknown.files[0]["rows"]
    assert pruning.read_local(unknown, unknown.files, None) is None


@pytest.mark.parametrize("arrays", [
    {"K": pa.array([1], pa.int32())},       # matches only case-insensitively
    {"k": pa.array([1], pa.int64())},       # another physical type
])
def test_declines_files_spark_reads_differently(tmp_path, arrays):
    """A file whose footer shows Spark would read it differently goes
    to Spark as a whole, the readable file before it included."""
    good, odd = tmp_path / "good.parquet", tmp_path / "odd.parquet"
    pq.write_table(pa.table({"k": pa.array([0], pa.int32())}), good)
    pq.write_table(pa.table(arrays), odd)
    tbl = _key_table(tmp_path, [("k", "int")], [(good, 1), (odd, 1)])
    assert pruning.read_local(tbl, tbl.files[:1], None).num_rows == 1
    assert pruning.read_local(tbl, tbl.files, None) is None


def test_routed_point_get_plans_as_local_table_scan(hsession):
    from heracles_spark.plans import plan_node_names

    _mk_pg(hsession)
    df = hsession.sql(_GET)
    nodes = plan_node_names(df._jdf.queryExecution().executedPlan())
    assert "LocalTableScanExec" in nodes
    assert "FileSourceScanExec" not in nodes


def test_pruned_general_route_reads_locally(hsession):
    _mk_pg(hsession)
    rows = hsession.sql("SELECT name, max(v) AS m FROM pg WHERE k < 3 "
                        "GROUP BY name").collect()
    assert sorted((r.name, r.m) for r in rows) == \
        [("n0", 0.5), ("n1", 1.5), ("n2", 2.5)]
    route = hsession.last_select_route
    assert route["route"] == "pruned-scan-general"
    assert route["scan"] == "local" and route["local_rows"] == 3


def test_explain_route_prints_scan_and_local_rows(hsession, monkeypatch):
    _mk_pg(hsession)

    def explain(q):
        r = hsession.sql("EXPLAIN ROUTE " + q).first()
        return r.route, r.scan, r.local_rows

    assert explain(_GET) == ("pruned-scan", "local", 1)
    assert explain(_RANGE) == ("pruned-scan", "local", 21)
    assert explain(_COUNT) == ("metadata-count-range", "local", 31)
    assert explain("SELECT COUNT(*) FROM pg WHERE k BETWEEN 50 AND 99") == \
        ("metadata-count-range", "local", 0)
    assert explain("SELECT name FROM pg WHERE k <= 1 ORDER BY name") == \
        ("pruned-scan", "local", 2)
    assert explain("SELECT count(name) FROM pg WHERE k < 3 "
                   "GROUP BY v") == ("pruned-scan-general", "local", 3)
    monkeypatch.setattr(pruning, "LOCAL_SCAN_ROWS", 49)
    assert explain(_GET) == ("pruned-scan", "spark", None)
    assert explain(_COUNT) == ("metadata-count-range", "spark", None)


# -- what the driver-side evaluation saves -----------------------------------

def _count_local_frames(monkeypatch):
    """Rows argument of every ``catalog.local_frame`` call from here on,
    through any module's binding of it."""
    import sys

    from heracles_spark import catalog as catalog_mod

    calls = []
    orig = catalog_mod.local_frame

    def counting(spark, rows, schema):
        calls.append(rows)
        return orig(spark, rows, schema)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("heracles_spark") \
                and getattr(mod, "local_frame", None) is orig:
            monkeypatch.setattr(mod, "local_frame", counting)
    return calls


def _stock(hsession, table, where):
    """Sorted rows of a plain Spark read of ``table`` under ``where``."""
    df = hsession.catalog.read_table(hsession.spark, table).where(where)
    return sorted(tuple(r) for r in df.collect())


def test_local_range_count_builds_only_its_answer(hsession, monkeypatch):
    _mk_pg(hsession)
    hsession.sql(_COUNT).collect()              # publishes the inserts
    calls = _count_local_frames(monkeypatch)
    rows, jobs = _jobs_run(hsession.spark,
                           lambda: hsession.sql(_COUNT).collect())
    assert [tuple(r) for r in rows] == [(131,)]
    assert jobs == 0
    assert calls == [[(131,)]]
    assert hsession.last_select_route["local_rows"] == 31


@pytest.mark.parametrize("q", [_GET, _RANGE])
def test_covered_local_read_plans_no_filter(hsession, q):
    from heracles_spark.plans import plan_node_names

    _mk_pg(hsession)
    df = hsession.sql(q)
    qe = df._jdf.queryExecution()
    assert hsession.last_select_route["scan"] == "local"
    assert "Filter" not in plan_node_names(qe.analyzed())
    nodes = plan_node_names(qe.executedPlan())
    assert "LocalTableScanExec" in nodes and "FilterExec" not in nodes
    assert sorted(tuple(r) for r in df.collect()) == \
        _stock(hsession, "pg", q.split(" WHERE ")[1])


def test_local_delete_builds_only_its_stats_frame(hsession, monkeypatch):
    from heracles_spark import dml

    _mk_pg(hsession)
    where = "k BETWEEN 10 AND 20 AND v > 12.0 OR k IN (60, 61, 250)"
    want = len(_stock(hsession, "pg", where))
    survivors = _stock(hsession, "pg", f"NOT ({where})")
    calls = _count_local_frames(monkeypatch)
    out = hsession.sql(f"DELETE FROM pg WHERE {where}").collect()[0]
    assert dml.LAST_DML_STATS["write"] == "local"
    assert out.rows_affected == want == 11
    assert calls == [[(want, 2, 4)]]            # the stats frame only
    assert _stock(hsession, "pg", "true") == survivors


def test_uncovered_atom_keeps_the_spark_residual(spark, catalog, hsession):
    _mk_pg(hsession)
    stats = {}
    got = pruning.scan(spark, catalog, "pg", ("=", "k", "2"),
                       stats_out=stats)
    assert stats["scan"] == "spark"
    assert sorted(tuple(r) for r in got.collect()) == \
        _stock(hsession, "pg", "k = '2'") == [(2, "n2", 2.5)]


@pytest.fixture()
def negzero(spark, catalog, hsession):
    """Two files whose double column ``v`` holds only -0.0."""
    hsession.sql("CREATE TABLE nz (k INT, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    writer.write_key_organized(
        spark, catalog, "nz",
        spark.range(40).selectExpr("CAST(id AS INT) AS k",
                                   "CAST('-0.0' AS DOUBLE) AS v"),
        n_buckets=2)
    assert len(catalog.get_table("nz").files) == 2
    old = spark.conf.get("spark.sql.parquet.filterPushdown")
    yield
    spark.conf.set("spark.sql.parquet.filterPushdown", old)


@pytest.mark.parametrize("atom", ["v = 0", "v >= 0"])
def test_negative_zero_on_the_driver_routes(spark, hsession, negzero, atom):
    """Each routed statement answers as a stock read without parquet
    filter pushdown (which drops -0.0 rows against ``= 0``)."""
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    for where, n in ((f"k = 5 AND {atom}", 1),
                     (f"k BETWEEN 3 AND 9 AND {atom}", 7)):
        want = _stock(hsession, "nz", where)
        assert len(want) == n
        got = hsession.sql(f"SELECT * FROM nz WHERE {where}").collect()
        assert hsession.last_select_route["scan"] == "local"
        assert sorted(tuple(r) for r in got) == want
    got = hsession.sql("SELECT COUNT(*) FROM nz WHERE "
                       f"k BETWEEN 3 AND 9 AND {atom}").collect()
    assert hsession.last_select_route["route"] == "metadata-count-range"
    assert hsession.last_select_route["scan"] == "local"
    assert got[0][0] == 7


def test_negative_zero_local_delete(spark, hsession, negzero):
    from heracles_spark import dml

    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    where = "k BETWEEN 3 AND 9 AND v = 0"
    want = len(_stock(hsession, "nz", where))
    survivors = _stock(hsession, "nz", f"NOT ({where})")
    out = hsession.sql(f"DELETE FROM nz WHERE {where}").collect()[0]
    assert dml.LAST_DML_STATS["write"] == "local"
    assert out.rows_affected == want == 7
    assert _stock(hsession, "nz", "true") == survivors
