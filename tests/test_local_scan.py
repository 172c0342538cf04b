"""Point-get conversion: small pruned key reads served on the driver.

When the files a predicate prunes to hold at most
``pruning.LOCAL_SCAN_ROWS`` rows, ``pruning.read_local`` reads them with
pyarrow, keeps the rows whose keys may satisfy the predicate and hands
them to Spark as a ``LocalRelation`` (≙ the reference's batched ``Get``s,
HBaseSQLReaderRDD.scala:276-328). These tests pin that the driver path
returns exactly what Spark's parquet reader returns over the same files
(every supported type, NULLs, time zones, schema evolution), that the
key prefilter never drops a row Spark's WHERE keeps, and that eligible
statements run no Spark job while larger ones still take Spark.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
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


# -- key prefilter soundness -------------------------------------------------

_KEYS = ["k", "s", "d"]
_DATES = [datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
          for i in range(3)]
_STRS = ["", "a", "ab", "b", "é", "z"]


def _probe_table():
    """Every combination of a small key domain, plus a nullable non-key
    column, as one Arrow table."""
    rows = [(k, s, d) for k in range(-3, 4) for s in _STRS[:5]
            for d in _DATES]
    return pa.table({
        "id": pa.array(range(len(rows)), pa.int64()),
        "k": pa.array([r[0] for r in rows], pa.int32()),
        "s": pa.array([r[1] for r in rows], pa.string()),
        "d": pa.array([r[2] for r in rows], pa.date32()),
        "v": pa.array([None if i % 4 == 0 else i % 5 - 2
                       for i in range(len(rows))], pa.int32()),
    })


def _lits(col):
    ints = st.integers(-4, 4)
    if col in ("k", "v"):
        # string literals against int columns: Spark casts them
        return st.one_of(ints, ints.map(str))
    if col == "s":
        return st.sampled_from(_STRS)
    # the ISO strings the SQL router emits for a date column
    return st.sampled_from(_DATES + [datetime.date(2023, 12, 31)]).map(
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
    st.sampled_from(_KEYS + ["v"]).flatmap(_atom),
    lambda sub: st.one_of(
        st.tuples(st.sampled_from(["and", "or"]), sub, sub),
        st.tuples(st.just("not"), sub)),
    max_leaves=6)


@pytest.fixture(scope="module")
def probe(spark):
    from pyspark.sql import types as T

    table = _probe_table()
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("s", T.StringType(), False),
        T.StructField("d", T.DateType(), False),
        T.StructField("v", T.IntegerType(), True)])
    return table, local_frame(spark, table, schema)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_PRED, min_size=1, max_size=6))
def test_key_prefilter_keeps_every_row_spark_keeps(probe, preds):
    """Spark's WHERE ⊆ ``may_match`` over each row's one-point key box
    (the reference loop) ⊆ the vectorized ``key_mask``."""
    table, df = probe
    flags = df.select("id", *[F.expr(pruning.to_sql(p)).alias(f"p{i}")
                              for i, p in enumerate(preds)]).collect()
    rows = table.to_pylist()
    for i, p in enumerate(preds):
        nnf = pruning.to_nnf(p)
        kept = {r.id for r in flags if r[f"p{i}"] is True}
        boxed = set()
        for r in rows:
            box = {c: r[c] for c in _KEYS}
            if pruning.may_match(nnf, box, box, _KEYS):
                boxed.add(r["id"])
        mask = pruning.key_mask(nnf, table, _KEYS)
        ids = table.column("id").to_pylist()
        if mask is not None:
            ids = [x for x, m in zip(ids, mask.to_pylist())
                   if m is not False]
        assert kept <= boxed <= set(ids), (p, sorted(kept - set(ids)))


def test_key_prefilter_decides_typed_key_atoms_only():
    table = _probe_table()
    ks = table.column("k").to_pylist()

    def kept(pred):
        mask = pruning.key_mask(pruning.to_nnf(pred), table, _KEYS)
        return None if mask is None else \
            [k for k, m in zip(ks, mask.to_pylist()) if m]

    assert set(kept(("=", "k", 2))) == {2}
    assert set(kept(("and", ("between", "k", -1, 1), ("=", "v", 0)))) == \
        {-1, 0, 1}
    assert kept(("between", "k", 3, -3)) == []          # lo > hi: empty
    assert set(kept(("or", ("<", "k", -2), ("in", "k", [3])))) == {-3, 3}
    assert set(kept(("not", ("!=", "k", 1)))) == {1}    # NNF complement
    assert kept(("=", "k", "2")) is None                # cast by Spark
    assert kept(("=", "k", True)) is None               # bool is not int
    assert kept(("=", "k", 2.0)) is None
    assert kept(("=", "k", 2 ** 40)) is None            # outside int32
    assert kept(("=", "v", 0)) is None                  # non-key
    assert kept(("or", ("=", "k", 1), ("=", "v", 0))) is None
    assert kept(("=", "d", "2024-01-01")) is None       # date key
    floats = pa.table({"f": pa.array([float("nan"), 1.0], pa.float64())})
    assert pruning.key_mask((">", "f", 0.0), floats, ["f"]) is None


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
