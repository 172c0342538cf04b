"""Z-order layout: pruning must work on BOTH key dimensions, where
range layout only prunes the leading one."""

from __future__ import annotations

import pytest

from heracles_spark import writer, zorder
from heracles_spark.pruning import prune_files, scan

COLS = [("x", "int"), ("y", "int"), ("v", "int")]
GRID = [(x, y, x * 100 + y) for x in range(100) for y in range(100)]


def _frac_kept(tbl, pred):
    return len(prune_files(tbl.files, pred, tbl.key_cols)) / len(tbl.files)


def test_zorder_prunes_both_dims(spark, catalog):
    df = spark.createDataFrame(GRID, "x int, y int, v int")
    catalog.create_table("zt", COLS, ["x", "y"])
    tbl = zorder.write_zordered(spark, catalog, "zt", df, n_buckets=16)
    assert len(tbl.files) >= 8
    # point predicates on EITHER dim prune most files
    assert _frac_kept(tbl, ("=", "x", 7)) <= 0.5
    assert _frac_kept(tbl, ("=", "y", 7)) <= 0.5
    # and results are still exact
    got = scan(spark, catalog, "zt",
               ("and", ("=", "x", 7), ("=", "y", 3))).collect()
    assert [(r["x"], r["y"], r["v"]) for r in got] == [(7, 3, 703)]


def test_range_layout_leading_dim_only(spark, catalog):
    """Contrast: lexicographic layout prunes x but not y."""
    df = spark.createDataFrame(GRID, "x int, y int, v int")
    catalog.create_table("rt", COLS, ["x", "y"])
    tbl = writer.write_key_organized(spark, catalog, "rt", df, n_buckets=16)
    assert _frac_kept(tbl, ("=", "x", 7)) <= 0.5     # leading key prunes
    assert _frac_kept(tbl, ("=", "y", 7)) == 1.0     # trailing key can't


def test_zvalue_locality(spark):
    """Morton order must interleave: closeness in both dims ⇒ closeness
    in z (spot-check the expression against a Python reference)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1), (60000, 60000)],
                               "a int, b int")
    rows = df.select("a", "b",
                     zorder.zvalue([F.col("a"), F.col("b")], 16,
                                   [(0, 65535), (0, 65535)]).alias("z")
                     ).collect()
    zs = {(r["a"], r["b"]): r["z"] for r in rows}
    # near points near in z; far point far in z
    assert abs(zs[(1, 1)] - zs[(1, 2)]) < abs(zs[(1, 1)] - zs[(60000, 60000)])
    assert abs(zs[(1, 1)] - zs[(2, 1)]) < abs(zs[(1, 1)] - zs[(60000, 60000)])


def test_hilbert_matches_python_reference(spark):
    """Spark column implementation ≡ Skilling reference on random coords."""
    import random

    rng = random.Random(7)
    bits = 6
    pts = [(rng.randrange(1 << bits), rng.randrange(1 << bits))
           for _ in range(200)] + [(0, 0), (63, 63), (0, 63), (63, 0)]
    df = spark.createDataFrame(pts, "x int, y int")
    out = zorder.with_hilbert_value(
        df, ["x", "y"], bits_per_dim=bits,
        ranges=[(0, (1 << bits) - 1)] * 2, out_col="h")
    got = {(r["x"], r["y"]): r["h"] for r in out.collect()}
    for x, y in pts:
        assert got[(x, y)] == zorder.hilbert_index_py([x, y], bits), (x, y)


def test_hilbert_is_a_permutation_with_unit_steps(spark):
    """The full 16x16 grid maps to a bijection over [0, 256) and each
    consecutive pair of cells is one grid step apart (the Hilbert
    property Morton lacks — Morton jumps at quadrant seams)."""
    bits = 4
    side = 1 << bits
    pts = [(x, y) for x in range(side) for y in range(side)]
    df = spark.createDataFrame(pts, "x int, y int")
    out = zorder.with_hilbert_value(
        df, ["x", "y"], bits_per_dim=bits,
        ranges=[(0, side - 1)] * 2, out_col="h")
    byh = {r["h"]: (r["x"], r["y"]) for r in out.collect()}
    assert sorted(byh) == list(range(side * side))
    for h in range(1, side * side):
        (x0, y0), (x1, y1) = byh[h - 1], byh[h]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, (h, byh[h - 1], byh[h])


def test_hilbert_layout_prunes_both_dims(spark, catalog):
    df = spark.createDataFrame(GRID, "x int, y int, v int")
    catalog.create_table("ht", COLS, ["x", "y"])
    tbl = zorder.write_zordered(spark, catalog, "ht", df, n_buckets=16,
                                bits_per_dim=8, curve="hilbert")
    assert len(tbl.files) >= 8
    assert _frac_kept(tbl, ("=", "x", 7)) <= 0.5
    assert _frac_kept(tbl, ("=", "y", 7)) <= 0.5
    got = scan(spark, catalog, "ht",
               ("and", ("=", "x", 7), ("=", "y", 3))).collect()
    assert [(r["x"], r["y"], r["v"]) for r in got] == [(7, 3, 703)]


@pytest.mark.parametrize("props, files", [("", 3), (", 'numBuckets'='4'", 4)],
                         ids=["row-count", "numBuckets"])
def test_zorder_sizes_files_like_optimize(spark, catalog, hsession,
                                          monkeypatch, props, files):
    """OPTIMIZE ZORDER writes as many files as plain OPTIMIZE: the
    table's numBuckets, else one per DEFAULT_ROWS_PER_BUCKET rows."""
    monkeypatch.setattr(writer, "DEFAULT_ROWS_PER_BUCKET", 250)
    hsession.sql("CREATE TABLE zs (x INT, y INT, v INT) "
                 f"TBLPROPERTIES('keyCols'='x;y'{props})")
    writer.write_key_organized(spark, catalog, "zs", spark.createDataFrame(
        GRID[:600], "x int, y int, v int"), n_buckets=5)
    hsession.sql("OPTIMIZE zs")
    assert len(catalog.get_table("zs").files) == files
    hsession.sql("OPTIMIZE zs ZORDER BY (x, y)")
    assert len(catalog.get_table("zs").files) == files
