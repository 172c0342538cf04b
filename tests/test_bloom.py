"""Bloom-filter file skipping for point predicates on non-key columns.

The reference (and the min/max index alike) can only prune on KEY
order; a `WHERE nonkey = v` scans every file. Tables declaring
``bloomCols`` get per-file blooms in the catalog index (tier 2) and
parquet-native blooms for in-file row-group skipping (tier 1).
"""
from __future__ import annotations

import pytest

from heracles_spark import bloom, pruning, writer


# -- kernel properties ----------------------------------------------------

def test_bloom_no_false_negatives():
    vals = [f"u{i}" for i in range(5000)]
    b = bloom.build(vals)
    assert all(bloom.may_contain(b, v) for v in vals)


def test_bloom_fpp_near_one_percent():
    b = bloom.build([f"u{i}" for i in range(5000)])
    probes = [f"absent{i}" for i in range(20000)]
    fp = sum(bloom.may_contain(b, p) for p in probes) / len(probes)
    assert fp < 0.03, fp


def test_bloom_nulls_and_cardinality_cap():
    assert bloom.build([None, None]) is not None      # empty bloom: all NO
    assert not bloom.may_contain(bloom.build([None]), "x")
    cap = bloom.MAX_NDV
    try:
        bloom.MAX_NDV = 10
        assert bloom.build(range(11)) is None
    finally:
        bloom.MAX_NDV = cap


def test_bloom_ast_semantics():
    b = {"v": bloom.build(["a", "b"])}
    assert bloom.may_match(("=", "v", "a"), b)
    assert not bloom.may_match(("=", "v", "zzz"), b)
    assert bloom.may_match(("=", "other", "zzz"), b)          # no bloom: MAY
    assert bloom.may_match(("in", "v", ["zzz", "b"]), b)
    assert not bloom.may_match(("in", "v", ["x", "y"]), b)
    assert not bloom.may_match(("and", ("=", "v", "zzz"),
                                ("isnotnull", "v")), b)
    assert bloom.may_match(("or", ("=", "v", "zzz"),
                            ("isnotnull", "v")), b)
    assert bloom.may_match(("not", ("=", "v", "a")), b)       # NOT: MAY
    assert bloom.may_match(("<", "v", "a"), b)                # range: MAY


def test_bloom_float_probe_is_may():
    # The set keeps -0.0 only; a probe for 0.0 (equal in Spark's
    # comparison) must not read NO.
    b = {"v": bloom.build([-0.0, 0.0, 2.5])}
    assert bloom.may_match(("=", "v", 0.0), b)
    assert bloom.may_match(("=", "v", -0.0), b)
    assert bloom.may_match(("in", "v", [0.0, 7.0]), b)


# -- end-to-end through writer + pruner -----------------------------------

@pytest.fixture()
def bloomed(spark, catalog):
    catalog.create_table(
        "bt", [("k", "int"), ("user", "string"), ("v", "int")], ["k"],
        properties={"bloomCols": "user"})
    # 4 files keyed by k; each file holds a DISJOINT set of users, but
    # user is uncorrelated with the key order for min/max purposes
    # (strings interleave), so only the bloom can prune.
    rows = [(i, f"user_{i % 4}_{i}", i) for i in range(400)]
    df = spark.createDataFrame(rows, "k int, user string, v int")
    writer.write_key_organized(spark, catalog, "bt", df, n_buckets=4)
    return catalog.get_table("bt")


def test_file_index_carries_blooms(bloomed):
    assert len(bloomed.files) == 4
    assert all("user" in f.get("bloom", {}) for f in bloomed.files)


def test_bloom_prunes_files_minmax_cannot(spark, catalog, bloomed):
    # user_2_102 lives with k=102 → exactly one file holds it.
    pred = ("=", "user", "user_2_102")
    keep_minmax = [f for f in bloomed.files
                   if pruning.may_match(pred, f.get("min", {}),
                                        f.get("max", {}), bloomed.key_cols)]
    assert len(keep_minmax) == 4       # min/max can't prune a non-key col
    keep = pruning.prune_files(bloomed.files, pred, bloomed.key_cols)
    assert len(keep) == 1
    got = pruning.scan(spark, catalog, "bt", pred).collect()
    assert [r.k for r in got] == [102]


def test_bloom_pruning_never_loses_rows(spark, catalog, bloomed):
    # Every present value must survive pruning (no false negatives).
    for k in (0, 101, 399):
        pred = ("=", "user", f"user_{k % 4}_{k}")
        got = pruning.scan(spark, catalog, "bt", pred).collect()
        assert [r.k for r in got] == [k]
    # Absent values prune to zero files (modulo ~1% fpp over 4 files).
    keep = pruning.prune_files(bloomed.files, ("=", "user", "nobody"),
                               bloomed.key_cols)
    assert len(keep) <= 1


def test_bloom_survives_sidecar_index_roundtrip(spark, catalog, bloomed):
    cap = catalog.FILES_INLINE_MAX
    try:
        catalog.FILES_INLINE_MAX = 1          # force the parquet sidecar
        catalog._save(bloomed)
        catalog._cache.clear()
        reloaded = catalog.get_table("bt")
    finally:
        catalog.FILES_INLINE_MAX = cap
    assert all("user" in f.get("bloom", {}) for f in reloaded.files)
    keep = pruning.prune_files(reloaded.files, ("=", "user", "user_2_102"),
                               reloaded.key_cols)
    assert len(keep) == 1


def test_parquet_native_bloom_written(spark, catalog, bloomed,
                                      bloom_offsets):
    # Tier 1: the parquet files themselves carry bloom filters for the
    # declared column (row-group skipping inside the JVM reader), and
    # only for it.
    for f in bloomed.files:
        offs = bloom_offsets(f["path"])
        assert offs["user"] >= 0
        assert offs["k"] == -1 and offs["v"] == -1
        assert spark.read.parquet(f["path"]).count() == f["rows"]
