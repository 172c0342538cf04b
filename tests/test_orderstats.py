"""Unified order-statistics operator (operators/orderstats): brute-force
property checks + the plan discipline the round-7 verdict asked for —
the CDF walk must never plan a row_number window over raw rows."""

from __future__ import annotations

import math
import random

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _brute_median(vals):
    """PERCENTILE_DISC(0.5): element at rank ceil(n/2)."""
    s = sorted(vals)
    return s[math.ceil(len(s) / 2) - 1]


def _brute_weighted_median(pairs):
    """First value whose cumulative weight w satisfies 2*cum >= tot."""
    tot = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(pairs):
        cum += w
        if 2 * cum >= tot:
            return v
    raise AssertionError("unreachable")


def _brute_quantile(vals, p):
    s = sorted(vals)
    return s[math.ceil(p * len(s)) - 1]


@pytest.fixture(scope="module")
def rows():
    rng = random.Random(8101)
    data = []
    for g in ("a", "b", "c"):
        n = rng.randint(17, 240)
        for i in range(n):
            # duplicates on purpose: the CDF walk aggregates them
            data.append((g, rng.randint(-50, 50), rng.randint(1, 9)))
    return data


def test_grouped_median_matches_brute_force(spark, rows):
    from heracles_spark.operators.orderstats import grouped_median

    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {r["g"]: r["m"]
           for r in grouped_median(df, ["g"], "v", out_col="m").collect()}
    for g in ("a", "b", "c"):
        vals = [v for gg, v, _ in rows if gg == g]
        assert got[g] == _brute_median(vals)


def test_grouped_weighted_median_matches_brute_force(spark, rows):
    from heracles_spark.operators.orderstats import grouped_median

    df = spark.createDataFrame(rows, "g string, v long, w long")
    res = grouped_median(df, ["g"], "v", weight_col="w",
                         out_col="m", total_col="tw").collect()
    got = {r["g"]: (r["m"], r["tw"]) for r in res}
    for g in ("a", "b", "c"):
        pairs = [(v, w) for gg, v, w in rows if gg == g]
        assert got[g] == (_brute_weighted_median(pairs),
                          sum(w for _, w in pairs))


def test_grouped_quantile_disc_matches_brute_force(spark, rows):
    from heracles_spark.operators.orderstats import grouped_quantile_disc

    df = spark.createDataFrame(rows, "g string, v long, w long")
    ps = {"p10": 0.10, "p25": 0.25, "p50": 0.50, "p75": 0.75,
          "p90": 0.90, "p100": 1.0}
    res = grouped_quantile_disc(df, ["g"], "v", ps).collect()
    got = {r["g"]: r for r in res}
    for g in ("a", "b", "c"):
        vals = [v for gg, v, _ in rows if gg == g]
        assert got[g]["n"] == len(vals)
        for name, p in ps.items():
            assert got[g][name] == _brute_quantile(vals, p), (g, name)


def test_grouped_mad_matches_brute_force(spark, rows):
    from heracles_spark.operators.orderstats import grouped_mad

    df = spark.createDataFrame(rows, "g string, v long, w long")
    res = grouped_mad(df, ["g"], "v", median_col="med",
                      mad_col="mad").collect()
    got = {r["g"]: (r["med"], r["mad"]) for r in res}
    for g in ("a", "b", "c"):
        vals = [v for gg, v, _ in rows if gg == g]
        med = _brute_median(vals)
        mad = _brute_median([abs(v - med) for v in vals])
        assert got[g] == (med, mad)


def test_grouped_quantile_cont_matches_duckdb_native(spark, rows):
    """grouped_quantile_cont implements PERCENTILE_CONT semantics —
    validated against DuckDB's native quantile_cont (not just our own
    formula re-spelled in SQL)."""
    import duckdb

    from heracles_spark.operators.orderstats import grouped_quantile_cont

    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {r["g"]: r for r in grouped_quantile_cont(
        df, ["g"], "v", {"p25": 0.25, "p50": 0.5, "p90": 0.9}).collect()}
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(
        rows, columns=["g", "v", "w"]))
    want = con.execute(
        "SELECT g, quantile_cont(v, 0.25) p25, quantile_cont(v, 0.5) p50,"
        " quantile_cont(v, 0.9) p90 FROM t GROUP BY g").fetchall()
    for g, p25, p50, p90 in want:
        assert got[g]["p25"] == pytest.approx(p25, abs=1e-9)
        assert got[g]["p50"] == pytest.approx(p50, abs=1e-9)
        assert got[g]["p90"] == pytest.approx(p90, abs=1e-9)
        assert got[g]["n"] == sum(1 for gg, _, _ in rows if gg == g)


def test_grouped_equidepth_histogram_matches_brute_force(spark, rows):
    """Every (group, bucket) row checks against the python recomputation
    of ⌈cum·k/tot⌉ over the sorted multiset, and bucket weights sum to
    the group total (no row lost to an empty bucket)."""
    from heracles_spark.operators.orderstats import (
        grouped_equidepth_histogram)

    k = 5
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {(r["g"], r["bucket"]): (r["hi"], r["n_rows"], r["n_values"])
           for r in grouped_equidepth_histogram(
               df, ["g"], "v", k).collect()}
    for g in ("a", "b", "c"):
        vals = sorted(v for gg, v, _ in rows if gg == g)
        tot = len(vals)
        expect: dict[int, list[int]] = {}
        cum = 0
        from itertools import groupby
        for v, grp in groupby(vals):
            w = len(list(grp))
            cum += w
            b = (cum * k + tot - 1) // tot
            expect.setdefault(b, []).append((v, w))
        for b, items in expect.items():
            hi, n_rows, n_values = got[(g, b)]
            assert hi == max(v for v, _ in items)
            assert n_rows == sum(w for _, w in items)
            assert n_values == len(items)
        assert sum(nr for (gg, _), (_, nr, _) in got.items()
                   if gg == g) == tot
        assert not {b for (gg, b) in got if gg == g} - set(expect)


def test_single_row_groups(spark):
    from heracles_spark.operators.orderstats import (grouped_mad,
                                                     grouped_median)

    df = spark.createDataFrame([("a", 7), ("b", -3)], "g string, v long")
    med = {r["g"]: r["median"] for r in
           grouped_median(df, ["g"], "v").collect()}
    assert med == {"a": 7, "b": -3}
    mad = {r["g"]: r["mad"] for r in grouped_mad(df, ["g"], "v").collect()}
    assert mad == {"a": 0, "b": 0}


def test_no_raw_row_window(spark):
    """The round-7 verdict pin: events_value_mad and
    lineitem_quantile_disc must not plan a row_number window over raw
    rows — the CDF walk's only windows are keyed cumulative sums over
    the distinct-value relation, BELOW which sits the combinable
    pre-aggregation. We pin both facts: no row_number anywhere in the
    executed plan, and a HashAggregate present (the distinct-value
    collapse)."""
    from heracles_spark.queries.extensions import events_value_mad
    from heracles_spark.queries.relational4 import lineitem_quantile_disc

    for fn in (events_value_mad, lineitem_quantile_disc):
        df = fn(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "row_number" not in plan, fn.__name__
        assert "HashAggregate" in plan, fn.__name__
        assert "Window" in plan, fn.__name__     # the keyed cumsum


def test_queries_match_oracles_at_sf_small(spark):
    """The three routed queries still match their DuckDB oracles
    bit-for-bit after the CDF-walk rewrite."""
    import duckdb

    from heracles_spark.queries.curation7 import (W_MEDIAN_SQL,
                                                  lineitem_weighted_median)
    from heracles_spark.queries.extensions import MAD_SQL, events_value_mad
    from heracles_spark.queries.relational4 import (QDISC_SQL,
                                                    lineitem_quantile_disc)

    con = duckdb.connect()
    for t in ("lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_SMALL}/{t}.parquet')")
    for fn, sql in ((events_value_mad, MAD_SQL),
                    (lineitem_quantile_disc, QDISC_SQL),
                    (lineitem_weighted_median, W_MEDIAN_SQL)):
        spark_rows = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
        ora_rows = [tuple(r) for r in con.execute(sql).fetchall()]
        assert len(spark_rows) == len(ora_rows), fn.__name__
        for a, b in zip(spark_rows, ora_rows):
            for x, y in zip(a, b):
                if isinstance(x, float):
                    assert x == pytest.approx(float(y), abs=1e-9)
                else:
                    assert x == y, (fn.__name__, a, b)


def test_grouped_rank_row_vs_bruteforce(spark):
    """grouped_rank_row must equal a full sort's lower median under
    (value, *tiebreaks), including heavy ties, without any full-group
    sort window (round-9 Theil-Sen hardening)."""
    import random

    from heracles_spark.operators.orderstats import grouped_rank_row

    rnd = random.Random(9)
    rows = []
    for g in ("a", "b", "c"):
        n = {"a": 501, "b": 500, "c": 7}[g]
        for i in range(n):
            v = float(rnd.choice([0.0, 1.5, 2.25, -3.0, 8.0]))
            rows.append((g, v, rnd.randrange(20), rnd.randrange(20)))
    df = spark.createDataFrame(
        rows, "g string, slope double, num int, den int")
    got = {r.g: (r.slope, r.num, r.den, r.tot)
           for r in grouped_rank_row(df, ["g"], "slope",
                                     ["num", "den"]).collect()}
    from collections import defaultdict
    by_g = defaultdict(list)
    for g, v, num, den in rows:
        by_g[g].append((v, num, den))
    for g, vals in by_g.items():
        vals.sort()
        want = vals[(len(vals) + 1) // 2 - 1]     # lower median, 1-based
        assert got[g][:3] == want, g
        assert got[g][3] == len(vals)


def test_theil_sen_long_span_no_full_pair_sort(spark):
    """Synthetic long-span series (3000 hours ⇒ ~4.5M pairs/type): the
    slope median must come out exactly, and the executed plan must not
    contain a window that sorts the full pair relation of a group in
    one task — every slope-ordered window is value-range-bucketed
    (partition spec carries the __b bucket column)."""
    import re as _re

    from pyspark.sql import functions as F

    from heracles_spark.operators.orderstats import grouped_rank_row

    hours = 3000
    hourly = spark.createDataFrame(
        [("t", h, 100 + 3 * h + (h * h) % 7) for h in range(hours)],
        "event_type string, h long, y long").localCheckpoint()
    a = hourly.select("event_type", F.col("h").alias("h1"),
                      F.col("y").alias("y1"))
    b = hourly.select("event_type", F.col("h").alias("h2"),
                      F.col("y").alias("y2"))
    pairs = (a.join(F.broadcast(b), "event_type")
              .where(F.col("h2") > F.col("h1"))
              .select("event_type",
                      (F.col("y2") - F.col("y1")).alias("num"),
                      (F.col("h2") - F.col("h1")).alias("den"))
              .withColumn("slope",
                          F.try_divide(F.col("num").cast("double"),
                                       F.col("den").cast("double"))))
    med = grouped_rank_row(pairs, ["event_type"], "slope",
                           ["num", "den"])
    row = med.collect()[0]
    # signal 3/hour + bounded periodic noise: the median slope is 3
    assert abs(row.slope - 3.0) < 0.01
    assert row.tot == hours * (hours - 1) // 2
    plan = med._jdf.queryExecution().executedPlan().toString()
    # every window ordered by the slope must be bucket-partitioned;
    # the only event_type-partitioned sorts are over the tie set
    # (num, den) or the per-bucket offsets (__b) — never the slope
    # over the full pair relation.
    for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "slope" in spec:
            assert "__b" in spec, spec


def test_grouped_rank_row_null_values_excluded(spark):
    """Round-9 review fix: NULL value rows never swallow a group —
    ranks are over non-null values."""
    from heracles_spark.operators.orderstats import grouped_rank_row

    df = spark.createDataFrame(
        [("g", None, 1), ("g", None, 2), ("g", None, 3),
         ("g", 1.0, 4), ("g", 2.0, 5)],
        "g string, v double, t int")
    got = grouped_rank_row(df, ["g"], "v", ["t"]).collect()
    assert len(got) == 1
    assert got[0].v == 1.0 and got[0].tot == 2   # lower median of {1,2}


def test_grouped_rank_row_bounds_hint_identical(spark):
    """Round-13: a bounds_hint — exact, loose, or plain wrong — never
    changes grouped_rank_row's output (bucket clamping), it only
    removes the bounds pass; and spread_bounds_hint is sound for
    difference columns (every x−y lies inside it)."""
    import random

    from heracles_spark.operators.orderstats import (grouped_rank_row,
                                                     spread_bounds_hint)

    rnd = random.Random(13)
    rows = [(g, float(rnd.choice([0.0, 1.5, 2.25, -3.0, 8.0])),
             rnd.randrange(20), rnd.randrange(20))
            for g in ("a", "b") for _ in range(400)]
    df = spark.createDataFrame(
        rows, "g string, slope double, num int, den int")
    base = sorted(map(tuple, grouped_rank_row(
        df, ["g"], "slope", ["num", "den"]).collect()))
    for hint in ((-3.0, 8.0), (-1000.0, 1000.0), (5.0, 6.0)):
        got = sorted(map(tuple, grouped_rank_row(
            df, ["g"], "slope", ["num", "den"],
            bounds_hint=hint).collect()))
        assert got == base, hint
    # spread_bounds_hint soundness on the difference domain
    lo, hi = spread_bounds_hint(df.select("slope"), "slope")
    vals = [r[1] for r in rows]
    for x in vals[:50]:
        for y in vals[:50]:
            assert lo <= x - y <= hi
    # empty / all-NULL inputs decline the hint
    empty = spark.createDataFrame([], "slope double")
    assert spread_bounds_hint(empty, "slope") is None


def test_grouped_cdf_hint_single_broadcast(spark):
    """Round-13 (second pass): with a bounds_hint the offsets AND the
    group totals ride ONE broadcast relation — the plan carries a
    single broadcast join, not an offsets join plus a totals join
    (guide §2.4: one fewer broadcast exchange + two fewer aggregate
    stages per CDF query). Values stay identical to the no-hint path."""
    import random

    from heracles_spark.operators.orderstats import grouped_cdf
    from heracles_spark.plans import plan_node_names

    rnd = random.Random(131)
    rows = [(g, float(rnd.randrange(100)))
            for g in ("a", "b", "c") for _ in range(500)]
    df = spark.createDataFrame(rows, "g string, v double")
    base = sorted(map(tuple, grouped_cdf(df, ["g"], "v").collect()))
    hinted = grouped_cdf(df, ["g"], "v", bounds_hint=(0.0, 99.0))
    assert sorted(map(tuple, hinted.collect())) == base
    aqe = hinted._jdf.queryExecution().executedPlan()
    assert aqe.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    assert aqe.isFinalPlan()            # the walk below reads the final plan
    assert plan_node_names(aqe).count("BroadcastHashJoinExec") == 1
    # whole-relation (empty group_cols) hint path stays sound too
    whole = grouped_cdf(df.select("v"), [], "v", bounds_hint=(0.0, 99.0))
    base_whole = sorted(map(tuple,
                            grouped_cdf(df.select("v"), [], "v").collect()))
    assert sorted(map(tuple, whole.collect())) == base_whole
