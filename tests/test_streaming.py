"""Structured Streaming ingest + windowed aggregation (availableNow
micro-batch over a file source — bounded, deterministic)."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from heracles_spark.streaming import ingest


def test_stream_into_key_table(spark, catalog, tmp_path):
    catalog.create_table("ev", [("k", "int"), ("v", "string")], ["k"])
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string") \
         .coalesce(1).write.parquet(str(src / "batch1"))
    q = ingest.stream_into_table(
        spark, catalog, "ev", str(src / "batch1"),
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    rows = sorted((r["k"], r["v"])
                  for r in catalog.read_table(spark, "ev").collect())
    assert rows == [(1, "a"), (2, "b")]
    assert catalog.get_table("ev").files  # file index refreshed


def test_windowed_counts_batch_parity(spark):
    rows = [("2024-01-01 00:10:00", "click", 1.0),
            ("2024-01-01 00:40:00", "click", 2.0),
            ("2024-01-01 01:10:00", "view", 3.0),
            ("2024-01-01 01:20:00", "click", 4.0)]
    df = (spark.createDataFrame(rows, "ts_s string, event_type string, value double")
          .withColumn("ts", F.col("ts_s").cast("timestamp")))
    got = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
           for r in ingest.windowed_event_counts(df).collect()}
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 01:00:00", "view")] == (1, 3.0)
    assert got[("2024-01-01 01:00:00", "click")] == (1, 4.0)


def test_session_windows(spark):
    rows = [("2024-01-01 00:00:00", 1), ("2024-01-01 00:10:00", 1),
            ("2024-01-01 02:00:00", 1), ("2024-01-01 00:05:00", 2)]
    df = (spark.createDataFrame(rows, "ts_s string, user_id int")
          .withColumn("ts", F.col("ts_s").cast("timestamp")))
    got = sorted((r["user_id"], r["n_events"])
                 for r in ingest.sessionized_counts(df).collect())
    assert got == [(1, 1), (1, 2), (2, 1)]   # user 1: 2 sessions


def test_stateful_running_stats(spark, tmp_path):
    """applyInPandasWithState: per-user state carried across micro-batches
    (two input files, maxFilesPerTrigger=1 ⇒ two batches)."""
    from heracles_spark.streaming.stateful import running_user_stats

    src = tmp_path / "events_src"
    src.mkdir()
    spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 1.0)],
                          "user_id long, value double") \
         .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame([(1, 2.0), (3, 7.0)],
                          "user_id long, value double") \
         .coalesce(1).write.parquet(str(src / "f2"))

    stream = (spark.readStream
              .schema("user_id long, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "*")))
    # timeout=None: a finite availableNow run with registered
    # processing-time timeouts never quiesces (empty micro-batches keep
    # scheduling), so awaitTermination only returns at its own timeout.
    out = running_user_stats(stream, timeout=None)
    import time
    t0 = time.time()
    q = (out.writeStream.format("memory").queryName("running_stats")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    assert time.time() - t0 < 120   # regression: used to wait out 180s
    rows = spark.sql("SELECT * FROM running_stats").collect()
    # last emitted update per user carries the running total
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final[1] == (3, 17.0)      # 2 events batch1 + 1 batch2, totals merged
    assert final[2] == (1, 1.0)
    assert final[3] == (1, 7.0)


def test_streaming_exact_dedup(spark, tmp_path):
    from pyspark.sql import functions as F

    from heracles_spark.streaming.stateful import streaming_exact_dedup

    src = tmp_path / "dedup_src"
    src.mkdir()
    rows = [("2024-01-01 00:00:00", 1, "a"), ("2024-01-01 00:05:00", 1, "a"),
            ("2024-01-01 00:10:00", 2, "b")]
    (spark.createDataFrame(rows, "ts_s string, k long, v string")
          .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
          .coalesce(1).write.parquet(str(src / "f1")))
    stream = (spark.readStream.schema("k long, v string, ts timestamp")
              .parquet(str(src / "*")))
    out = streaming_exact_dedup(stream, ["k"])
    q = (out.writeStream.format("memory").queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r["k"], r["v"])
                 for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert got == [(1, "a"), (2, "b")]


def test_stream_upsert_into_table(spark, catalog, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): batch 2 updates key 2,
    inserts key 3; within-batch dups collapse to the max-order_col row."""
    catalog.create_table("acct", [("k", "int"), ("v", "string"),
                                  ("seq", "int")], ["k"])
    from heracles_spark import writer
    writer.insert_rows(spark, catalog, "acct", "(1, 'a', 0), (2, 'b', 0)")

    src = tmp_path / "ups"
    src.mkdir()
    spark.createDataFrame([(2, "b2", 1), (2, "b1", 0)], "k int, v string, seq int") \
         .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame([(3, "c", 5)], "k int, v string, seq int") \
         .coalesce(1).write.parquet(str(src / "f2"))

    q = ingest.stream_upsert_into_table(
        spark, catalog, "acct", str(src / "*"), order_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt_ups"), max_files_per_trigger=1,
        available_now=True)
    q.awaitTermination(180)

    rows = sorted((r["k"], r["v"], r["seq"])
                  for r in catalog.read_table(spark, "acct").collect())
    assert rows == [(1, "a", 0), (2, "b2", 1), (3, "c", 5)]


def test_upsert_batch_replay_idempotent(spark, catalog, tmp_path):
    """foreachBatch is at-least-once; the per-batch MERGE must converge
    under replay (same batch applied twice ⇒ same table state)."""
    from heracles_spark import writer
    from heracles_spark.merge import MergeClause, merge_into

    catalog.create_table("acct2", [("k", "int"), ("v", "string")], ["k"])
    writer.insert_rows(spark, catalog, "acct2", "(1, 'a')")
    batch = spark.createDataFrame([(1, "a2"), (2, "b")], "k int, v string")
    on = "target.k = source.k"
    clauses = [MergeClause("matched", "update", assignments={"*": "*"}),
               MergeClause("not_matched", "insert", assignments={"*": "*"})]
    for _ in range(2):
        merge_into(spark, catalog, "acct2", batch, on, clauses,
                   check_ambiguity=False)
    rows = sorted((r["k"], r["v"])
                  for r in catalog.read_table(spark, "acct2").collect())
    assert rows == [(1, "a2"), (2, "b")]


def test_stream_ingest_keeps_rollup_fresh(spark, catalog, tmp_path):
    """Continuous aggregates: rollups named in refresh_rollups are
    refreshed after every micro-batch commit and match the full
    aggregate of everything ingested."""
    from pyspark.sql import functions as F

    from heracles_spark import rollup

    catalog.create_table("ev", [("k", "int"), ("grp", "string"),
                                ("v", "int")], ["k"])
    rollup.create_rollup(spark, catalog, "ev_by_grp", "ev", ["grp"],
                         {"n": ("count", "k"), "sv": ("sum", "v")})
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(i, f"g{i % 2}", i) for i in range(10)],
        "k int, grp string, v int").coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(i, f"g{i % 3}", -i) for i in range(100, 110)],
        "k int, grp string, v int").coalesce(1) \
        .write.parquet(str(src / "b2"))
    q = ingest.stream_into_table(
        spark, catalog, "ev", str(src) + "/*",
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
        max_files_per_trigger=1, refresh_rollups=["ev_by_grp"])
    q.awaitTermination(180)
    got = sorted(map(tuple,
        catalog.read_table(spark, "ev_by_grp").collect()))
    exp = sorted(map(tuple,
        catalog.read_table(spark, "ev")
               .groupBy("grp")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("v").cast("long")).alias("sv"))
               .collect()))
    assert got == exp and len(got) == 3


def test_windowed_counts_value_col(spark):
    """value_col is parameterized: frames without a 'value' column
    aggregate counts only instead of failing analysis."""
    import datetime

    rows = [(datetime.datetime(2026, 1, 1, h, 5), "click")
            for h in range(3)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = ingest.windowed_event_counts(df)
    assert "total_value" not in out.columns
    assert out.count() == 3

    df2 = df.withColumn("amt", F.lit(2.5))
    out2 = ingest.windowed_event_counts(df2, value_col="amt")
    row = out2.orderBy("window_start").collect()[0]
    assert row.n_events == 1 and row.total_value == 2.5


def test_stream_stream_interval_join(spark, tmp_path):
    from pyspark.sql import functions as F

    from heracles_spark.streaming.ingest import stream_stream_interval_join

    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    clicks_dir.mkdir(); buys_dir.mkdir()
    clicks = [("2024-01-01 00:00:00", 1), ("2024-01-01 00:40:00", 1),
              ("2024-01-01 00:00:00", 2)]
    buys = [("2024-01-01 00:50:00", 1, 99.0),   # joins the 00:40 click only
            ("2024-01-01 02:00:00", 2, 10.0)]   # click too old: no match
    (spark.createDataFrame(clicks, "ts_s string, user_id long")
          .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
          .coalesce(1).write.parquet(str(clicks_dir / "f")))
    (spark.createDataFrame(buys, "ts_s string, user_id long, amount double")
          .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
          .coalesce(1).write.parquet(str(buys_dir / "f")))
    cs = (spark.readStream.schema("user_id long, ts timestamp")
               .parquet(str(clicks_dir / "*")))
    bs = (spark.readStream.schema("user_id long, amount double, ts timestamp")
               .parquet(str(buys_dir / "*")))
    out = stream_stream_interval_join(cs, bs, within="30 minutes")
    q = (out.writeStream.format("memory").queryName("ssj_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
            .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = [(r["user_id"], str(r["purchase_ts"]), str(r["click_ts"]))
           for r in spark.sql(
               "SELECT * FROM ssj_out ORDER BY user_id").collect()]
    assert got == [(1, "2024-01-01 00:50:00", "2024-01-01 00:40:00")]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from pyspark.sql import functions as F

    from heracles_spark.streaming.ingest import \
        streaming_dedup_within_watermark

    src = tmp_path / "wm_dedup_src"
    src.mkdir()
    rows = [("2024-01-01 00:00:00", 10, "x"),
            ("2024-01-01 00:20:00", 10, "x-dup"),   # same id inside horizon
            ("2024-01-01 00:30:00", 11, "y")]
    (spark.createDataFrame(rows, "ts_s string, event_id long, v string")
          .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
          .coalesce(1).write.parquet(str(src / "f1")))
    stream = (spark.readStream.schema("event_id long, v string, ts timestamp")
                   .parquet(str(src / "*")))
    out = streaming_dedup_within_watermark(stream, ["event_id"],
                                           watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("wmd_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_wmd"))
            .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r["event_id"], r["v"])
                 for r in spark.sql("SELECT * FROM wmd_out").collect())
    assert got == [(10, "x"), (11, "y")]


def test_stream_events_nanos_layout(spark, tmp_path):
    """stream_events must normalize BOTH physical timestamp layouts the
    driver has shipped; fabricate the TIMESTAMP(NANOS) variant (read as
    long under nanosAsLong) and check the streamed window agg equals
    the batch computation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000_000            # epoch nanos
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([base, base + 10 * 60 * 1_000_000_000,
                        base + 2 * 3600 * 1_000_000_000],
                       pa.timestamp("ns")),
        "user_id": pa.array([1, 1, 1], pa.int64()),
        "event_type": pa.array(["click"] * 3),
        "value": pa.array([1.0, 2.0, 4.0], pa.float64()),
        "props": pa.array(["{}"] * 3),
    })
    sf = tmp_path / "sfx"
    sf.mkdir()
    pq.write_table(tbl, sf / "events.parquet",
                   use_deprecated_int96_timestamps=False,
                   coerce_timestamps=None)
    evt = ingest.stream_events(spark, str(sf))
    out = ingest.windowed_event_counts(evt, ts_col="ts_evt",
                                       key_col="event_type",
                                       value_col="value")
    res = ingest.run_to_completion(
        out.select(F.unix_micros("window_start").alias("ws"),
                   "n_events", "total_value"),
        "nanos_layout_check")
    got = sorted((r["ws"], r["n_events"], r["total_value"])
                 for r in res.collect())
    h = 3600 * 1_000_000
    start = (base // 1000) // h * h
    assert got == [(start, 2, 3.0), (start + 2 * h, 1, 4.0)]


def test_stream_flag_near_dups(spark, tmp_path):
    """LSH dedup-at-ingest: batch 2 contains a near-copy of a batch-1
    doc and a fresh doc — only the near-copy is flagged; a replay of
    batch 2 must not self-flag (store probe excludes own batch)."""
    from heracles_spark.streaming.dedup_ingest import (
        flag_near_dups_batch, stream_flag_near_dups)

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    src = tmp_path / "arrivals"
    src.mkdir()
    b1 = spark.createDataFrame([(1, base), (2, "completely different "
                                "words about spark and parquet files "
                                "with nothing shared at all here")],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(3, base + " extra"),
                                (4, "another unrelated document talking "
                                    "about streams windows and state "
                                    "stores only")],
                               "doc_id long, text string")
    b1.coalesce(1).write.parquet(str(src / "f1"))
    store = str(tmp_path / "store")

    q = stream_flag_near_dups(
        spark, str(src) + "/*", "doc_id long, text string", store,
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.processAllAvailable(); q.stop()
    # batch 1 alone: nothing prior, nothing flagged
    flags = spark.read.parquet(store + "/flags")
    assert flags.count() == 0

    b2.coalesce(1).write.parquet(str(src / "f2"))
    q = stream_flag_near_dups(
        spark, str(src) + "/*", "doc_id long, text string", store,
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.processAllAvailable(); q.stop()
    flags = spark.read.parquet(store + "/flags")
    got = {r["doc_id"]: r["n_bucket_hits"] for r in flags.collect()}
    assert 3 in got and got[3] >= 1        # near-copy flagged
    assert 4 not in got                    # fresh doc clean

    # replay batch 2 (same batch id) directly: doc 3 still collides
    # with batch 1's doc 1, but doc 4 must stay clean — if the probe
    # saw the replayed batch's OWN store entries, doc 4 would
    # self-flag through them.
    replay = flag_near_dups_batch(spark, b2, store, batch_id=1)
    got2 = {r["doc_id"] for r in replay.collect()}
    assert 3 in got2 and 4 not in got2


def test_stream_ingest_then_minor_compaction(spark, catalog, tmp_path):
    """The operational pairing: per-batch streaming appends accrete
    small files; OPTIMIZE COMPACT bin-packs them WITHOUT touching a
    pre-existing adequately-sized file, rows and key layout intact —
    the trickle-ingest maintenance loop at 100 TB."""
    from heracles_spark import writer

    catalog.create_table("evc", [("k", "int"), ("v", "string")], ["k"])
    # one adequately-sized batch write first
    big = spark.createDataFrame([(i, f"v{i}") for i in range(400)],
                                "k int, v string")
    writer.write_key_organized(spark, catalog, "evc", big, n_buckets=1)
    big_paths = {f["path"] for f in catalog.get_table("evc").files}

    src = tmp_path / "srcc"
    src.mkdir()
    for b in range(4):
        (spark.createDataFrame([(1000 + b * 2, "x"), (1001 + b * 2, "y")],
                               "k int, v string")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(src / f"b{b}.parquet")))
    # one stream, one file per trigger → 4 micro-batches, 4 appends
    q = ingest.stream_into_table(
        spark, catalog, "evc", str(src / "*"),
        checkpoint_dir=str(tmp_path / "ckc"), available_now=True,
        max_files_per_trigger=1)
    q.awaitTermination(120)
    tbl = catalog.get_table("evc")
    assert len(tbl.files) == 1 + 4          # 4 trickle files accreted

    st = writer.compact_small_files(spark, catalog, "evc",
                                    target_rows=400)
    assert st["files_compacted"] == 4 and st["files_written"] == 1
    after = catalog.get_table("evc")
    assert big_paths <= {f["path"] for f in after.files}
    assert len(after.files) == 2
    got = catalog.read_table(spark, "evc").count()
    assert got == 400 + 8
    # pruned point lookup still lands in the right file set
    from heracles_spark import pruning
    keep = pruning.prune_files(after.files, ("=", "k", 1003),
                               after.key_cols)
    assert len(keep) == 1


def test_stream_ingest_incremental_text_index(spark, catalog, tmp_path):
    """Streaming appends keep a TEXT INDEX current through the
    INCREMENTAL refresh path (only each batch's files re-explode), and
    the final postings equal a from-scratch rebuild."""
    from heracles_spark import textindex

    catalog.create_table("evt_ti", [("k", "int"), ("body", "string")],
                         ["k"])
    from heracles_spark import writer
    writer.write_key_organized(
        spark, catalog, "evt_ti",
        spark.createDataFrame([(1, "spark joins tables")],
                              "k int, body string"))
    textindex.create_text_index(spark, catalog, "evt_ti", "body", "bidx")

    src = tmp_path / "tisrc"
    src.mkdir()
    rows = [(10, "spark streams data"), (11, "ducks stream data")]
    for i, r in enumerate(rows):
        (spark.createDataFrame([r], "k int, body string")
         .coalesce(1).write.parquet(str(src / f"b{i}.parquet")))
    q = ingest.stream_into_table(
        spark, catalog, "evt_ti", str(src / "*"),
        checkpoint_dir=str(tmp_path / "tick"), available_now=True,
        max_files_per_trigger=1, refresh_text_indexes=["bidx"])
    q.awaitTermination(120)
    assert textindex.LAST_TEXT_INDEX_STATS["mode"] == "incremental"

    got = sorted((r.term, r.k, r.tf) for r in
                 spark.sql("SELECT * FROM evt_ti__tidx_bidx").collect())
    # rebuild from scratch and compare row-for-row
    textindex.drop_text_index(spark, catalog, "evt_ti", "bidx")
    textindex.create_text_index(spark, catalog, "evt_ti", "body", "bidx")
    want = sorted((r.term, r.k, r.tf) for r in
                  spark.sql("SELECT * FROM evt_ti__tidx_bidx").collect())
    assert got == want
    assert ("spark", 10, 1) in got and ("stream", 11, 1) in got


def test_stream_ingest_maintains_vector_index(spark, catalog, tmp_path):
    """Streaming appends keep a VECTOR INDEX current through the
    incremental add-without-retrain path: each batch's vectors are
    assigned to the existing centroids and appended to the
    cell-partitioned store; the final store equals a from-scratch
    assignment of the whole table with the same centroids."""
    import random

    from heracles_spark import vectorindex as vx
    from heracles_spark import writer
    from heracles_spark.operators import similarity

    rng = random.Random(31)

    def vecs(n, start):
        return [(start + i, [rng.uniform(-1, 1) for _ in range(8)], 0)
                for i in range(n)]

    catalog.create_table(
        "emb_s", [("vec_id", "bigint"), ("embedding", "array<float>"),
                  ("label", "int")], ["vec_id"])
    writer.write_key_organized(
        spark, catalog, "emb_s",
        spark.createDataFrame(
            vecs(120, 0), "vec_id long, embedding array<float>, label int"))
    vx.create_vector_index(spark, catalog, "emb_s", "embedding", "v",
                           cells=4, sample=100)
    cents = vx.load_centroids(catalog, "emb_s", "v")

    src = tmp_path / "vsrc"
    src.mkdir()
    for i in range(2):
        (spark.createDataFrame(
            vecs(20, 1000 + 100 * i),
            "vec_id long, embedding array<float>, label int")
         .coalesce(1).write.parquet(str(src / f"b{i}.parquet")))
    from heracles_spark.streaming import ingest
    q = ingest.stream_into_table(
        spark, catalog, "emb_s", str(src / "*"),
        checkpoint_dir=str(tmp_path / "vck"), available_now=True,
        max_files_per_trigger=1, refresh_vector_indexes=["v"])
    q.awaitTermination(120)
    assert vx.LAST_VECTOR_INDEX_STATS["mode"] == "incremental"
    # centroids untouched; store == fresh assignment of current table
    assert vx.load_centroids(catalog, "emb_s", "v") == cents
    st = vx.read_store(spark, catalog, "emb_s", "v")
    assert st.count() == 160
    fresh = similarity.ivf_build(catalog.read_table(spark, "emb_s"),
                                 id_col="vec_id", centroids=cents)
    got = {(r["vec_id"], r["cell_id"]) for r in
           st.select("vec_id", "cell_id").collect()}
    want = {(r["vec_id"], r["cell_id"]) for r in
            fresh.select("vec_id", "cell_id").collect()}
    assert got == want


def test_stream_ingest_keeps_statistics_fresh(spark, catalog, tmp_path):
    """refresh_stats=True: catalog ANALYZE statistics ride the same
    per-micro-batch maintenance as rollups/indexes — each pure-append
    batch takes the incremental path (counts add, NDV sketches union),
    so the stats end exactly where a full re-ANALYZE would land."""
    import json

    from heracles_spark import writer

    catalog.create_table("evs", [("k", "int"), ("v", "double")], ["k"])
    writer.insert_rows(spark, catalog, "evs", "(0, 0.0)")
    writer.analyze_table(spark, catalog, "evs", for_columns=True)
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(i, float(i)) for i in range(1, 11)],
                          "k int, v double").coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame([(i, None) for i in range(100, 105)],
                          "k int, v double").coalesce(1) \
        .write.parquet(str(src / "b2"))
    q = ingest.stream_into_table(
        spark, catalog, "evs", str(src) + "/*",
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
        max_files_per_trigger=1, refresh_stats=True)
    q.awaitTermination(180)
    st = json.loads(catalog.get_table("evs").properties["stats"])
    assert st["rows"] == 16
    assert st["columns"]["v"]["nulls"] == 5
    assert st["columns"]["k"]["ndv"] == 16      # HLL exact at small n
    assert st["columns"]["v"]["max"] == 10.0
    # stats are stamped at the data version they describe (the analyze
    # commit itself is one version later — fresh, not stale)
    assert st["analyzed_version"] == catalog.get_table("evs").version - 1
