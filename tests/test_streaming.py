"""Structured Streaming incremental ingest (SURVEY §2.10): files arriving
in a watch dir are loaded per micro-batch with the same dedup sink as
batch mode; close() finishes the collection (counts + completed_at)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kingfisher_process_spark.store import Store
from kingfisher_process_spark.streaming.ingest import StreamingLoader


def _pkg(ocid, rid, date, **fields):
    return {
        "uri": "http://example.com/pkg", "publisher": {"name": "ex"},
        "releases": [{"ocid": ocid, "id": rid, "date": date, **fields}],
    }


def test_streaming_ingest_end_to_end(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    watch = tmp_path / "incoming"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")

    sl = StreamingLoader(
        spark, store, "stream_src", "2020-01-01 00:00:00", str(watch),
        data_type={"format": "release package", "concatenated": False, "array": False},
    )

    # first wave of files
    (watch / "a.json").write_text(json.dumps(_pkg("ocds-st-1", "1", "2020-01-01")))
    (watch / "b.json").write_text(json.dumps(_pkg("ocds-st-2", "1", "2020-01-02")))
    q = sl.start(ckpt)
    q.processAllAvailable()
    q.stop()
    assert store.read("release").count() == 2

    # late-arriving file: restart from the checkpoint — only the new file
    # is processed (exactly-once across micro-batches)
    (watch / "c.json").write_text(json.dumps(_pkg("ocds-st-1", "2", "2020-02-01")))
    q = sl.start(ckpt)
    q.processAllAvailable()
    q.stop()

    releases = store.read("release").where(F.col("collection_id") == sl.collection_id)
    assert releases.count() == 3
    assert store.read("collection_file").count() == 3
    # payload dedup still applies across batches
    assert store.read("data").count() == 3

    counts = sl.close()
    assert counts["cached_releases_count"] == 3
    colls = {r["id"]: r for r in store.read("collection").collect()}
    root = colls[sl.collection_id]
    assert root["completed_at"] is not None
    assert root["expected_files_count"] == 3
    assert json.loads(root["data_type"])["format"] == "release package"


def _record_pkg(ocid):
    return {
        "uri": "http://example.com/rec", "publisher": {"name": "ex"},
        "records": [{"ocid": ocid, "compiledRelease":
                     {"ocid": ocid, "tag": ["compiled"], "date": "2020-01-01"}}],
    }


def test_streaming_record_packages_compile_per_batch(spark, tmp_path):
    # reference: record packages compile per-file immediately, before the
    # collection closes (compiler.py:146-148)
    store = Store(spark, str(tmp_path / "store"))
    watch = tmp_path / "incoming"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")

    sl = StreamingLoader(
        spark, store, "stream_rec", "2020-01-01 00:00:00", str(watch),
        data_type={"format": "record package", "concatenated": False, "array": False},
        compile_=True,
    )
    (watch / "r1.json").write_text(json.dumps(_record_pkg("ocds-sr-1")))
    q = sl.start(ckpt)
    q.processAllAvailable()
    q.stop()
    # compiled BEFORE close
    crs = store.read("compiled_release").where(
        F.col("collection_id") == sl.ids["compiled"])
    assert {r["ocid"] for r in crs.collect()} == {"ocds-sr-1"}

    (watch / "r2.json").write_text(json.dumps(_record_pkg("ocds-sr-2")))
    q = sl.start(ckpt)
    q.processAllAvailable()
    q.stop()
    sl.close()
    crs = store.read("compiled_release").where(
        F.col("collection_id") == sl.ids["compiled"])
    assert {r["ocid"] for r in crs.collect()} == {"ocds-sr-1", "ocds-sr-2"}
    colls = {r["id"]: r for r in store.read("collection").collect()}
    assert colls[sl.ids["compiled"]]["cached_compiled_releases_count"] == 2


def test_streaming_rate_limited_micro_batches(spark, tmp_path):
    # max_files_per_trigger=1 → each file is its own bounded micro-batch
    # (backpressure: one giant drop never becomes one unbounded job)
    store = Store(spark, str(tmp_path / "store"))
    watch = tmp_path / "incoming"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")

    sl = StreamingLoader(
        spark, store, "stream_rl", "2020-01-01 00:00:00", str(watch),
        data_type={"format": "release package", "concatenated": False, "array": False},
        max_files_per_trigger=1,
    )
    batches = []
    orig = sl._process_batch
    sl._process_batch = lambda df, bid: (batches.append(bid), orig(df, bid))[1]

    for i in range(3):
        (watch / f"f{i}.json").write_text(
            json.dumps(_pkg(f"ocds-rl-{i}", "1", "2020-01-01")))
    q = sl.start(ckpt)
    q.processAllAvailable()
    q.stop()

    assert len(batches) == 3  # one micro-batch per file
    assert store.read("release").count() == 3
    assert sl.files_seen == 3


def test_cdc_collapse_multi_batch_matches_batch(spark, tmp_path):
    """Split the events table into 3 time-ordered files, stream them ONE
    PER MICRO-BATCH (maxFilesPerTrigger=1) through the stateful CDC
    collapse, and require the kept-row set to equal the batch window-LAG
    plan on the unified table — the state-seeding across batch
    boundaries is exactly what this exercises."""
    from tests.conftest import SF_SMOKE

    from kingfisher_process_spark.plans.base import load_tables
    from kingfisher_process_spark.streaming.cdc import cdc_collapse_stream

    events = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "event_id", "ts", "event_type")
    # three event-time thirds, written as one file each, named in order
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo).total_seconds()
    drop = tmp_path / "cdc_drop"
    drop.mkdir()
    import datetime
    for i in range(3):
        a = lo + datetime.timedelta(seconds=span * i / 3)
        b = lo + datetime.timedelta(seconds=span * (i + 1) / 3)
        part = events.where(
            (F.col("ts") >= a) & (F.col("ts") < b) if i < 2
            else (F.col("ts") >= a))
        part.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}"))
        import glob
        import shutil
        src = glob.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        shutil.copy(src, drop / f"batch_{i}.parquet")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(drop)))
    kept = cdc_collapse_stream(stream)
    sink = "cdc_multi_batch_sink"
    q = (kept.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 non-empty micro-batches, got {n_batches}"

    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expected = (
        events
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull()
               | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_id", F.unix_millis("ts").alias("ts_ms"),
                "event_type")
    )
    got = spark.table(sink).select("user_id", "event_id", "ts_ms",
                                   "event_type")
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_streaming_loader_reattach_after_driver_restart(spark, tmp_path):
    """Simulated driver crash: the first loader object is discarded
    mid-ingest; a NEW loader reattaches to the open collection from the
    catalog tables alone and resumes from the same checkpoint — already-
    committed files are skipped, the late file loads, close() sees the
    full count."""
    store = Store(spark, str(tmp_path / "store"))
    watch = tmp_path / "incoming"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")

    sl1 = StreamingLoader(
        spark, store, "restart_src", "2020-01-01 00:00:00", str(watch),
        data_type={"format": "release package", "concatenated": False,
                   "array": False},
    )
    cid = sl1.collection_id
    (watch / "a.json").write_text(json.dumps(_pkg("ocds-rs-1", "1", "2020-01-01")))
    (watch / "b.json").write_text(json.dumps(_pkg("ocds-rs-2", "1", "2020-01-02")))
    q = sl1.start(ckpt)
    q.processAllAvailable()
    q.stop()
    del sl1  # driver "crash": all in-memory loader state is gone

    (watch / "c.json").write_text(json.dumps(_pkg("ocds-rs-3", "1", "2020-02-01")))
    sl2 = StreamingLoader.attach(spark, store, cid)
    assert sl2.files_seen == 2  # rebuilt from the catalog, not memory
    sl2.watch_dir = str(watch)
    q = sl2.start(ckpt)
    q.processAllAvailable()
    q.stop()

    releases = store.read("release").where(F.col("collection_id") == cid)
    assert releases.count() == 3
    assert store.read("collection_file").count() == 3

    counts = sl2.close()
    assert counts["cached_releases_count"] == 3
    root = {r["id"]: r for r in store.read("collection").collect()}[cid]
    assert root["completed_at"] is not None
    assert root["expected_files_count"] == 3

    # reattaching to a closed collection must refuse
    import pytest as _pytest
    with _pytest.raises(ValueError):
        StreamingLoader.attach(spark, store, cid)


def test_incremental_mv_replayed_batch_is_idempotent(spark, tmp_path):
    """At-least-once delivery: folding the SAME micro-batch (same
    batch_id) twice must leave the accumulator unchanged."""
    from kingfisher_process_spark.streaming.mv import merge_partial_into

    acc = str(tmp_path / "acc")
    fn = merge_partial_into(acc, run_id="ckpt-A")
    events = spark.createDataFrame(
        [("2024-01-01 10:15:00", "click", 2.5),
         ("2024-01-01 10:45:00", "view", 1.0)],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type",
             "value")
    fn(events, 0)
    first = sorted(spark.read.parquet(acc).collect())
    fn(events, 0)  # replay of the same batch
    assert sorted(spark.read.parquet(acc).collect()) == first
    fn(events, 1)  # a genuinely new batch still folds in
    doubled = {(r["hour_start"], r["event_type"]): r["n_events"]
               for r in spark.read.parquet(acc).collect()}
    assert doubled[("2024-01-01 10:00", "click")] == 2
    # checkpoint reset: batch ids restart at 0 under a NEW run identity
    # — the stale marker must NOT suppress the fold
    fn2 = merge_partial_into(acc, run_id="ckpt-B")
    fn2(events, 0)
    tripled = {(r["hour_start"], r["event_type"]): r["n_events"]
               for r in spark.read.parquet(acc).collect()}
    assert tripled[("2024-01-01 10:00", "click")] == 3


def test_incremental_mv_recovers_mid_swap_crash(spark, tmp_path):
    """Crash window: accumulator renamed aside but replacement not yet
    in place — the next fold must restore it, not restart from zero."""
    import os
    import shutil

    from kingfisher_process_spark.streaming.mv import merge_partial_into

    acc = str(tmp_path / "acc")
    fn = merge_partial_into(acc, run_id="ckpt-R")
    events = spark.createDataFrame(
        [("2024-01-01 10:15:00", "click", 2.5)],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type",
             "value")
    from kingfisher_process_spark.streaming.mv import _side_dirs

    _tmp, bak = _side_dirs(acc)
    fn(events, 0)
    # simulate the crash: live dir sits renamed aside
    os.replace(acc, bak)
    fn(events, 1)
    counts = {(r["hour_start"], r["event_type"]): r["n_events"]
              for r in spark.read.parquet(acc).collect()}
    assert counts[("2024-01-01 10:00", "click")] == 2  # 1 recovered + 1 new
    assert not os.path.isdir(bak)
    shutil.rmtree(acc, ignore_errors=True)


def test_partitioned_mv_rewrites_only_touched_days(spark, tmp_path):
    """Day-partitioned accumulator: a batch touching only day 2 must
    leave day 1's partition files untouched on disk (same inodes), a
    replayed batch must change nothing, and the final view must equal
    the full recompute."""
    import glob
    import os

    from kingfisher_process_spark.streaming.mv import (
        hourly_partial, merge_partial_into_partitioned,
        read_partitioned_view)

    def ev(rows):
        return spark.createDataFrame(
            rows, "ts_s string, event_type string, value double"
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type",
                 "value")

    acc = str(tmp_path / "acc")
    fn = merge_partial_into_partitioned(acc, run_id="ckpt-P")
    b0 = ev([("2024-01-01 10:15:00", "click", 2.5),
             ("2024-01-02 09:00:00", "view", 1.0)])
    fn(b0, 0)

    day1 = os.path.join(acc, "day=2024-01-01")
    inodes_before = {f: os.stat(f).st_ino
                     for f in glob.glob(day1 + "/part-*.parquet")}
    assert inodes_before

    b1 = ev([("2024-01-02 11:30:00", "click", 4.0)])
    fn(b1, 1)
    inodes_after = {f: os.stat(f).st_ino
                    for f in glob.glob(day1 + "/part-*.parquet")}
    assert inodes_after == inodes_before  # day 1 never rewritten

    fn(b1, 1)  # replay: nothing changes anywhere
    view = {(r["hour_start"], r["event_type"]): (r["n_events"],
                                                 float(r["total_value"]))
            for r in read_partitioned_view(spark, acc).collect()}
    expected = {(r["hour_start"], r["event_type"]): (r["n_events"],
                                                     float(r["total_value"]))
                for r in hourly_partial(b0.unionByName(b1)).collect()}
    assert view == expected


def test_partitioned_mv_side_dirs_invisible_to_discovery(spark, tmp_path):
    """A leaked backup or tmp dir (crash before cleanup) must NEVER be
    picked up as a day= partition by read_partitioned_view — side dirs
    are underscore-prefixed, which partition discovery skips."""
    import os
    import shutil

    from kingfisher_process_spark.streaming.mv import (
        _side_dirs, merge_partial_into_partitioned, read_partitioned_view)

    acc = str(tmp_path / "acc")
    fn = merge_partial_into_partitioned(acc, run_id="ckpt-L")
    events = spark.createDataFrame(
        [("2024-01-01 10:15:00", "click", 2.5)],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type",
             "value")
    fn(events, 0)
    day_dir = os.path.join(acc, "day=2024-01-01")
    # simulate a crash that leaked the backup after commit
    _tmp, bak = _side_dirs(day_dir)
    shutil.copytree(day_dir, bak)
    view = read_partitioned_view(spark, acc)
    assert view.count() == 1  # the leaked backup contributed nothing
    # and the next fold cleans the leak up
    fn(events, 1)
    assert not os.path.isdir(bak)


def test_streaming_loader_reattach_restores_compile_lineage(spark, tmp_path):
    """attach() must rebuild the derived-collection ids (compiled child)
    and the compile flag from the catalog, so close() after a restart
    still runs the release-package compile."""
    store = Store(spark, str(tmp_path / "store"))
    watch = tmp_path / "incoming"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")

    sl1 = StreamingLoader(
        spark, store, "restart_c", "2020-01-01 00:00:00", str(watch),
        data_type={"format": "release package", "concatenated": False,
                   "array": False},
        compile_=True,
    )
    cid, compiled_id = sl1.collection_id, sl1.ids["compiled"]
    (watch / "a.json").write_text(json.dumps(_pkg("ocds-rc-1", "1", "2020-01-01")))
    q = sl1.start(ckpt)
    q.processAllAvailable()
    q.stop()
    del sl1

    sl2 = StreamingLoader.attach(spark, store, cid, max_files_per_trigger=4)
    assert sl2.compile_ is True
    assert sl2.ids["compiled"] == compiled_id
    assert sl2.max_files_per_trigger == 4
    sl2.watch_dir = str(watch)
    sl2.close()
    crs = store.read("compiled_release").where(
        F.col("collection_id") == compiled_id)
    assert {r["ocid"] for r in crs.collect()} == {"ocds-rc-1"}


def test_windowed_agg_drops_late_data_past_watermark(spark, tmp_path):
    """Pin the watermark contract st_hourly_rollup's unbounded form
    relies on, as Spark actually implements it: rows for windows far
    behind the watermark are dropped (numRowsDroppedByWatermark counts
    them); rows near the boundary can still be absorbed because the drop
    filter uses the PREVIOUS batch's watermark (one-batch lag — Spark's
    documented weak guarantee: within-horizon data is definitely kept,
    beyond-horizon data is dropped only once eviction catches up); and
    append mode emits a window exactly once, only after the watermark
    passes its end."""
    import datetime as dt
    import glob
    import os
    import shutil

    def ev(*hhmm):
        return [(1, i, dt.datetime(2024, 1, 1, h, m), "view", 1.0)
                for i, (h, m) in enumerate(hhmm)]

    schema = ("user_id long, event_id long, ts timestamp,"
              " event_type string, value double")
    drop = tmp_path / "late_drop"
    drop.mkdir()
    batches = [
        ev((10, 5), (10, 40), (11, 50)),   # watermark after: 10:50
        ev((10, 30), (12, 10)),            # in-horizon late row → kept
        ev((10, 45), (13, 30)),            # boundary row: absorbed (lag)
        ev((8, 10), (14, 30)),             # far-late row → DROPPED
        ev((15, 30),),                     # advance watermark → flush 13
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(tmp_path / f"stage{i}"))
        src = glob.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        dst = drop / f"batch_{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(drop)))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    sink = "late_data_sink"
    q = (agg.writeStream.format("memory").queryName(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    dropped = sum(op["numRowsDroppedByWatermark"]
                  for p in q.recentProgress
                  for op in p.get("stateOperators", []))
    assert dropped == 1, "exactly the hour-8 far-late row must be dropped"

    rows = spark.table(sink).collect()
    got = {}
    for r in rows:
        got.setdefault(r["w"]["start"].hour, []).append(r["n"])
    # exactly-once emission: one row per finalized window
    assert all(len(v) == 1 for v in got.values()), got
    # hour 10: two on-time + in-horizon late + lag-absorbed boundary row;
    # the hour-8 row appears NOWHERE (dropped, never re-emitted)
    assert {h: v[0] for h, v in got.items()} == {10: 4, 11: 1, 12: 1, 13: 1}, got
    # 14/15 windows never finalize before the stream drains → unemitted


def test_stateful_sessionize_survives_restart_from_checkpoint(spark, tmp_path):
    """Durability of custom stateful operators: stop the sessionize
    stream mid-input, start a NEW query from the same checkpoint, drain
    the rest — open-session state must be recovered from the state store
    (a session spanning the restart boundary emits ONCE, with its full
    event count), and the final session set equals running the stream
    unbroken."""
    import datetime as dt
    import glob
    import shutil

    from kingfisher_process_spark.streaming.sessions import sessionize_stream

    schema = "user_id long, ts timestamp"
    base = dt.datetime(2024, 1, 1, 9, 0)
    # user 1: one session spanning the restart (9:00, 9:10 | 9:20), then
    # a gap > 30 min, then a closing burst; user 2: one session per half
    batch_a = [(1, base), (1, base + dt.timedelta(minutes=10)),
               (2, base)]
    batch_b = [(1, base + dt.timedelta(minutes=20)),
               (1, base + dt.timedelta(hours=2)),
               (2, base + dt.timedelta(hours=2)),
               (1, base + dt.timedelta(hours=6)),  # watermark pusher
               (2, base + dt.timedelta(hours=6))]
    drop = tmp_path / "restart_drop"
    drop.mkdir()
    ck = str(tmp_path / "ck")
    sink_rows = []

    def run_wave(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(tmp_path / f"stage{i}"))
        src = glob.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        shutil.copy(src, drop / f"wave_{i}.parquet")
        stream = (spark.readStream.schema(schema).parquet(str(drop))
                  .select("user_id", "ts"))

        def absorb(batch_df, batch_id):
            sink_rows.extend(batch_df.collect())

        # memory sink cannot recover from a checkpoint; foreachBatch can
        q = (sessionize_stream(stream).writeStream.foreachBatch(absorb)
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_wave(0, batch_a)   # first query object dies here (driver restart)
    run_wave(1, batch_b)   # NEW query, same checkpoint

    got = sorted((r["user_id"], r["session_start"].minute, r["n_events"])
                 for r in sink_rows)
    # user 1 session 9:00-9:20 spans the restart: emitted once, 3 events
    # (state recovered — a lost state store would emit (1, 20, 1) or a
    # duplicate (1, 0, 2)); the 11:00 singles close when the 15:00
    # watermark passes; 15:00 sessions stay open (never emitted)
    assert got == sorted([(1, 0, 3), (1, 0, 1), (2, 0, 1), (2, 0, 1)]), got


def test_materialized_compile_swaps_only_dirty_buckets(spark, tmp_path):
    """Compiled-table maintenance (judge r5 #1): a micro-batch dirtying
    OCIDs in one bucket must leave every other bucket's parquet files
    byte-untouched on disk (same inodes), a REPLAYED batch_id must not
    duplicate history rows (at-least-once retry), and the final table
    must equal a full batch merge of all releases."""
    import glob
    import os

    from kingfisher_process_spark.operators.compile_release import (
        materialized_compile_upsert, merged_by_ocid)

    n_buckets = 8

    def rel_df(rows):
        return spark.createDataFrame(
            [(o, d, f'{{"ocid":"{o}","id":"{rid}","date":"{d}"}}', None)
             for o, rid, d in rows],
            "ocid string, release_date string, data string,"
            " package_data string")

    # pick two ocids in different buckets, plus a third SHARING the
    # first's bucket — the adversarial case: a clean OCID inside a
    # dirty bucket must ride through the swap via the kept-rows read
    probe = spark.createDataFrame(
        [(f"ocds-mb-{i}",) for i in range(40)], "ocid string"
    ).select("ocid", F.pmod(F.hash("ocid"), F.lit(n_buckets)).alias("b"))
    by_bucket = {}
    for r in probe.collect():
        by_bucket.setdefault(r["b"], []).append(r["ocid"])
    (ba, (oa, oc, *_)), (bb, (ob, *_)) = [
        (b, os) for b, os in by_bucket.items() if len(os) >= 2][:2]

    hist = str(tmp_path / "hist")
    compiled = str(tmp_path / "compiled")
    b0 = rel_df([(oa, "a1", "2020-01-01"), (ob, "b1", "2020-01-01"),
                 (oc, "c1", "2020-01-01")])
    materialized_compile_upsert(b0, 0, hist, compiled, n_buckets=n_buckets)

    clean_dir = os.path.join(compiled, f"bucket={bb}")
    inodes_before = {f: os.stat(f).st_ino
                     for f in glob.glob(clean_dir + "/part-*.parquet")}
    assert inodes_before

    b1 = rel_df([(oa, "a2", "2020-06-01")])  # dirties only oa's bucket
    materialized_compile_upsert(b1, 1, hist, compiled, n_buckets=n_buckets)
    inodes_after = {f: os.stat(f).st_ino
                    for f in glob.glob(clean_dir + "/part-*.parquet")}
    assert inodes_after == inodes_before  # clean bucket never rewritten

    # at-least-once: replaying batch 1 overwrites its history slice
    # (no duplicate rows) and the table still converges
    materialized_compile_upsert(b1, 1, hist, compiled, n_buckets=n_buckets)
    hist_rows = spark.read.parquet(hist).count()
    assert hist_rows == 4

    got = {r["ocid"]: r for r in spark.read.parquet(compiled)
           .where(F.col("row_kind") == "item").collect()}
    full = {r["ocid"]: r for r in
            merged_by_ocid(b0.unionByName(b1))
            .where(F.col("row_kind") == "item").collect()}
    # oc (clean, same bucket as the dirty oa) must survive the swap
    assert set(got) == set(full) == {oa, ob, oc}
    for ocid in full:
        assert got[ocid]["merged"] == full[ocid]["merged"]
        assert got[ocid]["hash_md5"] == full[ocid]["hash_md5"]
    # bucket column on disk matches the hash layout
    for r in spark.read.parquet(compiled).select("ocid", "bucket").collect():
        assert r["bucket"] in (ba, bb)
    # history is bucket-partitioned inside each batch_id, and a
    # dirty-bucket read is PARTITION-PRUNED (the scan must carry the
    # bucket filter as a partition filter, not a post-scan predicate)
    import re
    pruned = spark.read.parquet(hist).where(F.col("bucket").isin([ba]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^]]*bucket", plan), plan
    assert {r["bucket"] for r in pruned.select("bucket").collect()} == {ba}


def test_semantic_dedup_upsert_converges_and_prunes(spark, tmp_path):
    """Streaming SemDeDup maintenance: out-of-id-order batches converge
    to the batch SemDeDup summary, a replayed batch_id is idempotent
    (at-least-once retry), and the history read partition-prunes to the
    batch's dirty cells — clean cells' files are never opened."""
    from kingfisher_process_spark.functions.similarity import (
        SEM_HIST_SCHEMA, _quantized, ivf_grid_centroids_for,
        semantic_dedup_state_summary, semantic_dedup_summary,
        semantic_dedup_upsert)
    from kingfisher_process_spark.plans.base import load_tables

    sf = "/root/testdata/sf0.001"
    emb = load_tables(spark, sf)["embeddings"]
    cents = ivf_grid_centroids_for(spark, sf)
    q = _quantized(emb)
    hist, removed = str(tmp_path / "hist"), str(tmp_path / "removed")
    # 3 batches by vec_id mod 3: ids interleave, so every batch carries
    # smaller ids than earlier keepers (the retroactive-removal path)
    batches = [q.where(F.pmod(F.col("vec_id"), F.lit(3)) == i)
               for i in range(3)]
    for i, b in enumerate(batches):
        semantic_dedup_upsert(b, i, hist, removed, cents)
    semantic_dedup_upsert(batches[1], 1, hist, removed, cents)  # replay

    got = semantic_dedup_state_summary(spark, hist, removed).collect()
    want = semantic_dedup_summary(q, cents).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert sum(r["n_removed"] for r in got) > 0  # non-degenerate

    # the upsert's history read shape: a cell-literal filter must land
    # in PartitionFilters (pruned directory listing), not a post-scan
    # predicate over every cell's files
    rd = (spark.read.option("basePath", hist).schema(SEM_HIST_SCHEMA)
          .parquet(hist + "/batch_id=*")
          .where(F.col("cell").isin([0, 1])))
    plan = spark._jvm.PythonSQLUtils.explainString(
        rd._jdf.queryExecution(), "formatted")
    m = plan.split("PartitionFilters: [")
    assert len(m) > 1 and "cell" in m[1].split("]")[0], plan


def test_compaction_folds_semantic_store_transparently(spark, tmp_path):
    """compact_batches on the SemDeDup maintenance stores: summary
    hash-identical before/after, parquet file count drops, inner cell=
    partitioning (and its pruned reads) survive, and the loop continues
    correctly with post-compaction batches."""
    import glob as g

    from kingfisher_process_spark.functions.similarity import (
        _quantized, ivf_grid_centroids_for, semantic_dedup_state_summary,
        semantic_dedup_summary, semantic_dedup_upsert)
    from kingfisher_process_spark.plans.base import load_tables
    from kingfisher_process_spark.streaming.maintenance import (
        batch_ids, compact_batches)

    sf = "/root/testdata/sf0.001"
    q = _quantized(load_tables(spark, sf)["embeddings"])
    cents = ivf_grid_centroids_for(spark, sf)
    hist, removed = str(tmp_path / "hist"), str(tmp_path / "removed")
    batches = [q.where(F.pmod(F.col("vec_id"), F.lit(4)) == i)
               for i in range(4)]
    for i in range(3):
        semantic_dedup_upsert(batches[i], i, hist, removed, cents)
    before = [tuple(r) for r in
              semantic_dedup_state_summary(spark, hist, removed).collect()]
    files_before = len(g.glob(hist + "/batch_id=*/cell=*/*.parquet"))

    assert compact_batches(spark, hist, upto=2) == 3
    assert compact_batches(spark, removed, upto=2) == 3
    assert batch_ids(hist) == [2] and batch_ids(removed) == [2]
    files_after = len(g.glob(hist + "/batch_id=*/cell=*/*.parquet"))
    assert files_after < files_before
    assert g.glob(hist + "/batch_id=2/cell=*")  # inner layout preserved
    mid = [tuple(r) for r in
           semantic_dedup_state_summary(spark, hist, removed).collect()]
    assert mid == before  # read-transparent

    # the maintenance loop continues over the compacted store and still
    # converges to the one-shot batch SemDeDup
    semantic_dedup_upsert(batches[3], 3, hist, removed, cents)
    got = [tuple(r) for r in
           semantic_dedup_state_summary(spark, hist, removed).collect()]
    want = [tuple(r) for r in semantic_dedup_summary(q, cents).collect()]
    assert got == want
    # idempotent retry of a post-compaction batch still holds
    semantic_dedup_upsert(batches[3], 3, hist, removed, cents)
    got2 = [tuple(r) for r in
            semantic_dedup_state_summary(spark, hist, removed).collect()]
    assert got2 == want
    # compacting everything again (nothing above the new watermark to
    # fold with) is a no-op below 2 partitions... here 2 remain → folds
    assert compact_batches(spark, hist, upto=3) == 2
    assert compact_batches(spark, hist, upto=3) == 0  # idempotent no-op


def test_compaction_folds_compile_history_transparently(spark, tmp_path):
    """compact_batches on the bucketed compile history: later dirty-set
    recompiles read the folded history and produce the same compiled
    table as the uncompacted run; bucket partition pruning survives."""
    import os as _os
    import re as _re

    from kingfisher_process_spark.operators.compile_release import (
        materialized_compile_upsert)
    from kingfisher_process_spark.streaming.maintenance import compact_batches

    def rel_df(rows):
        return spark.createDataFrame(
            [(o, d, f'{{"ocid":"{o}","id":"{rid}","date":"{d}"}}', None)
             for o, rid, d in rows],
            "ocid string, release_date string, data string,"
            " package_data string")

    n_buckets = 8
    ocids = [f"ocds-x-{i}" for i in range(6)]
    hist_a, comp_a = str(tmp_path / "ha"), str(tmp_path / "ca")
    hist_b, comp_b = str(tmp_path / "hb"), str(tmp_path / "cb")
    feed = [
        rel_df([(ocids[0], "a1", "2020-01-01"), (ocids[1], "b1", "2020-01-02"),
                (ocids[2], "c1", "2020-01-03")]),
        rel_df([(ocids[0], "a2", "2020-02-01"), (ocids[3], "d1", "2020-02-02")]),
        rel_df([(ocids[1], "b2", "2020-03-01"), (ocids[4], "e1", "2020-03-02"),
                (ocids[5], "f1", "2020-03-03")]),
    ]
    for i, b in enumerate(feed[:2]):
        materialized_compile_upsert(b, i, hist_a, comp_a, n_buckets=n_buckets)
        materialized_compile_upsert(b, i, hist_b, comp_b, n_buckets=n_buckets)
    assert compact_batches(spark, hist_a, upto=1) == 2
    # post-compaction: bucket filter still partition-prunes
    pruned = spark.read.parquet(hist_a).where(F.col("bucket") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[[^]]*bucket", plan), plan

    materialized_compile_upsert(feed[2], 2, hist_a, comp_a, n_buckets=n_buckets)
    materialized_compile_upsert(feed[2], 2, hist_b, comp_b, n_buckets=n_buckets)

    def table(d):
        return sorted((r["ocid"], r["merged"], r["hash_md5"]) for r in
                      spark.read.parquet(d)
                      .where(F.col("row_kind") == "item")
                      .select("ocid", "merged", "hash_md5").collect())

    assert table(comp_a) == table(comp_b)
    assert _os.path.isdir(hist_a + "/batch_id=1")
    assert not _os.path.isdir(hist_a + "/batch_id=0")


def test_funnel_maintenance_retroactive_and_idempotent(spark, tmp_path):
    """A later batch carrying an EARLIER view must retroactively rewrite
    that user's whole chain (frontier-only state cannot); replaying a
    batch_id is a no-op; the history read partition-prunes to dirty
    user buckets."""
    import datetime as dt

    from kingfisher_process_spark.plans.queries import funnel_frontiers
    from kingfisher_process_spark.streaming.probes import (
        funnel_maintenance_upsert)

    def ev_df(rows):
        return spark.createDataFrame(
            [(i, u, t, dt.datetime(2024, 1, d, h)) for
             i, (u, t, d, h) in enumerate(rows)],
            "event_id long, user_id long, event_type string, ts timestamp")

    # batch 0: user 1 views day3, clicks day4, purchases day5
    b0 = ev_df([(1, "view", 3, 0), (1, "click", 4, 0), (1, "purchase", 5, 0)])
    # batch 1: user 1's EARLIER view day1 arrives late -> t_view moves to
    # day1; click day4 is still > view and t_purchase unchanged, but
    # total funnel time changes; user 2 appears with view only
    b1 = ev_df([(1, "view", 1, 0), (2, "view", 2, 0)])
    hist, funnel = str(tmp_path / "h"), str(tmp_path / "f")
    funnel_maintenance_upsert(b0, 0, hist, funnel)
    funnel_maintenance_upsert(b1, 1, hist, funnel)
    funnel_maintenance_upsert(b1, 1, hist, funnel)  # at-least-once replay

    got = {r["user_id"]: r for r in spark.read.parquet(funnel).collect()}
    assert got[1]["t_view"] == dt.datetime(2024, 1, 1)   # retroactive
    assert got[1]["t_purchase"] == dt.datetime(2024, 1, 5)
    assert got[2]["t_view"] == dt.datetime(2024, 1, 2)
    assert got[2]["t_click"] is None

    # equals the batch computation over the union
    v, c, p = funnel_frontiers(b0.unionByName(b1))
    want = {r["user_id"]: r for r in
            v.join(c, "user_id", "left").join(p, "user_id", "left").collect()}
    for u in want:
        assert tuple(got[u])[:4] == tuple(want[u])[:4]

    # dirty-bucket read is partition-pruned
    import re
    pruned = spark.read.parquet(hist).where(F.col("ubucket") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^]]*ubucket", plan), plan


def test_compaction_resumes_after_crash_between_trash_and_rename(
        spark, tmp_path, monkeypatch):
    """A crash after the old batch dirs moved to trash but before the
    staged partition renamed in must NOT strand the store: rerunning
    compact_batches completes the swap and the summary is unchanged."""
    import os as _os

    from kingfisher_process_spark.functions.similarity import (
        _quantized, ivf_grid_centroids_for, semantic_dedup_state_summary,
        semantic_dedup_upsert)
    from kingfisher_process_spark.plans.base import load_tables
    from kingfisher_process_spark.streaming import maintenance as mnt

    sf = "/root/testdata/sf0.001"
    q = _quantized(load_tables(spark, sf)["embeddings"])
    cents = ivf_grid_centroids_for(spark, sf)
    hist, removed = str(tmp_path / "h"), str(tmp_path / "r")
    for i in range(3):
        semantic_dedup_upsert(
            q.where(F.pmod(F.col("vec_id"), F.lit(3)) == i),
            i, hist, removed, cents)
    before = [tuple(r) for r in
              semantic_dedup_state_summary(spark, hist, removed).collect()]

    real_rename = _os.rename

    def crashing_rename(src, dst):
        if dst.rstrip("/").endswith("batch_id=2") and ".compact" not in dst:
            raise OSError("simulated crash before final rename")
        return real_rename(src, dst)

    monkeypatch.setattr(mnt.os, "rename", crashing_rename)
    try:
        mnt.compact_batches(spark, hist, upto=2)
        raise AssertionError("expected the simulated crash")
    except OSError:
        pass
    monkeypatch.setattr(mnt.os, "rename", real_rename)
    # store is now mid-swap: olds in trash, staged not yet in place —
    # the rerun must detect the completed staging and finish
    mnt.compact_batches(spark, hist, upto=2)
    assert mnt.batch_ids(hist) == [2]
    after = [tuple(r) for r in
             semantic_dedup_state_summary(spark, hist, removed).collect()]
    assert after == before


def test_compaction_resume_under_different_upto_keeps_data(
        spark, tmp_path, monkeypatch):
    """A crash mid-swap followed by a rerun at a LATER upto must first
    complete the stranded staging at ITS recorded upto — not delete it
    (the data-loss path: trash cleared, then staging rmtree'd)."""
    import os as _os

    from kingfisher_process_spark.functions.similarity import (
        _quantized, ivf_grid_centroids_for, semantic_dedup_state_summary,
        semantic_dedup_upsert)
    from kingfisher_process_spark.plans.base import load_tables
    from kingfisher_process_spark.streaming import maintenance as mnt

    sf = "/root/testdata/sf0.001"
    q = _quantized(load_tables(spark, sf)["embeddings"])
    cents = ivf_grid_centroids_for(spark, sf)
    hist, removed = str(tmp_path / "h"), str(tmp_path / "r")
    for i in range(3):
        semantic_dedup_upsert(
            q.where(F.pmod(F.col("vec_id"), F.lit(4)) == i),
            i, hist, removed, cents)
    before_members = spark.read.parquet(hist + "/batch_id=0") \
        .unionByName(spark.read.parquet(hist + "/batch_id=1")) \
        .unionByName(spark.read.parquet(hist + "/batch_id=2")).count()

    real_rename = _os.rename

    def crashing_rename(src, dst):
        if dst.rstrip("/").endswith("batch_id=1") and ".compact" not in dst:
            raise OSError("simulated crash before final rename")
        return real_rename(src, dst)

    monkeypatch.setattr(mnt.os, "rename", crashing_rename)
    try:
        mnt.compact_batches(spark, hist, upto=1)  # folds 0,1; crashes
        raise AssertionError("expected the simulated crash")
    except OSError:
        pass
    monkeypatch.setattr(mnt.os, "rename", real_rename)

    # fourth batch arrives, then compaction runs at a LATER upto
    semantic_dedup_upsert(
        q.where(F.pmod(F.col("vec_id"), F.lit(4)) == 3),
        3, hist, removed, cents)
    mnt.compact_batches(spark, hist, upto=3)
    assert mnt.batch_ids(hist) == [3]
    # no rows lost: the folded store holds every batch's members
    total = spark.read.parquet(hist).count()
    batch3 = q.where(F.pmod(F.col("vec_id"), F.lit(4)) == 3).count()
    assert total == before_members + batch3
    # and the summary still computes over the full history
    summ = semantic_dedup_state_summary(spark, hist, removed)
    assert summ.agg(F.sum("n_members")).first()[0] == total


def test_upsert_heals_crashed_compaction_before_reading(
        spark, tmp_path, monkeypatch):
    """r6 advice: after a crash mid-swap, the REPLAYED batch's upsert
    reads the store before any compact_batches call — if it doesn't
    heal the stranded staging first, it recomputes removals against the
    incomplete history and silently diverges from the batch oracle.
    The upsert must complete the swap itself."""
    import os as _os

    from kingfisher_process_spark.functions.similarity import (
        _quantized, ivf_grid_centroids_for, semantic_dedup_state_summary,
        semantic_dedup_upsert)
    from kingfisher_process_spark.plans.base import load_tables
    from kingfisher_process_spark.streaming import maintenance as mnt

    sf = "/root/testdata/sf0.001"
    q = _quantized(load_tables(spark, sf)["embeddings"])
    cents = ivf_grid_centroids_for(spark, sf)

    # reference run: same batches, no crash, no compaction
    hist_ref, rem_ref = str(tmp_path / "hr"), str(tmp_path / "rr")
    for i in range(4):
        semantic_dedup_upsert(
            q.where(F.pmod(F.col("vec_id"), F.lit(4)) == i),
            i, hist_ref, rem_ref, cents)
    want = [tuple(r) for r in
            semantic_dedup_state_summary(spark, hist_ref, rem_ref).collect()]

    hist, removed = str(tmp_path / "h"), str(tmp_path / "r")
    for i in range(3):
        semantic_dedup_upsert(
            q.where(F.pmod(F.col("vec_id"), F.lit(4)) == i),
            i, hist, removed, cents)

    real_rename = _os.rename

    def crashing_rename(src, dst):
        if dst.rstrip("/").endswith("batch_id=2") and ".compact" not in dst:
            raise OSError("simulated crash before final rename")
        return real_rename(src, dst)

    monkeypatch.setattr(mnt.os, "rename", crashing_rename)
    try:
        mnt.compact_batches(spark, hist, upto=2)
        raise AssertionError("expected the simulated crash")
    except OSError:
        pass
    monkeypatch.setattr(mnt.os, "rename", real_rename)

    # mid-swap: folded batches are invisible to a naive read. The NEXT
    # upsert (batch 3 — e.g. the replay after restart) runs with NO
    # compact_batches call in between and must still see full history.
    semantic_dedup_upsert(
        q.where(F.pmod(F.col("vec_id"), F.lit(4)) == 3),
        3, hist, removed, cents)
    got = [tuple(r) for r in
           semantic_dedup_state_summary(spark, hist, removed).collect()]
    assert got == want


def test_funnel_and_compile_upserts_survive_zero_row_batches(
        spark, tmp_path):
    """r6 advice: a micro-batch with zero qualifying rows writes only
    _SUCCESS under its batch_id dir; the history read must use an
    explicit schema so inference cannot raise and wedge the stream."""
    from kingfisher_process_spark.operators.compile_release import (
        materialized_compile_upsert)
    from kingfisher_process_spark.plans.base import load_tables
    from kingfisher_process_spark.streaming.probes import (
        funnel_maintenance_upsert)

    sf = "/root/testdata/sf0.001"
    ev = load_tables(spark, sf)["events"]
    hist, funnel = str(tmp_path / "fh"), str(tmp_path / "ff")
    # batch 0: zero funnel-relevant rows (filtered event_type)
    funnel_maintenance_upsert(ev.where(F.lit(False)), 0, hist, funnel)
    # batch 1 must read through the file-less batch 0 partition
    funnel_maintenance_upsert(ev.limit(200), 1, hist, funnel)
    assert spark.read.parquet(funnel).count() > 0

    rel = spark.createDataFrame(
        [(f"ocds-zrb-{i}", "2024-01-01",
          f'{{"ocid":"ocds-zrb-{i}","id":"r{i}","date":"2024-01-01"}}', None)
         for i in range(20)],
        "ocid string, release_date string, data string, package_data string")
    h2, c2 = str(tmp_path / "ch"), str(tmp_path / "cc")
    materialized_compile_upsert(rel.where(F.lit(False)), 0, h2, c2)
    materialized_compile_upsert(rel, 1, h2, c2)
    assert spark.read.parquet(c2).count() > 0


def test_compaction_handles_fileless_zero_row_batches(spark, tmp_path):
    """Batches that produced zero rows write only _SUCCESS (no parquet
    files); folding a range where some or ALL batches are file-less
    must not crash on schema inference."""
    from kingfisher_process_spark.streaming.maintenance import (
        batch_ids, compact_batches)

    store = str(tmp_path / "s")
    empty = spark.createDataFrame([], "cell BIGINT, vb BIGINT")
    full = spark.createDataFrame([(0, 1), (1, 2)], "cell BIGINT, vb BIGINT")
    empty.write.parquet(store + "/batch_id=0")
    full.write.parquet(store + "/batch_id=1")
    empty.write.parquet(store + "/batch_id=2")
    assert compact_batches(spark, store, upto=2) == 3
    assert batch_ids(store) == [2]
    got = (spark.read.schema("cell BIGINT, vb BIGINT")
           .parquet(store + "/batch_id=*"))
    assert sorted(tuple(r)[:2] for r in got.collect()) == [(0, 1), (1, 2)]

    # the all-empty fold: only file-less batches in range
    store2 = str(tmp_path / "s2")
    empty.write.parquet(store2 + "/batch_id=0")
    empty.write.parquet(store2 + "/batch_id=1")
    assert compact_batches(spark, store2, upto=1) == 2
    assert batch_ids(store2) == [1]
    got2 = (spark.read.schema("cell BIGINT, vb BIGINT")
            .parquet(store2 + "/batch_id=*"))
    assert got2.count() == 0


def test_semantic_dedup_stream_staging_one_file_per_slice(spark, tmp_path):
    """st_semantic_dedup stages its 4-slice file stream with ONE
    partitionBy write (r12 — the old form paid one scan+quantize job
    per slice). The bench entry's 4-trigger shape relies on each
    slice=i dir holding exactly one parquet file under
    maxFilesPerTrigger=1: rows of a slice value land in one task after
    repartition("slice") (hash partitioning never splits a value; AQE
    only merges), so the writer emits one file per slice dir."""
    import glob
    import os

    from kingfisher_process_spark.functions.similarity import _quantized
    from kingfisher_process_spark.plans.base import load_tables
    from tests.conftest import SF_SMOKE

    q = _quantized(load_tables(spark, SF_SMOKE)["embeddings"])
    watch = str(tmp_path / "watch")
    (q.withColumn("slice", F.pmod(F.hash("vec_id"), F.lit(4)))
     .repartition("slice")
     .write.mode("overwrite").partitionBy("slice").parquet(watch))
    for i in range(4):
        files = glob.glob(os.path.join(watch, f"slice={i}", "*.parquet"))
        assert len(files) == 1, (i, files)
    # the staged rows are exactly the quantized corpus (no loss, no dup)
    staged = (spark.read.schema(q.schema)
              .parquet(os.path.join(watch, "slice=*")))
    assert staged.count() == q.count()
