"""Streaming pipeline tests: converge-to-batch golden, restart/resume,
duplicate delivery, two-source merge, orchestration signals."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from huracan_spark.pipeline.backfill import run_backfill
from huracan_spark.pipeline.fixtures import FixtureConfig, generate
from huracan_spark.pipeline.silver import SilverTable
from huracan_spark.streaming.orchestrator import decide_mode
from huracan_spark.streaming.stream_ingest import (
    StreamConfig,
    changes_file_stream,
    run_stream,
)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream-fixtures")
    generate(str(d), FixtureConfig(seed=11, n_objects=400, n_checkpoints=80))
    return str(d)


@pytest.fixture(scope="module")
def fx(spark, fixture_dir):
    return {
        "changes": spark.read.parquet(f"{fixture_dir}/object_changes.parquet"),
        "content": spark.read.parquet(f"{fixture_dir}/objects_content.parquet"),
        "dir": fixture_dir,
    }


def _await(query):
    query.awaitTermination(120)
    assert not query.isActive


def test_stream_converges_to_batch_golden(spark, fx, tmp_path):
    # batch reference state
    s_batch = SilverTable(spark, str(tmp_path / "batch"), n_buckets=4)
    run_backfill(spark, fx["changes"], fx["content"], s_batch)
    expected = sorted(map(tuple, s_batch.read().collect()))

    # stream the same changes from files in 3 chunks
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    fx["changes"].withColumn("_c", F.abs(F.hash("object_id")) % 3).write.partitionBy(
        "_c"
    ).mode("overwrite").parquet(str(tmp_path / "chunks"))
    for c in range(3):
        spark.read.parquet(str(tmp_path / f"chunks/_c={c}")).write.mode(
            "append"
        ).parquet(feed)

    s_stream = SilverTable(spark, str(tmp_path / "stream"), n_buckets=4)
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        dlq_dir=str(tmp_path / "dlq"),
        completed_dir=str(tmp_path / "done"),
        max_files_per_trigger=2,  # force multiple micro-batches
    )
    q = run_stream(
        spark, changes_file_stream(spark, feed, 2), fx["content"], s_stream, cfg
    )
    _await(q)
    got = sorted(map(tuple, s_stream.read().collect()))
    assert got == expected
    # completion + DLQ side outputs materialized
    assert spark.read.parquet(cfg.completed_dir).count() > 0


def test_stream_auto_compacts_when_manifest_fragments(spark, tmp_path):
    """Auto-OPTIMIZE in the loop: a long stream of NARROW micro-batches
    (each touching one key -> one bucket) fragments the manifest across
    generations; the policy compacts + vacuums once the reference count
    passes the threshold, keeping fan-in and disk growth bounded while
    the final state still equals the batch golden."""
    content = _pt_content(spark)
    # five single-key micro-batches across three keys
    specs = [(0, 1, False, 0), (1, 1, False, 1), (2, 1, False, 2),
             (0, 2, False, 3), (1, 2, False, 4)]
    stamped = [(_PT_KEYS[k], v, dead, 2000 + i) for i, (k, v, dead, _) in enumerate(specs)]
    all_changes = _pt_changes(spark, stamped)
    golden = SilverTable(spark, str(tmp_path / "golden"), n_buckets=4)
    run_backfill(spark, all_changes, content, golden)
    expected = sorted(map(tuple, golden.read().collect()))

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for row in stamped:
        _pt_changes(spark, [row]).coalesce(1).write.mode("append").parquet(feed)

    s = SilverTable(spark, str(tmp_path / "stream"), n_buckets=4)
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        auto_compact_refs=1,
    )
    q = run_stream(
        spark, changes_file_stream(spark, feed, 1), content, s, cfg
    )
    _await(q)
    assert sorted(map(tuple, s.read().collect())) == expected
    assert len(s.referenced_generations()) <= 1, (
        "auto-OPTIMIZE must keep manifest fan-in bounded"
    )
    assert any(
        h.get("operation") == "OPTIMIZE" for h in s.history()
    ), "the policy must actually have fired"


def test_stream_merge_on_read_converges_to_batch_golden(spark, tmp_path):
    """merge_write_mode="mor": each micro-batch lands as per-bucket
    delta layers (O(batch) write IO — the high-frequency-small-batch
    regime), reads reconcile, and the final state still equals the
    batch golden.  With auto_compact_refs the layers get absorbed."""
    content = _pt_content(spark)
    specs = [(0, 1, False, 0), (1, 1, False, 1), (2, 1, False, 2),
             (0, 2, False, 3), (1, 2, True, 4)]
    stamped = [(_PT_KEYS[k], v, dead, 2000 + i) for i, (k, v, dead, _) in enumerate(specs)]
    all_changes = _pt_changes(spark, stamped)
    golden = SilverTable(spark, str(tmp_path / "golden"), n_buckets=4)
    run_backfill(spark, all_changes, content, golden)
    expected = sorted(map(tuple, golden.read().collect()))

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for row in stamped:
        _pt_changes(spark, [row]).coalesce(1).write.mode("append").parquet(feed)

    s = SilverTable(spark, str(tmp_path / "stream"), n_buckets=4)
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        merge_write_mode="mor",
    )
    q = run_stream(
        spark, changes_file_stream(spark, feed, 1), content, s, cfg
    )
    _await(q)
    assert sorted(map(tuple, s.read().collect())) == expected
    assert s.deltas(), "narrow MOR batches must have stacked delta layers"
    s.compact()
    assert s.deltas() == {}
    assert sorted(map(tuple, s.read().collect())) == expected


def test_stream_merge_expectations_quarantine(spark, fx, tmp_path):
    """DLT-expectations in the ingest loop: a CHECK constraint on the
    silver table routes violating rows to the table-local quarantine
    per micro-batch while clean rows merge — final state equals the
    batch golden minus the violating keys, and the quarantine holds
    exactly those keys with the violated-constraint name."""
    s_batch = SilverTable(spark, str(tmp_path / "batch"), n_buckets=4)
    run_backfill(spark, fx["changes"], fx["content"], s_batch)
    allowed = F.expr("xxhash64(_id) % 5 != 0")
    want_ids = {r._id for r in s_batch.read().filter(allowed).collect()}
    banned_ids = {r._id for r in s_batch.read().filter(~allowed).collect()}
    assert banned_ids, "fixture must produce some violating keys"

    feed = str(tmp_path / "feed")
    fx["changes"].write.mode("append").parquet(feed)
    s = SilverTable(spark, str(tmp_path / "stream"), n_buckets=4)
    s.add_check("id_allowed", "xxhash64(_id) % 5 != 0")
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        merge_on_violation="quarantine",
    )
    q = run_stream(spark, changes_file_stream(spark, feed), fx["content"], s, cfg)
    _await(q)
    assert {r._id for r in s.read().collect()} == want_ids
    quar = s.read_quarantine()
    assert quar is not None
    qrows = quar.collect()
    assert {r._id for r in qrows} == banned_ids
    assert all(r._violated == ["id_allowed"] for r in qrows)


def test_stream_restart_resume_with_duplicates(spark, fx, tmp_path):
    """S9 restart: stop after first chunk, append more files (including
    a full replay of chunk 1 = duplicate delivery), restart from the
    same checkpoint; state must equal the batch golden."""
    s_batch = SilverTable(spark, str(tmp_path / "batch"), n_buckets=4)
    run_backfill(spark, fx["changes"], fx["content"], s_batch)
    expected = sorted(map(tuple, s_batch.read().collect()))

    h = F.abs(F.hash("object_id", "version")) % 2
    part1 = fx["changes"].filter(h == 0)
    part2 = fx["changes"].filter(h == 1)

    feed = str(tmp_path / "feed")
    part1.write.mode("append").parquet(feed)
    s_stream = SilverTable(spark, str(tmp_path / "stream"), n_buckets=4)
    cfg = StreamConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    q = run_stream(spark, changes_file_stream(spark, feed), fx["content"], s_stream, cfg)
    _await(q)
    mid_rows = s_stream.read().count()
    assert 0 < mid_rows <= len(expected)

    # append the rest PLUS a replay of part1 (at-least-once delivery)
    part2.write.mode("append").parquet(feed)
    part1.write.mode("append").parquet(feed)
    q2 = run_stream(spark, changes_file_stream(spark, feed), fx["content"], s_stream, cfg)
    _await(q2)
    got = sorted(map(tuple, s_stream.read().collect()))
    assert got == expected


def test_two_source_merge(spark, fx, tmp_path):
    """M1: poll + livescan as two file sources unioned before dedup."""
    s_batch = SilverTable(spark, str(tmp_path / "batch"), n_buckets=4)
    run_backfill(spark, fx["changes"], fx["content"], s_batch)
    expected = sorted(map(tuple, s_batch.read().collect()))

    poll_feed = str(tmp_path / "poll")
    scan_feed = str(tmp_path / "scan")
    # overlapping split: both routes see some of the same changes (M2)
    fx["changes"].filter(F.col("ingested_via") == "poll").write.parquet(poll_feed)
    fx["changes"].filter(F.col("ingested_via") != "poll").unionByName(
        fx["changes"].filter(F.col("ingested_via") == "poll").limit(50)
    ).write.parquet(scan_feed)

    s_stream = SilverTable(spark, str(tmp_path / "stream"), n_buckets=4)
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        extra_sources=[changes_file_stream(spark, scan_feed)],
    )
    q = run_stream(
        spark, changes_file_stream(spark, poll_feed), fx["content"], s_stream, cfg
    )
    _await(q)
    got = sorted(map(tuple, s_stream.read().collect()))
    assert got == expected


def test_orchestrator_mode_switch(spark):
    completed = spark.createDataFrame([(10,)], "checkpoint_id long")
    m1 = decide_mode(latest_cp=12, completed=completed)
    assert m1.mode == "livescan" and not m1.pause_poll and m1.behind == 2
    m2 = decide_mode(latest_cp=20, completed=completed)
    assert m2.mode == "backfill" and m2.pause_poll and m2.behind == 10
    m3 = decide_mode(latest_cp=100, completed=None)
    assert m3.mode == "backfill" and m3.behind == 100


def _mk_changes(spark, rows):
    from huracan_spark.schemas import OBJECT_CHANGE_SCHEMA

    data = [
        (cp, f"tx{cp}", ct, oid, v, 1000, 2000, "livescan")
        for (cp, ct, oid, v) in rows
    ]
    return spark.createDataFrame(data, OBJECT_CHANGE_SCHEMA)


def test_stateful_dedup_across_microbatches(spark, tmp_path):
    """applyInPandasWithState keeps a per-id version high-water mark
    across micro-batches: stale versions are dropped, newer pass
    (the corrected etl.rs:967-969 semantics)."""
    import time

    from huracan_spark.schemas import OBJECT_CHANGE_SCHEMA
    from huracan_spark.streaming.stateful import dedup_latest_version_stream

    feed = str(tmp_path / "feed")
    _mk_changes(
        spark, [(1, "created", "a", 1), (1, "mutated", "a", 3), (1, "created", "b", 5)]
    ).coalesce(1).write.mode("append").parquet(feed)
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    _mk_changes(
        spark, [(2, "mutated", "a", 2), (2, "mutated", "a", 4), (2, "mutated", "b", 6)]
    ).coalesce(1).write.mode("append").parquet(feed)
    time.sleep(1.1)
    # batch3: exact live re-delivery (a->4) drops; a tombstone above the
    # live mark (b->6 deleted) passes and becomes the hard floor
    _mk_changes(
        spark, [(3, "mutated", "a", 4), (3, "deleted", "b", 6)]
    ).coalesce(1).write.mode("append").parquet(feed)
    time.sleep(1.1)
    # batch4: at-or-below the tombstone floor drops (live b->5, replayed
    # tombstone b->6); a HIGHER live version (b->7) passes — delete is
    # final only at equal/lower versions
    _mk_changes(
        spark,
        [(4, "mutated", "b", 5), (4, "deleted", "b", 6), (4, "mutated", "b", 7)],
    ).coalesce(1).write.mode("append").parquet(feed)

    stream = (
        spark.readStream.schema(OBJECT_CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        dedup_latest_version_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.object_id, r.version, r.change_type)
        for r in spark.sql(
            "SELECT object_id, version, change_type FROM dedup_out"
        ).collect()
    }
    # batch1: the whole cascade emits (a->1, a->3, b->5) — a higher
    # version may still fail enrichment downstream, so lower versions
    # are the sink's fallback; batch2: a->4 and b->6 advance, and a->2
    # ALSO passes — a live version is never a suppression floor for
    # lower versions (they may be the DLQ fallback for a version that
    # permanently fails enrichment; re-merging an already-merged one
    # is a no-op under the idempotent MERGE)
    assert got == {
        ("a", 1, "created"),
        ("a", 2, "mutated"),
        ("a", 3, "mutated"),
        ("a", 4, "mutated"),
        ("b", 5, "created"),
        ("b", 6, "mutated"),
        ("b", 6, "deleted"),
        ("b", 7, "mutated"),
    }


def test_stateful_dedup_batch_twin(spark):
    from huracan_spark.streaming.stateful import dedup_latest_version_batch

    df = _mk_changes(
        spark,
        [(1, "created", "a", 1), (2, "mutated", "a", 9), (1, "created", "b", 2)],
    )
    got = {(r.object_id, r.version) for r in dedup_latest_version_batch(df).collect()}
    assert got == {("a", 9), ("b", 2)}


def test_watermarked_window_drops_late_data(spark, tmp_path):
    """Windowed agg, 5-min watermark, append mode across restarts:
    a window finalizes once the watermark passes its end, WITHOUT late
    rows beyond the horizon; in-horizon rows land before finalization.
    (The watermark survives restart via the commit log — S9.)"""
    from datetime import datetime

    from pyspark.sql import types as T

    from huracan_spark.streaming.windows import windowed_event_counts

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    feed = str(tmp_path / "wfeed")
    ck = str(tmp_path / "wckpt")
    out = str(tmp_path / "wout")

    def _rows(*specs):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, 10, m, s), et, v) for m, s, et, v in specs], schema
        )

    def _sink(bdf, _bid):
        if bdf.count():
            bdf.write.mode("append").parquet(out)

    def _run_once():
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            windowed_event_counts(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: events to 10:20 -> watermark commits at 10:15
    _rows((0, 30, "click", 1.0), (5, 0, "click", 2.0), (20, 0, "view", 3.0)).coalesce(
        1
    ).write.mode("append").parquet(feed)
    _run_once()
    # run 2: 10:01 is beyond the horizon (window [10:00,10:10) closed at
    # watermark 10:15) -> dropped; 10:12's window is still open -> lands
    _rows((1, 0, "click", 100.0), (12, 0, "view", 4.0)).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    _run_once()
    emitted = {
        (r.window_start.minute, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    # the finalized 10:00 window must NOT contain the late click (100.0)
    assert emitted[(0, "click")] == (2, 3.0)
    assert (10, "view") not in emitted  # still open, not emitted yet

    # runs 3+4: advance event time so the 10:10 window finalizes —
    # proving the in-horizon 10:12 row DID land in state
    _rows((40, 0, "click", 5.0)).coalesce(1).write.mode("append").parquet(feed)
    _run_once()
    _rows((50, 0, "click", 6.0)).coalesce(1).write.mode("append").parquet(feed)
    _run_once()
    emitted = {
        (r.window_start.minute, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    assert emitted[(10, "view")] == (1, 4.0)
    assert emitted[(20, "view")] == (1, 3.0)


def test_stream_version_aware_dedup_converges_to_golden(spark, fx, tmp_path):
    """run_stream with the stateful per-id high-water-mark dedup must
    reach the same silver state as the batch golden — stale versions
    are shed before the sink instead of inside the MERGE."""
    s_batch = SilverTable(spark, str(tmp_path / "vbatch"), n_buckets=4)
    run_backfill(spark, fx["changes"], fx["content"], s_batch)
    expected = sorted(map(tuple, s_batch.read().collect()))

    feed = str(tmp_path / "vfeed")
    os.makedirs(feed)
    fx["changes"].withColumn("_c", F.abs(F.hash("object_id")) % 3).write.partitionBy(
        "_c"
    ).mode("overwrite").parquet(str(tmp_path / "vchunks"))
    for c in range(3):
        spark.read.parquet(str(tmp_path / f"vchunks/_c={c}")).write.mode(
            "append"
        ).parquet(feed)

    s_stream = SilverTable(spark, str(tmp_path / "vstream"), n_buckets=4)
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "vckpt"),
        max_files_per_trigger=2,
        version_aware_dedup=True,
    )
    q = run_stream(
        spark, changes_file_stream(spark, feed, 2), fx["content"], s_stream, cfg
    )
    _await(q)
    assert sorted(map(tuple, s_stream.read().collect())) == expected


def test_streaming_session_windows(spark, tmp_path):
    """Native session windows: events within the gap merge, a quiet
    period splits sessions, and sessions finalize (append mode) once
    the watermark passes."""
    from datetime import datetime

    from pyspark.sql import types as T

    from huracan_spark.streaming.windows import sessionized_event_counts

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    feed = str(tmp_path / "sfeed")
    ck = str(tmp_path / "sckpt")
    out = str(tmp_path / "sout")

    def _rows(*specs):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, h, m), u, v) for h, m, u, v in specs], schema
        )

    def _sink(bdf, _bid):
        if bdf.count():
            bdf.write.mode("append").parquet(out)

    def _run_once():
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            sessionized_event_counts(stream, gap="30 minutes")
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # user 1: 10:00,10:10,10:25 = one session; 11:30 starts another.
    # user 2: 10:05 alone.
    _rows((10, 0, 1, 1.0), (10, 10, 1, 2.0), (10, 25, 1, 3.0),
          (11, 30, 1, 4.0), (10, 5, 2, 5.0)).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    _run_once()
    # advance the watermark far enough to close everything
    _rows((13, 0, 9, 0.0)).coalesce(1).write.mode("append").parquet(feed)
    _run_once()
    _rows((14, 0, 9, 0.0)).coalesce(1).write.mode("append").parquet(feed)
    _run_once()

    got = {
        (r.user_id, r.session_start.hour, r.session_start.minute): (
            r.n_events,
            r.sum_value,
            (r.session_end.hour, r.session_end.minute),
        )
        for r in spark.read.parquet(out).collect()
    }
    assert got[(1, 10, 0)] == (3, 6.0, (10, 55))  # 10:25 + 30min gap
    assert got[(1, 11, 30)] == (1, 4.0, (12, 0))
    assert got[(2, 10, 5)] == (1, 5.0, (10, 35))


def test_stateful_dedup_cascade_spans_arrow_chunks(spark, tmp_path):
    """A key's micro-batch can span several Arrow chunks in ANY version
    order; the whole above-floor cascade must emit (VERDICT r2 item 3:
    the floor is captured at batch entry, not advanced per chunk —
    a descending chunk order must not shed the lower versions the
    sink's DLQ-fallback MERGE depends on)."""
    from huracan_spark.schemas import OBJECT_CHANGE_SCHEMA
    from huracan_spark.streaming.stateful import dedup_latest_version_stream

    feed = str(tmp_path / "feed")
    # one file, key 'a' versions DESCENDING: with per-chunk floors and
    # 1-row chunks, only version 9 would survive
    _mk_changes(
        spark,
        [(1, "mutated", "a", v) for v in (9, 7, 5, 3, 1)]
        + [(1, "created", "b", 2)],
    ).coalesce(1).write.mode("append").parquet(feed)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        stream = spark.readStream.schema(OBJECT_CHANGE_SCHEMA).parquet(feed)
        q = (
            dedup_latest_version_stream(stream)
            .writeStream.format("memory")
            .queryName("dedup_chunks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {
        (r.object_id, r.version)
        for r in spark.sql("SELECT object_id, version FROM dedup_chunks").collect()
    }
    assert got == {("a", 9), ("a", 7), ("a", 5), ("a", 3), ("a", 1), ("b", 2)}


def test_stream_stream_interval_join(spark, tmp_path):
    """Two live streams correlated on user_id within [0, 10 min]:
    inner matches emit as they pair up; left_outer emits the unmatched
    click once BOTH watermarks pass its upper bound; unsupported modes
    are refused (no silent degeneration)."""
    from datetime import datetime

    import pytest as _pytest
    from pyspark.sql import types as T

    from huracan_spark.streaming.joins import interval_join_streams

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    lfeed, rfeed = str(tmp_path / "clicks"), str(tmp_path / "purch")
    out = str(tmp_path / "jout")

    def _rows(*specs):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, 10, m, s), u, v) for m, s, u, v in specs], schema
        )

    def _feed(path, df):
        df.coalesce(1).write.mode("append").parquet(path)

    # clicks: u1@10:00, u1@10:05, u2@10:02 ; purchases: u1@10:03, u2@10:30
    _feed(lfeed, _rows((0, 0, 1, 1.0), (5, 0, 1, 2.0), (2, 0, 2, 3.0)))
    _feed(rfeed, _rows((3, 0, 1, 9.0), (30, 0, 2, 8.0)))

    def _run(how, ck, sink_dir):
        def _sink(bdf, _bid):
            bdf.persist()  # CLAUDE.md: multi-action foreachBatch must persist
            if bdf.count():
                bdf.write.mode("append").parquet(sink_dir)
            bdf.unpersist()

        l = spark.readStream.schema(schema).parquet(lfeed)
        r = spark.readStream.schema(schema).parquet(rfeed)
        q = (
            interval_join_streams(l, r, how=how)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run("inner", str(tmp_path / "ck_inner"), out)
    got = {
        (r.user_id, r.l_ts.minute, r.r_ts.minute)
        for r in spark.read.parquet(out).collect()
    }
    # only u1's 10:00 click pairs with the 10:03 purchase (10:05 click is
    # after it; u2's purchase is 28 min late -> outside the interval)
    assert got == {(1, 0, 3)}

    # batch twin: identical predicate on the static frames must agree
    lb = _rows((0, 0, 1, 1.0), (5, 0, 1, 2.0), (2, 0, 2, 3.0)).alias("l")
    rb = _rows((3, 0, 1, 9.0), (30, 0, 2, 8.0)).alias("r")
    batch = lb.join(
        rb,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    assert {
        (r["l.user_id"] if "l.user_id" in r else r.user_id)
        for r in batch.select(F.col("l.user_id").alias("user_id")).collect()
    } == {1}
    assert batch.count() == 1

    # left_outer: feed far-future rows on BOTH sides (watermark = min of
    # the two inputs) so every earlier click's upper bound passes, then
    # the unmatched clicks emit exactly once with null right columns
    oout = str(tmp_path / "jout_outer")
    _run("left_outer", str(tmp_path / "ck_outer"), oout)
    _feed(lfeed, _rows((59, 0, 9, 0.0)))
    _feed(rfeed, _rows((59, 0, 9, 0.0)))
    _run("left_outer", str(tmp_path / "ck_outer"), oout)
    outer = spark.read.parquet(oout)
    unmatched = {
        (r.user_id, r.l_ts.minute)
        for r in outer.filter(F.col("r_ts").isNull()).collect()
    }
    assert {(1, 5), (2, 2)} <= unmatched
    assert (1, 0) not in unmatched  # the matched click never doubles as outer

    with _pytest.raises(ValueError):
        interval_join_streams(
            spark.readStream.schema(schema).parquet(lfeed),
            spark.readStream.schema(schema).parquet(rfeed),
            how="cross",
        )


def test_stream_stream_outer_interval_joins_match_batch_golden(spark, tmp_path):
    """right_outer and full_outer stream-stream interval joins converge
    to the identical batch outer join on the same rows — unmatched rows
    exist on BOTH sides (a late purchase outside every click's interval,
    and clicks with no purchase at all)."""
    from datetime import datetime

    from pyspark.sql import types as T

    from huracan_spark.streaming.joins import interval_join_streams

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    lfeed, rfeed = str(tmp_path / "clicks"), str(tmp_path / "purch")

    def _rows(*specs):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, 10, m, s), u, v) for m, s, u, v in specs], schema
        )

    # clicks: u1@10:00 (matches), u1@10:05 + u2@10:02 (unmatched);
    # purchases: u1@10:03 (matches), u2@10:30 (outside interval ->
    # unmatched right); far-future rows on both sides advance the
    # watermark past every earlier row's bound so outers finalize
    lrows = [(0, 0, 1, 1.0), (5, 0, 1, 2.0), (2, 0, 2, 3.0), (59, 0, 9, 0.0)]
    rrows = [(3, 0, 1, 9.0), (30, 0, 2, 8.0), (59, 0, 9, 0.0)]
    _rows(*lrows).coalesce(1).write.mode("append").parquet(lfeed)
    _rows(*rrows).coalesce(1).write.mode("append").parquet(rfeed)

    for how in ("right_outer", "full_outer"):
        out = str(tmp_path / f"out_{how}")
        q = (
            interval_join_streams(
                spark.readStream.schema(schema).parquet(lfeed),
                spark.readStream.schema(schema).parquet(rfeed),
                how=how,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{how}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.l_ts and r.l_ts.minute, r.r_ts and r.r_ts.minute)
            for r in spark.read.parquet(out).collect()
        }
        golden = interval_join_streams(_rows(*lrows), _rows(*rrows), how=how)
        want = {
            (r.user_id, r.l_ts and r.l_ts.minute, r.r_ts and r.r_ts.minute)
            for r in golden.collect()
        }
        assert got == want, how
        # unmatched rows really exist on the expected side(s)
        assert (2, None, 30) in got, how  # late purchase, null left
        if how == "full_outer":
            assert {(1, 5, None), (2, 2, None)} <= got  # unmatched clicks


def test_stream_stream_semi_and_anti_interval_joins(spark, tmp_path):
    """left_semi (native stream-stream) and left_anti (composed as
    left_outer + null-right filter) converge to genuine batch semi/anti
    joins: matched clicks appear exactly once in semi, unmatched clicks
    exactly once in anti, and the two partition the left stream."""
    from datetime import datetime

    from pyspark.sql import types as T

    from huracan_spark.streaming.joins import interval_join_streams

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    lfeed, rfeed = str(tmp_path / "clicks"), str(tmp_path / "purch")

    def _rows(*specs):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, 10, m, s), u, v) for m, s, u, v in specs], schema
        )

    # matched: u1@10:00 (purchase 10:03), u9@10:59; unmatched: u1@10:05,
    # u2@10:02 (u2's purchase is 28 min later — outside the interval)
    lrows = [(0, 0, 1, 1.0), (5, 0, 1, 2.0), (2, 0, 2, 3.0), (59, 0, 9, 0.0)]
    rrows = [(3, 0, 1, 9.0), (30, 0, 2, 8.0), (59, 0, 9, 0.0)]
    _rows(*lrows).coalesce(1).write.mode("append").parquet(lfeed)
    _rows(*rrows).coalesce(1).write.mode("append").parquet(rfeed)

    results = {}
    for how in ("left_semi", "left_anti"):
        out = str(tmp_path / f"out_{how}")
        q = (
            interval_join_streams(
                spark.readStream.schema(schema).parquet(lfeed),
                spark.readStream.schema(schema).parquet(rfeed),
                how=how,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{how}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        df = spark.read.parquet(out)
        assert "r_ts" not in df.columns, f"{how} output must be left-only"
        results[how] = {(r.user_id, r.l_ts.minute) for r in df.collect()}

    # independent batch goldens: genuine semi/anti joins on aliased frames
    lb, rb = _rows(*lrows).alias("l"), _rows(*rrows).alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    for how, batch_how in (("left_semi", "left_semi"), ("left_anti", "left_anti")):
        want = {
            (r.user_id, r.ts.minute)
            for r in lb.join(rb, cond, batch_how).collect()
        }
        assert results[how] == want, how
    assert results["left_semi"] == {(1, 0), (9, 59)}
    assert results["left_anti"] == {(1, 5), (2, 2)}
    # semi + anti partition the left stream
    assert results["left_semi"] | results["left_anti"] == {
        (u, m) for m, _, u, _ in lrows
    }
    assert not results["left_semi"] & results["left_anti"]


# --- tombstone-cascade convergence property (r4 counterexample class) ------

_PT_KEYS = ["0xobjA", "0xobjB", "0xobjC"]

_pt_rows = st.lists(
    st.tuples(
        st.integers(0, 2),   # key index
        st.integers(1, 4),   # version (dense -> same-version collisions)
        st.booleans(),       # deleted?
        st.integers(0, 2),   # which micro-batch carries the row
    ),
    min_size=1,
    max_size=14,
)


def _pt_changes(spark, rows):
    """rows: [(key, version, deleted, ts_first_seen)] -> change frame."""
    from huracan_spark.schemas import OBJECT_CHANGE_SCHEMA

    data = [
        (1, f"tx{i}", "deleted" if dead else "mutated", k, v, 1000, ts, "poll")
        for i, (k, v, dead, ts) in enumerate(rows)
    ]
    return spark.createDataFrame(data, OBJECT_CHANGE_SCHEMA)


def _pt_content(spark):
    """Deterministic content: every (key, version) EXCEPT version 3 —
    version-3 live changes always DLQ, so the sink must fall back to
    the best lower version (the M3 cascade contract)."""
    from huracan_spark.schemas import OBJECT_CONTENT_SCHEMA

    data = [
        (k, v, "0x2::coin::Coin", "AddressOwner", f"0xaddr{i}", None,
         f"dg{i}{v}", f"ptx{i}{v}", "100", True, "{}", None, None)
        for i, k in enumerate(_PT_KEYS)
        for v in (1, 2, 4)
    ]
    return spark.createDataFrame(data, OBJECT_CONTENT_SCHEMA)


@given(rows=_pt_rows, version_aware=st.booleans())
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@example(
    # the r4 counterexample class, pinned: tombstone v2 and live v2 for
    # the same key land in DIFFERENT micro-batches (both orders), plus
    # a DLQ'd v3 above them forcing the cascade fallback
    rows=[(0, 2, True, 0), (0, 2, False, 1), (0, 3, False, 2),
          (1, 2, False, 0), (1, 2, True, 1)],
    version_aware=False,
)
@example(
    rows=[(0, 2, True, 0), (0, 2, False, 1), (0, 3, False, 2),
          (1, 2, False, 0), (1, 2, True, 1)],
    version_aware=True,
)
@example(
    # r5 counterexample, pinned: v3 (which permanently DLQs) arrives in
    # an EARLY batch; the v2 fallback arrives in a LATER batch.  A live
    # version must never become a suppression floor for lower versions,
    # or the cross-batch cascade fallback is lost and the stream
    # diverges from the batch golden.
    rows=[(1, 1, False, 2), (1, 1, False, 0), (1, 4, False, 1),
          (0, 1, True, 0), (1, 3, False, 2), (0, 2, False, 2),
          (0, 1, False, 0), (0, 3, False, 0)],
    version_aware=True,
)
@example(
    # everything DLQs: state stays EMPTY on both paths (read() is None)
    rows=[(0, 3, False, 0)],
    version_aware=False,
)
def test_streaming_tombstone_cascade_property(spark, tmp_path_factory, rows, version_aware):
    """PROPERTY: for ANY interleaving of versioned changes — duplicate
    versions, same-version delete/live flips split across micro-batches,
    enrichment failures (DLQ) at the top of a cascade — the streamed
    silver state equals the single-shot batch golden, in BOTH dedup
    modes (watermark and version-aware stateful)."""
    base = tmp_path_factory.mktemp("cascade")
    content = _pt_content(spark)

    # stamp deterministic, unique ts_first_seen by row index
    stamped = [
        (_PT_KEYS[k], v, dead, 2000 + i) for i, (k, v, dead, _) in enumerate(rows)
    ]
    all_changes = _pt_changes(spark, stamped)

    def _state(table):
        # an all-DLQ'd change set commits nothing: read() is None and
        # the state is empty on both paths
        df = table.read()
        return sorted(map(tuple, df.collect())) if df is not None else []

    golden = SilverTable(spark, str(base / "golden"), n_buckets=4)
    run_backfill(spark, all_changes, content, golden)
    want = _state(golden)

    feed = str(base / "feed")
    os.makedirs(feed)
    batches = [
        [(_PT_KEYS[k], v, dead, 2000 + i)
         for i, (k, v, dead, b) in enumerate(rows) if b == bi]
        for bi in range(3)
    ]
    for b in batches:
        if b:
            _pt_changes(spark, b).coalesce(1).write.mode("append").parquet(feed)

    streamed = SilverTable(spark, str(base / "stream"), n_buckets=4)
    cfg = StreamConfig(
        checkpoint_dir=str(base / "ckpt"),
        dlq_dir=str(base / "dlq"),
        version_aware_dedup=version_aware,
    )
    q = run_stream(
        spark, changes_file_stream(spark, feed, 1), content, streamed, cfg
    )
    _await(q)
    got = _state(streamed)
    assert got == want, (rows, version_aware)


def test_streaming_maintained_materialized_view(spark, fx, tmp_path):
    """The gold view maintained DOWNSTREAM of the ingest stream: several
    micro-batch merges land, then ``run_gold_view`` folds the silver
    change feed into the persisted view, which equals a full recompute
    of the final silver state — without any post-hoc rescan.  A
    replayed feed file and a restarted gold consumer must not
    double-count."""
    from huracan_spark.pipeline.incr_view import grouped_view
    from huracan_spark.streaming.gold_view import read_gold_view, run_gold_view

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    chunks = str(tmp_path / "chunks")
    fx["changes"].withColumn("_c", F.abs(F.hash("object_id")) % 3).write.partitionBy(
        "_c"
    ).mode("overwrite").parquet(chunks)
    for c in range(3):
        spark.read.parquet(f"{chunks}/_c={c}").write.mode("append").parquet(feed)

    silver = SilverTable(spark, str(tmp_path / "silver"), n_buckets=4)
    view_dir = str(tmp_path / "view")
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # several micro-batches -> several commits
    )

    def _drain_and_check():
        _await(
            run_stream(
                spark, changes_file_stream(spark, feed, 1), fx["content"],
                silver, cfg,
            )
        )
        _await(
            run_gold_view(
                spark, silver.path, view_dir, "owner_kind", "version_",
                str(tmp_path / "gold_ckpt"), available_now=True,
            )
        )
        got = {
            r.owner_kind: (r.n_rows, r.sum_value)
            for r in read_gold_view(spark, view_dir).collect()
        }
        want = {
            r.owner_kind: (r.n_rows, r.sum_value)
            for r in grouped_view(
                silver.read(), "owner_kind", "version_"
            ).collect()
        }
        assert got == want and got

    _drain_and_check()
    assert len(silver.generations()) >= 3  # one commit per feed file
    # restart with a replayed feed file: the view must not double-count
    spark.read.parquet(f"{chunks}/_c=0").write.mode("append").parquet(feed)
    _drain_and_check()


def test_stateful_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The per-id version high-water mark state can be backed by the
    RocksDB state store (the 100 TB state-scaling path the operator
    documents): same input, same emissions as the default provider."""
    import time

    from huracan_spark.schemas import OBJECT_CHANGE_SCHEMA
    from huracan_spark.streaming.stateful import dedup_latest_version_stream

    feed = str(tmp_path / "feed")
    _mk_changes(
        spark, [(1, "created", "a", 1), (1, "mutated", "a", 3)]
    ).coalesce(1).write.mode("append").parquet(feed)
    time.sleep(1.1)
    _mk_changes(
        spark, [(2, "mutated", "a", 2), (2, "mutated", "a", 4)]
    ).coalesce(1).write.mode("append").parquet(feed)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(OBJECT_CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = (
            dedup_latest_version_stream(stream)
            .writeStream.format("memory")
            .queryName("dedup_rocks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    got = {
        (r.object_id, r.version)
        for r in spark.sql("SELECT object_id, version FROM dedup_rocks").collect()
    }
    # identical cascade semantics as the default-provider test: batch 1
    # emits 1 and 3; batch 2 emits 4 AND the lower 2 (a live version is
    # never a floor for lower versions — cross-batch DLQ fallback)
    assert got == {("a", 1), ("a", 2), ("a", 3), ("a", 4)}


def test_medallion_end_to_end_with_dv_delete(spark, tmp_path):
    """The full medallion wiring in one flow: bronze file stream ->
    silver via MOR streaming MERGE -> a deletion-vector DELETE landing
    BETWEEN runs (metadata-only, marks positions in base and delta
    layers) -> resumed ingest whose equal-version live arrival must
    lose to the DV tombstone -> a decoupled gold view fed ONLY by the
    CDF stream.  Final state equals the batch-driven golden and the
    gold aggregate equals a recompute of the final table."""
    from huracan_spark.pipeline.incr_view import grouped_view
    from huracan_spark.streaming.gold_view import (
        read_gold_view,
        run_gold_view,
    )

    content = _pt_content(spark)
    part1 = [
        (_PT_KEYS[0], 1, False, 2000),
        (_PT_KEYS[1], 1, False, 2001),
        (_PT_KEYS[2], 1, False, 2002),
        (_PT_KEYS[1], 2, False, 2003),
    ]
    part2 = [
        (_PT_KEYS[0], 2, False, 2004),  # ties the DV tombstone: loses
        (_PT_KEYS[2], 4, False, 2005),  # revives above the tombstone
        (_PT_KEYS[1], 4, False, 2006),
    ]

    golden = SilverTable(spark, str(tmp_path / "golden"), n_buckets=4)
    run_backfill(spark, _pt_changes(spark, part1), content, golden)
    golden.delete_where([("version_", "<", 2)], write_mode="cow")
    run_backfill(spark, _pt_changes(spark, part2), content, golden)
    expected = sorted(map(tuple, golden.read().collect()))

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for row in part1:
        _pt_changes(spark, [row]).coalesce(1).write.mode("append").parquet(
            feed
        )
    s = SilverTable(spark, str(tmp_path / "stream"), n_buckets=4)
    cfg = StreamConfig(
        checkpoint_dir=str(tmp_path / "ckpt"), merge_write_mode="mor"
    )
    _await(
        run_stream(spark, changes_file_stream(spark, feed, 1), content, s, cfg)
    )
    n = s.delete_where([("version_", "<", 2)], write_mode="dv")
    assert n == 2 and s.dvs(), "DV delete must mark the two v1 keys"
    for row in part2:
        _pt_changes(spark, [row]).coalesce(1).write.mode("append").parquet(
            feed
        )
    _await(
        run_stream(spark, changes_file_stream(spark, feed, 1), content, s, cfg)
    )
    assert sorted(map(tuple, s.read().collect())) == expected

    view, ck2 = str(tmp_path / "gold"), str(tmp_path / "gold_ck")
    q = run_gold_view(spark, s.path, view, "owner_kind", "version_", ck2)
    q.awaitTermination(120)

    def _snap(df):
        return sorted(
            (r.owner_kind, r.n_rows, r.sum_value) for r in df.collect()
        )

    assert _snap(read_gold_view(spark, view)) == _snap(
        grouped_view(s.read(), "owner_kind", "version_")
    )
