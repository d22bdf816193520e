"""Spark-4-native source coverage: Python DataSource (paginated RPC as
partition-per-page scan), built-in XML feeds, and the RocksDB state
store provider behind a stateful streaming query."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T


# -- Python DataSource: paginated RPC ----------------------------------------


def test_rpc_datasource_partition_per_page(spark):
    from huracan_spark.sources.rpc_datasource import register_rpc_source

    register_rpc_source(spark)
    df = (
        spark.read.format("paginated_rpc")
        .option("page_size", 50)
        .option("n_pages", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8  # pages fetch in parallel
    rows = df.collect()
    assert len(rows) == 400
    assert len({r.object_id for r in rows}) == 400  # ids unique across pages
    assert {r.cp for r in rows} == set(range(400))


def test_rpc_datasource_reads_are_replay_stable(spark):
    from huracan_spark.sources.rpc_datasource import register_rpc_source

    register_rpc_source(spark)

    def snap():
        return sorted(
            tuple(r)
            for r in spark.read.format("paginated_rpc")
            .option("page_size", 20)
            .option("n_pages", 3)
            .option("seed", "replay")
            .load()
            .collect()
        )

    assert snap() == snap()


def test_rpc_datasource_composes_with_relational_ops(spark):
    """The custom source is a normal scan: filters/aggregates compose."""
    from huracan_spark.sources.rpc_datasource import register_rpc_source

    register_rpc_source(spark)
    df = (
        spark.read.format("paginated_rpc")
        .option("page_size", 100)
        .option("n_pages", 4)
        .load()
    )
    per_owner = df.groupBy("owner").agg(F.count("*").alias("n")).collect()
    assert sum(r.n for r in per_owner) == 400
    assert all(r.owner.startswith("owner_") for r in per_owner)


# -- XML document feed --------------------------------------------------------


def test_documents_xml_round_trip(spark, sf_dir, tmp_path):
    from huracan_spark.sources.formats import (
        read_documents_xml,
        write_documents_xml,
    )
    from huracan_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_xml")
    write_documents_xml(docs, out)
    back = read_documents_xml(spark, out)
    a = {tuple(r) for r in docs.select("doc_id", "source", "n_chars").collect()}
    b = {tuple(r) for r in back.select("doc_id", "source", "n_chars").collect()}
    assert a == b


# -- RocksDB state store ------------------------------------------------------


def test_windowed_agg_on_rocksdb_state_store(spark, tmp_path):
    """The watermarked windowed agg must produce identical results with
    the RocksDB state store provider (the off-heap backend the 100 TB
    state-scaling notes rely on)."""
    from huracan_spark.streaming.windows import windowed_event_counts

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    feed = str(tmp_path / "rfeed")
    out = str(tmp_path / "rout")
    rows = [
        (datetime(2024, 1, 1, 10, m), et, v)
        for m, et, v in [(0, "click", 1.0), (4, "click", 2.0), (12, "view", 3.0),
                         (40, "click", 9.0)]
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(feed)

    def _sink(bdf, _bid):
        bdf.persist()
        if bdf.count():
            bdf.write.mode("append").parquet(out)
        bdf.unpersist()

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            windowed_event_counts(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "rck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    emitted = {
        (r.window_start.minute, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    # watermark (5 min) passed the first two 10-min windows via the 10:40 row
    assert emitted[(0, "click")] == (2, 3.0)
    assert emitted[(10, "view")] == (1, 3.0)


# -- Python streaming DataSource: S1 head poll as a custom stream -----------


def _drain_rpc_stream(spark, tmp_path, out, cp, stop_early=False):
    import time

    from huracan_spark.sources.rpc_datasource import register_rpc_stream_source

    register_rpc_stream_source(spark)
    stream = (
        spark.readStream.format("paginated_rpc_stream")
        .option("page_size", 25)
        .option("n_pages", 8)
        .option("pages_per_batch", 3)
        .load()
    )

    def _sink(bdf, _bid):
        if bdf.isEmpty():
            return
        bdf.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", cp)
        .trigger(processingTime="1 second")
        .start()
    )

    def _n_out():
        try:
            return spark.read.parquet(out).count()
        except Exception:  # sink dir not created / no files yet
            return 0

    target = 25 * 8
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            n = _n_out()
            if stop_early and n > 0:
                return n
            if n >= target:
                return n
            time.sleep(0.5)
        raise AssertionError("stream did not drain in time")
    finally:
        q.stop()
        q.awaitTermination(30)


def test_rpc_stream_source_drains_head_exactly_once(spark, tmp_path):
    out = str(tmp_path / "sout")
    _drain_rpc_stream(spark, tmp_path, out, str(tmp_path / "scp"))
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 200
    assert {r.cp for r in rows} == set(range(200))  # no gaps, no dupes


def test_rpc_stream_source_resumes_from_committed_offset(spark, tmp_path):
    """Stop mid-head, restart from the same checkpoint: offsets resume,
    readBetweenOffsets replays any in-flight batch identically, and the
    drained output still covers every cp exactly once."""
    out = str(tmp_path / "rout")
    cp = str(tmp_path / "rcp")
    n_first = _drain_rpc_stream(spark, tmp_path, out, cp, stop_early=True)
    assert 0 < n_first  # stopped somewhere mid-stream
    _drain_rpc_stream(spark, tmp_path, out, cp)
    rows = spark.read.parquet(out).collect()
    cps = [r.cp for r in rows]
    assert sorted(set(cps)) == list(range(200))
    # exactly-once: foreachBatch replay after restart may not re-append
    # a committed batch; every cp appears exactly once
    assert len(cps) == 200


# -- state store reader: checkpoint state as a queryable DataFrame ----------


def test_statestore_reader_exposes_window_state(spark, tmp_path):
    """`spark.read.format("statestore")` turns a checkpoint's state
    into a normal DataFrame — the ops/debug surface for 100 TB stateful
    jobs (inspect skew, count keys) without touching the running query."""
    from datetime import datetime

    from huracan_spark.streaming.windows import windowed_event_counts

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    feed = str(tmp_path / "sfeed")
    cp = str(tmp_path / "sck")
    rows = [
        (datetime(2024, 1, 1, 10, m), et, v)
        for m, et, v in [(0, "click", 1.0), (4, "click", 2.0), (12, "view", 3.0)]
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        feed
    )
    stream = spark.readStream.schema(schema).parquet(feed)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    meta = spark.read.format("state-metadata").load(cp)
    assert meta.count() >= 1  # one stateful operator registered
    op = meta.select("operatorName").first()[0]

    state = spark.read.format("statestore").load(cp)
    # both 10-minute windows are still live state (watermark has not
    # passed them), keyed by (window, event_type)
    keys = {
        (r.key.window.start.minute, r.key.event_type)
        for r in state.select("key").collect()
    }
    assert (0, "click") in keys and (10, "view") in keys
    assert op is not None


def test_python_udtf_lateral_chunking(spark):
    """Spark 4 Python UDTF surface: a table function lateral-joined per
    input row.  Kept OFF relational hot paths (UDTFs are Python-side);
    the declarative twin is queries/llmprep.py::doc_chunking — this
    pins the API so a user-supplied generator can plug into SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id: int, chunk: string")
    class ChunkText:
        def eval(self, text: str, size: int):
            if text is None:
                return
            for i in range(0, len(text), size):
                yield (i // size, text[i : i + size])

    spark.udtf.register("chunk_text", ChunkText)
    docs = spark.createDataFrame(
        [("d1", "abcdefghij"), ("d2", "xyz"), ("d3", None)],
        "doc_id string, text string",
    )
    docs.createOrReplaceTempView("_udtf_docs")
    out = spark.sql(
        "SELECT doc_id, c.chunk_id, c.chunk "
        "FROM _udtf_docs, LATERAL chunk_text(text, 4) AS c"
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk))
    assert [c for _, c in sorted(by_doc["d1"])] == ["abcd", "efgh", "ij"]
    assert [c for _, c in sorted(by_doc["d2"])] == ["xyz"]
    assert "d3" not in by_doc  # null text yields no rows


def test_silver_cdf_stream_source(spark, tmp_path):
    """The silver change feed as a streaming SOURCE (readChangeFeed
    parity): offsets are generation names, partitions are changed
    buckets, output matches table_changes(), and a restarted stream
    resumes from the committed generation — emitting only new commits."""
    import time as _time

    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.sources.silver_cdf_source import (
        register_silver_cdf_source,
    )

    register_silver_cdf_source(spark)
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    rows = lambda data: spark.createDataFrame(
        data, "_id string, version_ long, deleted boolean"
    )
    t.merge(rows([("a", 1, False), ("b", 1, False)]))
    _time.sleep(0.002)
    t.merge(rows([("a", 2, False)]))
    _time.sleep(0.002)
    t.merge(rows([("b", 2, True)]))

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def _drain():
        q = (
            spark.readStream.format("silver_cdf")
            .option("path", t.path)
            .option("starting", "earliest")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _drain()
    cdf = spark.read.parquet(out)
    # full-payload CDF shape: the table's columns + change metadata
    assert set(cdf.columns) == {
        "_id", "version_", "deleted",
        "_change_type", "_old_version", "_commit_generation",
    }
    got = {
        (r._id, r._change_type, r._old_version, r.version_, r._commit_generation)
        for r in cdf.collect()
    }
    gen1 = t.generations()[0]
    # "earliest" = initial snapshot as inserts (Delta startingVersion=0)
    # + every later commit's diff (== table_changes)
    want = {("a", "insert", None, 1, gen1), ("b", "insert", None, 1, gen1)} | {
        (r._id, r.change_type, r.old_version, r.new_version, r._commit_generation)
        for r in t.table_changes().collect()
    }
    assert got == want and len(got) == 4
    # the delete row carries the tombstone payload
    drow = next(r for r in cdf.collect() if r._change_type == "delete")
    assert drow._id == "b" and drow.deleted is True and drow.version_ == 2

    # new commit -> restart from checkpoint emits ONLY the new diff
    _time.sleep(0.002)
    t.merge(rows([("c", 1, False)]))
    gen4 = t.current_generation()
    _drain()
    got2 = {
        (r._id, r._change_type, r._commit_generation)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 - {(g[0], g[1], g[4]) for g in got} == {("c", "insert", gen4)}


def test_gold_view_maintained_from_cdf_stream(spark, tmp_path):
    """Medallion last hop: a DOWNSTREAM stream (decoupled from ingest)
    folds the silver CDF — with preimage rows — into a persisted gold
    aggregate that equals a full recompute of the final state, across
    inserts, updates, group moves, deletes, and a restart."""
    import time as _time

    from huracan_spark.pipeline.incr_view import grouped_view
    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.streaming.gold_view import read_gold_view, run_gold_view

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    rows = lambda data: spark.createDataFrame(
        data, "_id string, version_ long, deleted boolean, grp string, val long"
    )
    t.merge(rows([("a", 1, False, "g1", 10), ("b", 1, False, "g1", 20),
                  ("c", 1, False, "g2", 5)]))
    _time.sleep(0.002)
    t.merge(rows([("a", 2, False, "g2", 11)]))   # update + group move
    _time.sleep(0.002)
    t.merge(rows([("b", 2, True, "g1", 0)]))     # delete

    view, ck = str(tmp_path / "gold"), str(tmp_path / "ck")
    q = run_gold_view(spark, t.path, view, "grp", "val", ck)
    q.awaitTermination(120)

    def _snap(df):
        return sorted((r.grp, r.n_rows, r.sum_value) for r in df.collect())

    assert _snap(read_gold_view(spark, view)) == _snap(
        grouped_view(t.read(), "grp", "val")
    )
    # more commits, then a restarted consumer catches up incrementally
    _time.sleep(0.002)
    t.merge(rows([("d", 1, False, "g1", 7), ("c", 2, False, "g2", 6)]))
    q = run_gold_view(spark, t.path, view, "grp", "val", ck)
    q.awaitTermination(120)
    assert _snap(read_gold_view(spark, view)) == _snap(
        grouped_view(t.read(), "grp", "val")
    )


def test_gold_view_and_refresh_view_fold_a_restore_drop(spark, tmp_path):
    """A RESTORE to before a key's insert makes the key vanish from the
    state.  The feed's ``drop`` row carries the key's old payload, so
    BOTH view folds take its mass back out: the gold stream and
    ``refresh_view`` across the restore equal a full recompute (and
    ``refresh_view`` does not refuse the drop)."""
    import time as _time

    from huracan_spark.pipeline.incr_view import grouped_view, refresh_view
    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.streaming.gold_view import read_gold_view, run_gold_view

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    rows = lambda data: spark.createDataFrame(
        data, "_id string, version_ long, deleted boolean, grp string, val long"
    )
    t.merge(rows([("a", 1, False, "g1", 10), ("b", 1, False, "g2", 20)]))
    seed_gen = t.current_generation()
    _time.sleep(0.002)
    t.merge(rows([("k9", 1, False, "g1", 99)]))
    merged_gen = t.current_generation()

    def _snap(df):
        return sorted((r.grp, r.n_rows, r.sum_value) for r in df.collect())

    view, ck = str(tmp_path / "gold"), str(tmp_path / "ck")
    run_gold_view(spark, t.path, view, "grp", "val", ck).awaitTermination(120)
    assert _snap(read_gold_view(spark, view)) == [("g1", 2, 109), ("g2", 1, 20)]

    _time.sleep(0.002)
    restored_gen = t.restore(seed_gen)  # k9 drops
    run_gold_view(spark, t.path, view, "grp", "val", ck).awaitTermination(120)
    want = _snap(grouped_view(t.read(), "grp", "val"))
    assert want == [("g1", 1, 10), ("g2", 1, 20)]
    assert _snap(read_gold_view(spark, view)) == want

    before = grouped_view(t.read(merged_gen), "grp", "val")
    refreshed = refresh_view(before, t, merged_gen, restored_gen, "grp", "val")
    assert _snap(refreshed) == want


def test_gold_view_fold_into_an_existing_view_runs_no_extra_job(
    spark, tmp_path
):
    """Folding a commit into an existing gold view reads the view with
    the fold's own schema: no parquet schema-inference job, so the
    catch-up run costs no more Spark jobs than the run that created the
    view (streaming runs put their jobs in the run id's job group)."""
    import time as _time

    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.streaming.gold_view import read_gold_view, run_gold_view

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    rows = lambda data: spark.createDataFrame(
        data, "_id string, version_ long, deleted boolean, grp string, val long"
    )
    t.merge(rows([("a", 1, False, "g1", 10), ("b", 1, False, "g2", 20)]))
    view, ck = str(tmp_path / "gold"), str(tmp_path / "ck")
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for batch in ([("c", 1, False, "g1", 5)], []):
        q = run_gold_view(spark, t.path, view, "grp", "val", ck)
        q.awaitTermination(120)
        jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))))
        _time.sleep(0.002)
        if batch:
            t.merge(rows(batch))
    assert jobs[1] <= jobs[0], jobs
    got = sorted(
        (r.grp, r.n_rows, r.sum_value)
        for r in read_gold_view(spark, view).collect()
    )
    assert got == [("g1", 2, 15), ("g2", 1, 20)]


def test_cdf_stream_reconstructs_state_through_dml_optimize_restore(
    spark, tmp_path
):
    """CDF completeness: folding the streamed change feed (initial
    snapshot + every commit's diff, in commit order) reconstructs the
    table's final state EXACTLY — across merges, DELETE/UPDATE DML, a
    clustered OPTIMIZE (which must emit no logical changes), and a
    RESTORE (which emits backward updates and drops)."""
    import time as _time

    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.sources.silver_cdf_source import (
        register_silver_cdf_source,
    )

    register_silver_cdf_source(spark)
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    rows = lambda data: spark.createDataFrame(
        data, "_id string, version_ long, deleted boolean, grp string, val long"
    )
    t.merge(rows([(f"k{i}", 1, False, f"g{i % 3}", i) for i in range(8)]))
    _time.sleep(0.002)
    t.update_where([("grp", "=", "g1")], {"val": "val * 10"})
    _time.sleep(0.002)
    t.delete_where([("grp", "=", "g2")])
    _time.sleep(0.002)
    mid_gen = t.current_generation()
    t.merge(rows([("k9", 1, False, "g0", 99), ("k0", 2, False, "g0", 50)]))
    _time.sleep(0.002)
    t.compact(max_records_per_file=3, cluster_by=["version_"])
    _time.sleep(0.002)
    t.restore(mid_gen)  # k9 drops, k0 reverts to version 1
    _time.sleep(0.002)
    t.merge(rows([("k9", 2, False, "g1", 1)]))

    out, ck = str(tmp_path / "feed_out"), str(tmp_path / "feed_ck")
    q = (
        spark.readStream.format("silver_cdf")
        .option("path", t.path)
        .option("starting", "earliest")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    feed = spark.read.parquet(out).collect()
    # OPTIMIZE rewrites every bucket but changes nothing logically: no
    # feed row may carry the compaction generation
    compact_gens = {
        h["generation"] for h in t.history() if h.get("operation") == "OPTIMIZE"
    }
    assert compact_gens and not any(
        r._commit_generation in compact_gens for r in feed
    )
    state = {}
    for r in sorted(feed, key=lambda r: r._commit_generation):
        if r._change_type == "drop":
            state.pop(r._id, None)
        else:
            state[r._id] = (r.version_, r.deleted, r.grp, r.val)
    want = {
        r._id: (r.version_, r.deleted, r.grp, r.val) for r in t.read().collect()
    }
    assert state == want


def test_cdf_stream_fails_loudly_past_vacuum_horizon(spark, tmp_path):
    """A CDF consumer whose committed offset predates the vacuum
    retention window must FAIL, not silently skip the reclaimed
    commits."""
    import time as _time

    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.sources.silver_cdf_source import _SilverCdfStreamReader

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    rows = lambda data: spark.createDataFrame(
        data, "_id string, version_ long, deleted boolean"
    )
    for v in range(1, 6):
        t.merge(rows([("a", v, False)]))
        _time.sleep(0.002)
    gone = t.generations()[0]
    t.compact()
    _time.sleep(0.002)
    removed = t.vacuum(keep=1)
    assert gone in removed

    reader = _SilverCdfStreamReader({"path": t.path}, ["_id"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuumed"):
        reader.partitions(
            {"generation": gone},
            {"generation": t.current_generation()},
        )


def _cdf_table(spark, path, n_buckets, n_keys):
    from huracan_spark.pipeline.silver import SilverTable

    t = SilverTable(spark, path, n_buckets=n_buckets)
    t.merge(
        spark.createDataFrame(
            [(f"k{i}", 1, False, i) for i in range(n_keys)],
            "_id string, version_ long, deleted boolean, val long",
        )
    )
    return t


def _cdf_rows(reader, parts):
    from collections import Counter

    return Counter(row for p in parts for row in reader.read(p))


def test_cdf_cow_commit_over_every_bucket_plans_one_partition(
    spark, tmp_path
):
    """A Python data-source task costs a fixed slice of worker CPU
    however little it reads, so a small batch's changed-bucket chains
    pack into one partition instead of one per bucket."""
    from huracan_spark.sources.silver_cdf_source import _SilverCdfStreamReader

    t = _cdf_table(spark, str(tmp_path / "t"), 16, 200)
    g1 = t.current_generation()
    t.merge(
        spark.createDataFrame(
            [(f"k{i}", 2, False, -i) for i in range(200)],
            "_id string, version_ long, deleted boolean, val long",
        ),
        write_mode="cow",
    )
    reader = _SilverCdfStreamReader(
        {"path": t.path}, ["_id", "version_", "deleted", "val"]
    )
    parts = reader.partitions(
        {"generation": g1}, {"generation": t.current_generation()}
    )
    assert len(parts) == 1
    assert len(parts[0].chains) == 16
    rows = _cdf_rows(reader, parts)
    assert sum(rows.values()) == 200
    assert {r[4] for r in rows} == {"update"}


def test_cdf_partition_budget_splits_chains_without_changing_rows(
    spark, tmp_path, monkeypatch
):
    """Under a 1-byte budget every chain is planned alone; the rows are
    the packed plan's rows, as a multiset, across MOR, DV and COW
    commits in one batch."""
    import time as _time

    from huracan_spark.sources import silver_cdf_source as cdf

    t = _cdf_table(spark, str(tmp_path / "t"), 4, 40)
    g1 = t.current_generation()
    schema = "_id string, version_ long, deleted boolean, val long"
    for mode, batch in (
        ("mor", [(f"k{i}", 2, i % 3 == 0, i) for i in range(0, 40, 2)]),
        ("cow", [(f"k{i}", 3, False, 7) for i in range(0, 40, 5)]),
        ("mor", [("new", 1, False, 1), ("k1", 4, False, 1)]),
    ):
        _time.sleep(0.002)
        t.merge(spark.createDataFrame(batch, schema), write_mode=mode)
    _time.sleep(0.002)
    t.delete_where([("val", "<", 5)], write_mode="dv")
    reader = cdf._SilverCdfStreamReader(
        {"path": t.path, "preimages": "true"},
        ["_id", "version_", "deleted", "val"],
    )
    span = ({"generation": g1}, {"generation": t.current_generation()})
    packed = reader.partitions(*span)
    assert len(packed) == 1
    monkeypatch.setattr(cdf, "_PARTITION_BYTES", 1)
    alone = reader.partitions(*span)
    assert len(alone) == len(packed[0].chains) == 4
    assert all(len(p.chains) == 1 for p in alone)
    assert any(len(p.chains[0][1]) > 1 for p in alone)  # multi-step chain
    want = _cdf_rows(reader, packed)
    assert want and _cdf_rows(reader, alone) == want

    def chain_bytes(chain):
        return sum(reader._dir_bytes[r] for r in cdf._chain_dirs(*chain))

    # between the two: the largest plus the smallest chain packs some
    # chains together, and no partition goes over the budget
    sizes = [chain_bytes(c) for c in packed[0].chains]
    budget = max(sizes) + min(sizes)
    monkeypatch.setattr(cdf, "_PARTITION_BYTES", budget)
    some = reader.partitions(*span)
    assert 1 < len(some) < len(alone)
    assert all(sum(map(chain_bytes, p.chains)) <= budget for p in some)
    assert _cdf_rows(reader, some) == want


def test_cdf_planning_lists_only_the_new_generations_dirs(
    spark, tmp_path, monkeypatch
):
    """Committed dirs never change, so a trigger sizes the dirs the
    previous batch referenced from memory and lists only the new
    ones; a fresh reader (a restart) lists all of them."""
    from huracan_spark.pipeline import commitlog
    from huracan_spark.sources.silver_cdf_source import _SilverCdfStreamReader

    t = _cdf_table(spark, str(tmp_path / "t"), 4, 40)
    gens = [t.current_generation()]
    schema = "_id string, version_ long, deleted boolean, val long"
    for v in (2, 3):
        t.merge(
            spark.createDataFrame([("k1", v, False, v)], schema),
            write_mode="mor",
        )
        gens.append(t.current_generation())
    listed = []
    real = commitlog.dir_files
    monkeypatch.setattr(
        commitlog, "dir_files", lambda p, rel: listed.append(rel) or real(p, rel)
    )
    cols = ["_id", "version_", "deleted", "val"]
    reader = _SilverCdfStreamReader({"path": t.path}, cols)
    off = [{"generation": g} for g in gens]
    assert len(reader.partitions(off[0], off[1])) == 1
    assert len(listed) == 2  # k1's base and its first delta
    listed.clear()
    reader.partitions(off[1], off[2])
    assert len(listed) == 1 and listed[0].startswith(gens[2])
    listed.clear()
    _SilverCdfStreamReader({"path": t.path}, cols).partitions(off[1], off[2])
    assert len(listed) == 3


def test_silver_cdf_max_generations_per_batch(spark, tmp_path):
    """Admission control (Delta maxFilesPerTrigger analog): a consumer
    whose trigger outpaces the table's commit rate catches up in
    bounded micro-batches — after the (uncapped) first batch of the
    run, every planned batch spans at most max_generations_per_batch
    commits."""
    import os
    import time

    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.sources.silver_cdf_source import (
        register_silver_cdf_source,
    )

    register_silver_cdf_source(spark)
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)

    def _row(i):
        return spark.createDataFrame(
            [(f"k{i}", 1, False, i)],
            "_id string, version_ long, deleted boolean, val long",
        )

    t.merge(_row(0))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("silver_cdf")
        .option("path", t.path)
        .option("starting", "earliest")
        .option("max_generations_per_batch", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def _count():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    deadline = time.time() + 120
    while _count() < 1 and time.time() < deadline:
        time.sleep(0.5)
    assert _count() >= 1, "initial snapshot batch never arrived"
    # backlog: 4 commits land between triggers
    for i in range(1, 5):
        t.merge(_row(i))
        time.sleep(0.003)
    while _count() < 5 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    got = sorted(r._id for r in spark.read.parquet(out).collect())
    assert got == [f"k{i}" for i in range(5)]
    batches = [
        o
        for o in os.listdir(os.path.join(ck, "offsets"))
        if not o.startswith(".")
    ]
    # snapshot batch + >=4 capped catch-up batches (one per commit)
    assert len(batches) >= 5, batches
