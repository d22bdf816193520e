"""The one silver commit loop: every writer derives its manifest by
the one rule (base manifest minus commit metadata, the writer's keys on
top), and every commit's generation name sorts after its parent's, so
``generations()`` is the commit order that history, ``table_changes``
and the ``silver_cdf`` stream source walk."""

from __future__ import annotations

from pyspark.sql import functions as F

from huracan_spark.pipeline.silver import SilverTable

SCHEMA = "_id string, version_ long, deleted boolean, val long"


def _rows(spark, data):
    return spark.createDataFrame(data, SCHEMA)


def _bucket_of(spark, key, n):
    return (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(key)), F.lit(n)).cast("int").alias("b"))
        .first()
        .b
    )


def test_restore_across_rebucketing_compact_keeps_the_target_layout(
    spark, tmp_path
):
    """RESTORE commits the target's bucket count, not the handle's: a
    2-bucket generation restored after a 4-bucket OPTIMIZE still finds
    every key by point lookup, and a later merge updates in place."""
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    keys = [f"k{i}" for i in range(10)]
    t.merge(_rows(spark, [(k, 1, False, i) for i, k in enumerate(keys)]))
    first = t.current_generation()
    t.compact(n_buckets=4)
    t.restore(first)
    assert t._manifest_raw(t.current_generation())["n_buckets"] == 2
    for k in keys:
        hit = t.read_key_bucket(k)
        assert hit is not None and hit.count() == 1, k
    t.merge(_rows(spark, [("k2", 2, False, 200)]))
    got = [(r._id, r.version_, r.val) for r in t.read().collect()]
    assert len(got) == len(keys), sorted(got)
    assert ("k2", 2, 200) in got


def test_disjoint_rebase_commits_after_its_parent(spark, tmp_path):
    """A disjoint-bucket rebase publishes under a name newer than the
    winner it rebased onto: the newest generation is the current one,
    history and table_changes see the commits in order with no phantom
    change, and a silver_cdf stream polled between the two commits
    keeps running."""
    from huracan_spark.sources.silver_cdf_source import (
        register_silver_cdf_source,
    )

    register_silver_cdf_source(spark)
    path = str(tmp_path / "t")
    t = SilverTable(spark, path, n_buckets=2)
    ka = "k0"
    kb = next(
        f"k{i}"
        for i in range(1, 64)
        if _bucket_of(spark, f"k{i}", 2) != _bucket_of(spark, ka, 2)
    )
    t.merge(_rows(spark, [(ka, 1, False, 1), (kb, 1, False, 2)]))
    seed = t.current_generation()

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("silver_cdf")
        .option("path", path)
        .option("starting", "earliest")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        other = SilverTable(spark, path, n_buckets=2)
        real = t._try_commit
        fired = {"n": 0}

        def racy(expected, new_gen, locked=False):
            if fired["n"] == 0:
                fired["n"] += 1
                # a concurrent writer on the other bucket wins first,
                # and the stream consumes its commit before ours lands
                other.merge(_rows(spark, [(kb, 2, False, 20)]))
                q.processAllAvailable()
            return real(expected, new_gen, locked=locked)

        t._try_commit = racy
        t.merge(_rows(spark, [(ka, 2, False, 10)]))
        q.processAllAvailable()
        assert q.isActive and q.exception() is None
    finally:
        q.stop()
        q.awaitTermination(60)

    gens = t.generations()
    current = t.current_generation()
    assert len(gens) == 3 and gens[0] == seed
    winner = gens[1]
    assert gens[-1] == current
    hist = t.history()
    assert hist[0]["generation"] == current
    assert hist[0]["rebased_on"] == winner
    changes = {
        (r._id, r.change_type, r.old_version, r.new_version, r._commit_generation)
        for r in t.table_changes(end_gen=gens[-1]).collect()
    }
    assert changes == {
        (kb, "update", 1, 2, winner),
        (ka, "update", 1, 2, current),
    }
    got = {r._id: (r.version_, r.val) for r in t.read().collect()}
    assert got == {ka: (2, 10), kb: (2, 20)}
    streamed = {
        (r._id, r._change_type, r.version_, r._commit_generation)
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == {
        (ka, "insert", 1, seed),
        (kb, "insert", 1, seed),
        (kb, "update", 2, winner),
        (ka, "update", 2, current),
    }


def test_every_writer_derives_its_manifest_from_its_base(spark, tmp_path):
    """Keys a writer does not replace are carried from its base: a
    bloom rebuild, a rename and a DV delete each keep the others'
    keys.  A lost attempt never leaves a listed manifest."""
    import os

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(_rows(spark, [(f"k{i}", 1, False, i) for i in range(8)]))
    t.add_bloom_index("val")
    blooms = t._manifest_raw(t.current_generation())["blooms"]
    assert blooms
    t.rename_column("val", "amount")
    raw = t._manifest_raw(t.current_generation())
    assert raw["blooms"] == blooms and raw["commit"]["operation"] == "RENAME COLUMN"
    t.delete_where([("amount", "<", 2)], write_mode="dv")
    raw = t._manifest_raw(t.current_generation())
    assert raw["colmap"] == {"amount": "val"} and raw["blooms"] == blooms
    assert set(raw["features"]) == {"dv", "colmap"}

    # an OPTIMIZE that loses to a merge: its claimed generation is not
    # listed while it waits, and it is gone after the retry commits
    other = SilverTable(spark, t.path, n_buckets=2)
    real = t._try_commit
    listed = []

    def racy(expected, new_gen, locked=False):
        if not listed:
            other.merge(
                spark.createDataFrame(
                    [("k7", 2, False, 70)],
                    "_id string, version_ long, deleted boolean, amount long",
                )
            )
            listed.append(new_gen in t.generations())
        return real(expected, new_gen, locked=locked)

    t._try_commit = racy
    t.compact()
    assert listed == [False]
    assert t.history()[0]["operation"] == "OPTIMIZE"
    got = {r._id: (r.version_, r.amount) for r in t.read().collect()}
    assert got["k7"] == (2, 70) and got["k1"][0] == 2
    on_disk = sorted(d for d in os.listdir(t.path) if d.startswith("gen-"))
    assert on_disk == t.generations()
