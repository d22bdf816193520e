"""Column mapping (Delta ``columnMapping.mode = name`` parity) and
bucket-count evolution on SilverTable.

RENAME/DROP COLUMN are METADATA-ONLY commits: physical parquet files
never rewrite, because files carry immutable PHYSICAL column names and
each generation's manifest maps logical -> physical.  Re-adding a
dropped logical name binds a FRESH physical column, so old values never
resurface — exactly Delta's column-mapping semantics (reference analog:
the Mongo collections the reference writes are schemaless, so its field
renames are free; main/src/mongo.rs:19-21 — here the parity target is
Delta/Iceberg schema evolution).

``compact(n_buckets=...)`` is the partition-evolution analog: a table
created small re-buckets as it grows, and every handle (even one opened
before the change) adopts the persisted bucket count before merging.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from huracan_spark.pipeline.silver import SilverTable

SCHEMA = "_id string, version_ long, deleted boolean, val long, tag string"


def _rows(spark, items):
    return spark.createDataFrame(items, SCHEMA)


def _mk(spark, tmp_path, n=8, rows=16):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=n)
    t.merge(
        _rows(
            spark,
            [(f"k{i:02d}", 1, False, i, f"tag{i % 3}") for i in range(rows)],
        )
    )
    return t


def _data_dir_mtimes(t):
    out = {}
    for rel in set(t._all_rels(t.current_generation())):
        d = os.path.join(t.path, rel)
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                p = os.path.join(d, fn)
                out[p] = (os.path.getmtime(p), os.path.getsize(p))
    return out


def test_rename_is_metadata_only_and_reads_new_name(spark, tmp_path):
    t = _mk(spark, tmp_path)
    before = _data_dir_mtimes(t)
    old_gen = t.current_generation()
    t.rename_column("val", "amount")
    after = _data_dir_mtimes(t)
    assert before == after, "rename must not rewrite any data file"
    got = t.read()
    assert "amount" in got.columns and "val" not in got.columns
    assert got.filter(F.col("amount") == 7).count() == 1
    # time travel: the old generation still reads under the OLD name
    old = t.read(generation=old_gen)
    assert "val" in old.columns and "amount" not in old.columns


def test_merge_after_rename_lands_under_stable_physical_name(spark, tmp_path):
    import pyarrow.parquet as pq

    t = _mk(spark, tmp_path)
    t.rename_column("val", "amount")
    t.merge(
        spark.createDataFrame(
            [("k00", 2, False, 100, "tagX")],
            "_id string, version_ long, deleted boolean, amount long, tag string",
        )
    )
    got = {r._id: r.amount for r in t.read().collect()}
    assert got["k00"] == 100 and got["k05"] == 5
    # the NEW file physically stores the original column name
    gen = t.current_generation()
    manifest = t.manifest(gen)
    new_rels = [r for r in manifest.values() if r.startswith(gen)]
    assert new_rels, "merge must have rewritten at least one bucket"
    d = os.path.join(t.path, new_rels[0])
    fn = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    names = pq.ParquetFile(os.path.join(d, fn)).schema_arrow.names
    assert "val" in names and "amount" not in names


def test_stats_and_bloom_pruning_survive_rename(spark, tmp_path):
    t = _mk(spark, tmp_path, n=8, rows=64)
    t.add_bloom_index("tag")
    t.rename_column("val", "amount")
    t.rename_column("tag", "label")
    # stats pruning on the renamed numeric column
    kept, skipped = t.prune_plan([("amount", ">", 1_000_000)])
    assert not kept and skipped, "impossible range must prune every bucket"
    got = t.read_where([("amount", "=", 11)])
    assert [r._id for r in got.collect()] == ["k11"]
    # bloom pruning on the renamed indexed column: a probe value that
    # exists prunes nothing incorrect; an absent value prunes files
    kept_absent, _ = t.prune_plan([("label", "=", "no-such-tag")])
    kept_present, _ = t.prune_plan([("label", "=", "tag1")])
    assert len(kept_absent) < len(kept_present)
    assert t.read_where([("label", "=", "no-such-tag")]).count() == 0


def test_drop_column_then_readd_never_resurrects(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.drop_column("tag")
    assert "tag" not in t.read().columns
    # schema evolution re-adds the logical name: a FRESH physical column
    t.merge(
        spark.createDataFrame(
            [("k00", 2, False, 100, "fresh")],
            "_id string, version_ long, deleted boolean, val long, tag string",
        )
    )
    got = {r._id: r.tag for r in t.read().collect()}
    assert got["k00"] == "fresh"
    # pre-drop rows must NOT recover their old tag values
    assert all(v is None for k, v in got.items() if k != "k00")
    cmap = t.colmap()
    assert cmap["tag"] != "tag", "re-added column needs a fresh physical name"


def test_rename_guards(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        t.rename_column("_id", "object_id")
    with pytest.raises(ValueError):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError):
        t.rename_column("val", "tag")  # collision
    t.add_check("val_pos", "val >= 0")
    with pytest.raises(ValueError):
        t.rename_column("val", "amount")  # referenced by a constraint
    with pytest.raises(ValueError):
        t.drop_column("val")
    t.drop_check("val_pos")
    t.rename_column("val", "amount")  # now fine


def test_compact_and_restore_carry_the_mapping(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("val", "amount")
    renamed_gen = t.current_generation()
    t.compact()
    assert "amount" in t.read().columns
    assert t.read().filter(F.col("amount") == 3).count() == 1
    t.restore(renamed_gen)
    assert "amount" in t.read().columns
    # clone carries it too
    c = t.clone(str(tmp_path / "c"))
    assert "amount" in c.read().columns


def test_mor_merge_after_rename_reconciles(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("val", "amount")
    t.merge(
        spark.createDataFrame(
            [("k01", 2, False, 500, "z")],
            "_id string, version_ long, deleted boolean, amount long, tag string",
        ),
        write_mode="mor",
    )
    got = {r._id: r.amount for r in t.read().collect()}
    assert got["k01"] == 500 and got["k02"] == 2
    # delete through the mapped world
    assert t.delete_where([("amount", "=", 500)]) == 1
    live = t.read().filter(~F.col("deleted"))
    assert live.filter(F.col("_id") == "k01").count() == 0


def test_diff_and_cdf_stream_after_rename(spark, tmp_path):
    t = _mk(spark, tmp_path, rows=6)
    t.rename_column("val", "amount")
    g1 = t.current_generation()
    t.merge(
        spark.createDataFrame(
            [("k00", 2, False, 42, "t")],
            "_id string, version_ long, deleted boolean, amount long, tag string",
        )
    )
    d = t.diff(g1, t.current_generation())
    rows = {r._id: r.change_type for r in d.collect()}
    assert rows == {"k00": "update"}
    # the CDF streaming source presents LOGICAL names with full payloads
    from huracan_spark.sources.silver_cdf_source import (
        register_silver_cdf_source,
    )

    register_silver_cdf_source(spark)
    feed = (
        spark.readStream.format("silver_cdf")
        .option("path", t.path)
        .option("starting", "earliest")
        .load()
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("colmap_cdf")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from colmap_cdf")
    assert "amount" in out.columns and "val" not in out.columns
    post = out.filter(
        (F.col("_id") == "k00") & (F.col("_change_type") == "update")
    )
    assert [r.amount for r in post.collect()] == [42]
    snap = out.filter(F.col("_change_type") == "insert")
    assert snap.filter(F.col("amount").isNull()).count() == 0


def test_changes_read_old_rows_through_physical_names(spark, tmp_path):
    """A change range spanning a RENAME and a DROP + re-add names the
    old rows the way the new generation does, through the immutable
    physical names (as the CDF stream decodes them): the renamed column
    keeps its old value in the preimage, the re-added one reads null."""
    t = _mk(spark, tmp_path, n=2, rows=4)
    g1 = t.current_generation()
    t.rename_column("val", "amount")
    t.drop_column("tag")
    t.merge(
        spark.createDataFrame(
            [("k01", 2, False, 42, "fresh")],
            "_id string, version_ long, deleted boolean, amount long, tag string",
        )
    )
    rows = {
        r._change_type: r
        for r in t.changes(g1, t.current_generation()).collect()
    }
    assert set(rows) == {"update_preimage", "update_postimage"}
    assert (rows["update_preimage"].amount, rows["update_preimage"].tag) == (1, None)
    assert (rows["update_postimage"].amount, rows["update_postimage"].tag) == (
        42,
        "fresh",
    )


def test_rebucket_via_compact(spark, tmp_path):
    t = _mk(spark, tmp_path, n=4, rows=32)
    before = sorted(
        (r._id, r.val) for r in t.read().select("_id", "val").collect()
    )
    t.compact(n_buckets=16)
    assert t.n_buckets == 16
    assert len(t.manifest(t.current_generation())) > 4
    after = sorted(
        (r._id, r.val) for r in t.read().select("_id", "val").collect()
    )
    assert before == after
    # merges after the re-bucket land in the right buckets
    t.merge(_rows(spark, [("k00", 2, False, 999, "t")]))
    assert t.read_key_bucket("k00").filter(
        F.col("version_") == 2
    ).count() == 1
    # a handle opened fresh reads the persisted count
    t2 = SilverTable(spark, t.path)
    assert t2.n_buckets == 16


def test_stale_handle_adopts_persisted_bucket_count(spark, tmp_path):
    t = _mk(spark, tmp_path, n=4, rows=32)
    stale = SilverTable(spark, t.path)  # opened at n_buckets=4
    t.compact(n_buckets=8)
    # the stale handle merges AFTER the re-bucket: it must adopt 8,
    # not misbucket under its stale 4
    stale.merge(_rows(spark, [("k07", 2, False, 777, "t")]))
    assert stale.n_buckets == 8
    got = t.read_key_bucket("k07")
    assert {r.version_ for r in got.collect()} == {2}
    full = sorted(r._id for r in t.read().filter(~F.col("deleted")).collect())
    assert len(full) == 32


def test_colmap_read_still_pushes_filters_to_scan(spark, tmp_path):
    """The logical->physical alias is a projection; Catalyst must still
    push the predicate through it to the parquet scan (at 100 TB the
    filter belongs in the reader, not a post-scan Filter)."""
    t = _mk(spark, tmp_path, rows=64)
    t.rename_column("val", "amount")
    df = t.read_where([("amount", ">", 60)])
    p = df._jdf.queryExecution().executedPlan().toString()
    # the scan-level pushed filter names the PHYSICAL column
    assert "GreaterThan(val,60)" in p, p[:2000]
    assert sorted(r._id for r in df.collect()) == ["k61", "k62", "k63"]
