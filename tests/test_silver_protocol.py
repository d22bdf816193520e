"""Reader feature gating (Delta protocol readerFeatures parity) and
O(metadata) row counts (Delta numRecords / Iceberg snapshot summary).

A manifest stamped with a feature this reader does not implement must
refuse loudly — a pre-DV reader pointed at a DV table would silently
return deleted rows as live, which is strictly worse than an error.
"""

from __future__ import annotations

import json
import os

import pytest

from huracan_spark.pipeline.silver import SilverTable

SCHEMA = "_id string, version_ long, deleted boolean, val long"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _seed(spark, t, n=12):
    t.merge(_mk(spark, [(f"k{i:02d}", 1, False, i) for i in range(n)]))


def test_manifests_stamp_the_features_they_use(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    _seed(spark, t)
    raw = t._manifest_raw(t.current_generation())
    assert "features" not in raw  # plain COW needs no special reader
    t.merge(_mk(spark, [("k00", 2, False, 100)]), write_mode="mor")
    assert t._manifest_raw(t.current_generation())["features"] == ["mor"]
    t.delete_where([("val", "=", 1)], write_mode="dv")
    assert set(t._manifest_raw(t.current_generation())["features"]) == {
        "mor",
        "dv",
    }
    t.compact()  # absorbs both: back to plain
    assert "features" not in t._manifest_raw(t.current_generation())
    t.rename_column("val", "amount")
    assert t._manifest_raw(t.current_generation())["features"] == ["colmap"]


def test_unknown_reader_feature_refuses_loudly(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    _seed(spark, t)
    gen = t.current_generation()
    mfp = os.path.join(t.path, gen, "manifest.json")
    with open(mfp) as f:
        raw = json.load(f)
    raw["features"] = ["dv", "paradox_vectors_v9"]
    with open(mfp, "w") as f:
        json.dump(raw, f)
    fresh = SilverTable(spark, t.path, n_buckets=2)
    with pytest.raises(ValueError, match="paradox_vectors_v9"):
        fresh.read()


def test_cdf_source_manifest_loaders_share_the_feature_gate(
    spark, tmp_path
):
    """The CDF streaming source reads manifests through the shared
    commit-log module, whose gated load refuses unknown reader features
    exactly like SilverTable — a future-feature commit the batch reader
    refuses must not be silently misread by the stream."""
    from huracan_spark.pipeline import commitlog
    from huracan_spark.sources import silver_cdf_source as cdf

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    _seed(spark, t)
    gen = t.current_generation()
    mfp = os.path.join(t.path, gen, "manifest.json")
    with open(mfp) as f:
        raw = json.load(f)
    raw["features"] = ["paradox_vectors_v9"]
    with open(mfp, "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match="paradox_vectors_v9"):
        commitlog.refs(t.path, gen)
    with pytest.raises(ValueError, match="paradox_vectors_v9"):
        cdf._SilverCdfStreamReader({"path": t.path}, ["_id"])
    with pytest.raises(ValueError, match="paradox_vectors_v9"):
        cdf._table_ddl(t.path)


def test_schema_less_manifest_refuses_with_one_error(spark, tmp_path):
    """Every writer commits the table schema; a manifest without one
    predates the format and every reader refuses it with the same
    error instead of guessing the schema from the files."""
    from huracan_spark.sources import silver_cdf_source as cdf

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    _seed(spark, t)
    mfp = os.path.join(t.path, t.current_generation(), "manifest.json")
    with open(mfp) as f:
        raw = json.load(f)
    del raw["schema"]
    with open(mfp, "w") as f:
        json.dump(raw, f)
    for read in (t.table_schema, t.read, lambda: cdf._table_ddl(t.path)):
        with pytest.raises(ValueError, match="no committed schema"):
            read()


def test_count_rows_matches_read_count_across_modes(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=4)
    _seed(spark, t, 16)
    assert t.count_rows() == t.read().count() == 16
    # MOR layers: new key + an update (update must not double-count)
    t.merge(
        _mk(spark, [("zz", 1, False, 99), ("k00", 5, False, 50)]),
        write_mode="mor",
    )
    assert t.count_rows() == t.read().count() == 17
    # DV delete: tombstones stay state rows — count unchanged
    t.delete_where([("val", "<", 3)], write_mode="dv")
    assert t.count_rows() == t.read().count() == 17
    t.compact()
    assert t.count_rows() == t.read().count() == 17
    assert t.detail()["rows"] == 17


def test_count_rows_on_pure_cow_runs_no_spark_job(spark, tmp_path):
    """The Delta numRecords contract: a pure copy-on-write table
    answers from committed stats alone — metadata, not a scan."""
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=4)
    _seed(spark, t, 16)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    n = t.count_rows()
    after = tracker.getJobIdsForGroup(None)
    assert n == 16
    assert before == after, "count_rows launched a Spark job on pure COW"


def test_files_metadata_table(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    _seed(spark, t, 8)
    t.merge(_mk(spark, [("zz", 1, False, 99)]), write_mode="mor")
    t.delete_where([("val", "=", 0)], write_mode="dv")
    df = t.files()
    rows = df.collect()
    layers = {r.layer for r in rows}
    assert layers == {"base", "delta", "dv"}
    assert all(r.size_bytes > 0 for r in rows)
    # base n_rows come from footer stats; a delta'd bucket drops its
    # per-file stats by design (file pruning is unsound there), so
    # only the pure-COW bucket's base files carry counts
    base_rows = sum(r.n_rows or 0 for r in rows if r.layer == "base")
    assert base_rows > 0
    assert df.schema["n_rows"].dataType.simpleString() == "bigint"


def test_partitions_metadata_rollup(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    _seed(spark, t, 8)
    t.merge(_mk(spark, [("zz", 1, False, 99)]), write_mode="mor")
    p = {r.bucket: r for r in t.partitions().collect()}
    assert set(p) == set(t.manifest(t.current_generation()))
    assert all(r.n_files >= 1 and r.total_bytes > 0 for r in p.values())
    assert sum(r.n_delta_files for r in p.values()) >= 1


def test_vacuum_time_retention_extends_protection(spark, tmp_path):
    """retention_ms keeps recently-committed generations alive even
    when the keep-count would drop them (VACUUM RETAIN semantics)."""
    import time

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    for i in range(4):
        t.merge(_mk(spark, [(f"k{i}", 1, False, i)]))
        time.sleep(0.002)
    gens = t.generations()
    # everything committed "just now": a 1-hour retention keeps all,
    # even with keep=1
    assert t.vacuum(keep=1, retention_ms=3_600_000, dry_run=True) == []
    # zero retention degrades to pure keep-count behavior
    removable = t.vacuum(keep=1, retention_ms=0, dry_run=True)
    assert removable == t.vacuum(keep=1, dry_run=True)
    assert set(removable) <= set(gens)
    t.vacuum(keep=1, retention_ms=3_600_000)
    assert t.generations() == gens, "time guard must prevent removal"


def test_release_commit_lock_verifies_identity_nonce(spark, tmp_path):
    """A writer whose long-held lock was stale-broken must NOT unlink
    the successor's fresh lock on release (that would silently admit a
    third writer into a supposedly pessimistic span)."""
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    lock_path = os.path.join(t.path, "_COMMIT_LOCK")

    h1 = t._acquire_commit_lock()
    # simulate a stale-breaker renaming h1 away + a second writer
    # re-acquiring (exactly what _acquire does after _LOCK_STALE_SECS)
    os.rename(lock_path, lock_path + ".stale-test")
    os.unlink(lock_path + ".stale-test")
    h2 = t._acquire_commit_lock()
    assert h1.nonce != h2.nonce

    # first writer releases by path: must see a foreign nonce and leave
    # the second writer's lock intact
    t._release_commit_lock(h1)
    assert os.path.exists(lock_path)

    # rightful owner's release removes it
    t._release_commit_lock(h2)
    assert not os.path.exists(lock_path)

    # releasing an already-gone lock is a no-op
    t._release_commit_lock(h2)


def test_release_commit_lock_normal_cycle(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    lock_path = os.path.join(t.path, "_COMMIT_LOCK")
    h = t._acquire_commit_lock()
    assert os.path.exists(lock_path)
    with open(lock_path) as f:
        assert f.read() == h.nonce
    t._release_commit_lock(h)
    assert not os.path.exists(lock_path)


def test_live_holder_is_never_stale_broken(spark, tmp_path, monkeypatch):
    """The heartbeat keeps a LIVE holder's lock mtime fresh, so another
    writer times out instead of breaking the lock mid-span — even when
    the span far exceeds the staleness threshold.  A DEAD holder's lock
    (no heartbeat) is still broken."""
    import time as _time

    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    monkeypatch.setattr(SilverTable, "_LOCK_STALE_SECS", 0.3)
    monkeypatch.setattr(SilverTable, "_LOCK_HEARTBEAT_SECS", 0.1)

    h = t._acquire_commit_lock()
    _time.sleep(0.8)  # span far beyond staleness; heartbeat refreshes
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        t._acquire_commit_lock(timeout=0.5)
    t._release_commit_lock(h)
    assert not os.path.exists(os.path.join(t.path, "_COMMIT_LOCK"))

    # dead holder: lock exists but nobody heartbeats -> broken and
    # re-acquired within the stale threshold
    lock_path = os.path.join(t.path, "_COMMIT_LOCK")
    with open(lock_path, "w") as f:
        f.write("dead-writer-nonce")
    old = _time.time() - 10
    os.utime(lock_path, (old, old))
    h2 = t._acquire_commit_lock(timeout=2.0)
    assert h2.nonce != "dead-writer-nonce"
    t._release_commit_lock(h2)
