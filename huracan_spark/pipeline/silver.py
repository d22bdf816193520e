"""Silver current-state table: persistent, versioned-MERGE maintained.

The Mongo ``{env}_{net}_objects`` collection analog (mongo.rs:19-21).
Without Delta in this environment, MERGE is implemented directly over
parquet — but INCREMENTALLY, the way Delta/Iceberg do it, not as a
full-state rewrite:

- state is hash-bucketed by ``_id`` into per-bucket parquet
  directories (``gen-*/_bucket=K``);
- every generation carries a ``manifest.json`` mapping bucket id ->
  data directory, where untouched buckets point INTO OLDER
  generations (flattened references — no recursion on read);
- MERGE computes the batch's touched buckets (<= n_buckets distinct
  hash values), reads and re-reduces ONLY those, writes only those,
  and copies the remaining manifest entries verbatim.  A batch that
  touches 1% of the keyspace rewrites ~1% of the state — the
  file-skipping behavior of the reference's in-place conditional bulk
  update (`main/src/etl.rs:1244-1267`) and of a real ``MERGE INTO``;
- the ``_CURRENT`` pointer swap stays atomic (os.replace);
- VACUUM is reference-aware: a generation is removable only when no
  retained generation's manifest (transitively) references its data —
  retained generations, including time-travel targets, always stay
  readable (property-tested).

K1 conditional upsert, K2 tombstones, and idempotent replay semantics
are unchanged from the Delta ``MERGE INTO`` contract documented in
operators/compaction.py.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from huracan_spark.operators.compaction import latest_state, merge_into
from huracan_spark.pipeline import bloom, commitlog, skipping

__all__ = ["SilverTable", "MergeMetrics", "CommitConflict", "ConstraintViolation"]


class ConstraintViolation(ValueError):
    """A merge batch failed a table CHECK constraint under
    ``on_violation="fail"`` (Delta's InvariantViolationException
    analog).  Carries per-constraint violation counts."""

    def __init__(self, counts: dict[str, int]):
        self.counts = counts
        super().__init__(f"check constraint violations: {counts}")


class CommitConflict(RuntimeError):
    """A writer lost the optimistic-commit race too many times in a row
    (Delta's ConcurrentModificationException analog)."""


class MergeMetrics:
    """K3/K8 write-result audit: inserted/modified/unchanged counts
    (etl.rs:1280-1318)."""

    def __init__(self, inserted: int, modified: int, unchanged: int):
        self.inserted = inserted
        self.modified = modified
        self.unchanged = unchanged

    def as_dict(self) -> dict[str, int]:
        return {
            "inserted": self.inserted,
            "modified": self.modified,
            "unchanged": self.unchanged,
        }


class SilverTable:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        # an existing table's bucket count is part of its on-disk layout:
        # honor the persisted value, or merges would misbucket keys.
        # Layout metadata is read ungated: a handle on a table with an
        # unknown reader feature still opens, and its first row read
        # refuses loudly
        gen = self.current_generation()
        persisted = gen and commitlog.load(path, gen).get("n_buckets")
        self.n_buckets = persisted or n_buckets

    # -- the commit protocol (Delta-style optimistic concurrency) -------
    #
    # Every writer commits through ``_commit``: data files are written
    # OUTSIDE any lock (concurrent writers never block each other's
    # Spark jobs); only the pointer swap is guarded, by the commit lock
    # plus a compare-and-swap against the generation the attempt read.
    # A lost attempt rolls its claimed generation back and retries
    # against the new state — Delta's optimistic protocol, where
    # conflicting commits re-resolve against the winner's snapshot.
    # The on-disk half (claim, manifest rule, CAS, lock) lives in
    # ``commitlog``.

    #: commit attempts per write; the last one holds the commit lock
    #: for its whole span (pure optimistic retries livelock under 4
    #: writers)
    _COMMIT_ATTEMPTS = 6
    # generous: a live pessimistic writer legitimately holds the lock
    # across a whole Spark merge — only a truly dead writer's lock may
    # be broken
    _LOCK_STALE_SECS = 600.0
    #: heartbeat period for held locks; a LIVE holder refreshes the
    #: lock mtime every this-many seconds, so staleness (mtime age >
    #: _LOCK_STALE_SECS) can only ever be true of a DEAD holder — a
    #: long-held pessimistic span (replay_quarantine, DV commits) is
    #: never broken mid-span no matter how many Spark jobs it runs
    _LOCK_HEARTBEAT_SECS = 60.0

    def _acquire_commit_lock(self, timeout: float = 120.0) -> commitlog.Lock:
        return commitlog.acquire_lock(
            self.path, timeout, self._LOCK_STALE_SECS, self._LOCK_HEARTBEAT_SECS
        )

    _release_commit_lock = staticmethod(commitlog.release_lock)

    def _claim_generation(self, after: str | None) -> tuple[str, str]:
        return commitlog.claim(self.path, after)

    def _try_commit(
        self, expected_gen: str | None, new_gen: str, locked: bool = False
    ) -> bool:
        """Publish ``new_gen``'s staged manifest and swap ``_CURRENT`` to
        it iff the pointer still names ``expected_gen``.  Returns False
        on a lost race.  ``locked=True`` means the caller already holds
        the commit lock (the pessimistic attempt)."""
        lock = None if locked else self._acquire_commit_lock()
        try:
            return commitlog.cas(self.path, expected_gen, new_gen)
        finally:
            if lock is not None:
                self._release_commit_lock(lock)

    def _commit(
        self,
        operation: str,
        build,
        base: dict | None = None,
        locked: bool = False,
        rebase: bool = False,
    ) -> str | None:
        """The one commit loop.  Each attempt reads its parent (the
        current generation), claims a generation named after it, calls
        ``build(parent, parent_manifest, gen, gen_dir)`` — which writes
        any data under ``gen_dir`` and returns the manifest keys it
        replaces (``commit`` holding extra commit fields), or None for
        a no-op, which releases the claim — derives the manifest from
        ``base`` (default: the parent's) by ``commitlog.derive``, and
        CASes the pointer.  A lost attempt is rolled back and retried;
        the last attempt holds the commit lock for its whole span.
        ``locked=True``: the caller already holds the lock, so the one
        attempt runs under it.  ``rebase=True`` (merges): a lost
        attempt whose buckets the winner left alone is spliced onto
        the winner's manifest by the next attempt instead of rebuilt
        (``commitlog.rebase``; its data stays in the lost claim's dir,
        which the spliced manifest references).
        Returns the committed generation, or None for a no-op."""
        attempts = 1 if locked else self._COMMIT_ATTEMPTS
        lost = None  # (parent manifest, manifest, data dir) to rebase
        for attempt in range(attempts):
            held = locked or attempt == attempts - 1
            lock = (
                self._acquire_commit_lock(timeout=300.0)
                if held and not locked
                else None
            )
            try:
                parent = self.current_generation()
                raw = self._manifest_raw(parent) if parent else {}
                gen, out = self._claim_generation(parent)
                try:
                    replaced = lost and commitlog.rebase(*lost[:2], raw, parent)
                    if not replaced:
                        if lost:
                            shutil.rmtree(lost[2], ignore_errors=True)
                            lost = None
                        replaced = build(parent, raw, gen, out)
                    if replaced is None:
                        shutil.rmtree(out, ignore_errors=True)
                        return None
                    mf = commitlog.derive(
                        raw if base is None else base, replaced, operation
                    )
                    commitlog.stage(out, mf)
                except BaseException:
                    shutil.rmtree(out, ignore_errors=True)
                    if lost:
                        shutil.rmtree(lost[2], ignore_errors=True)
                    raise
                if self._try_commit(parent, gen, locked=held):
                    return gen
                if rebase and lost is None:
                    lost = (raw, mf, out)  # its data may still commit
                else:
                    shutil.rmtree(out, ignore_errors=True)
            finally:
                if lock is not None:
                    self._release_commit_lock(lock)
        if lost:
            shutil.rmtree(lost[2], ignore_errors=True)
        raise CommitConflict(f"{operation} lost the commit race {attempts} times")

    def current_generation(self) -> str | None:
        return commitlog.current(self.path)

    def generations(self) -> list[str]:
        """Committed generations in commit order, oldest first (S7 time
        travel: the reference's unused past-object lookups,
        client.rs:92-109, map to reading an older generation)."""
        return commitlog.generations(self.path)

    def manifest(self, generation: str) -> dict[str, str]:
        """bucket id (str) -> data dir relative to the table root."""
        return commitlog.load(self.path, generation)["buckets"]

    def history(self) -> list[dict]:
        """Commit log, newest first (the DESCRIBE HISTORY analog): one
        entry per committed generation with the operation that produced
        it and its commit metadata."""
        out = []
        for g in reversed(self.generations()):
            try:
                m = commitlog.load(self.path, g)
            except FileNotFoundError:
                continue
            out.append({"generation": g, **m["commit"]})
        return out

    def detail(self) -> dict:
        """Table-level metadata snapshot (the DESCRIBE DETAIL analog):
        current generation, bucket/file/byte counts over the CURRENT
        manifest's referenced data (not dead generations), committed
        schema column names, and total commits on disk."""
        gen = self.current_generation()
        if gen is None:
            return {"location": self.path, "current_generation": None}
        manifest = self.manifest(gen)
        entries = self._file_entries(gen)
        return {
            "location": self.path,
            "current_generation": gen,
            "n_buckets": self.n_buckets,
            "populated_buckets": len(manifest),
            "num_files": len(entries),
            "size_bytes": sum(e[4] for e in entries),
            "columns": self.table_schema(gen).fieldNames(),
            "num_commits": len(self.history()),
            "stats_buckets": len(self.bucket_stats(gen)),
            "file_stats_buckets": len(self.file_stats(gen)),
            "constraints": sorted(self.constraints()),
            "mor_buckets": len(self.deltas(gen)),
            "dv_buckets": len(self.dvs(gen)),
            "column_mapping": self.colmap(gen) is not None,
            "rows": self.count_rows(gen),
        }

    def changed_buckets(self, gen_old: str, gen_new: str) -> list[str]:
        """Bucket ids whose data file differs between two generations.

        Because merges rewrite only touched buckets and reference the
        rest from older generations (incremental manifest design), an
        IDENTICAL relative path in both manifests proves the bucket's
        bytes are unchanged — those buckets are skipped without being
        read.  This is the Delta/Iceberg change-data-feed file-skipping
        trick expressed over plain parquet manifests."""
        return commitlog.changed_buckets(
            commitlog.refs(self.path, gen_old),
            commitlog.refs(self.path, gen_new),
        )

    def changes(self, gen_old: str, gen_new: str) -> DataFrame | None:
        """Full-payload change rows between two generations, in the
        vocabulary of the ``silver_cdf`` stream with preimages on (its
        Spark twin): the table's columns as ``gen_new`` names them, plus
        ``_change_type`` and ``_old_version``.  A changed key yields

        - ``insert`` (no old row), or ``delete`` for a tombstone arrival;
        - ``update_preimage`` + ``update_postimage``;
        - ``delete_preimage`` + ``delete`` (tombstone postimage);
        - ``drop`` carrying the OLD payload when the key vanished from
          the state (a RESTORE to before its insert).

        A key changed iff its version or its ``deleted`` flag differs
        (an equal-version tombstone flip changes state too).  Each side's
        reconciled state is read once, over the changed buckets only
        (``changed_buckets``), and both meet in one shuffle on ``_id``,
        so the cost scales with the delta, not the table.  Returns None
        when no bucket differs."""
        changed = self.changed_buckets(gen_old, gen_new)
        if not changed:
            return None
        schema = self.table_schema(gen_new)
        old = self._bucket_state(gen_old, changed)
        new = self._bucket_state(gen_new, changed)
        if old is None and new is None:
            return None
        if new is None:
            new = self.spark.createDataFrame([], schema)
        if old is None:
            old = self.spark.createDataFrame([], schema)
        else:
            # the old rows under gen_new's names and types: physical
            # names are immutable, so a rename maps through them and a
            # dropped-then-re-added column reads null, never the dropped
            # data (the stream decodes every generation the same way)
            old_cmap = self.colmap(gen_old) or {}
            new_cmap = self.colmap(gen_new) or {}
            by_phys = {old_cmap.get(c, c): c for c in old.columns}
            old = old.select(
                *[
                    (
                        F.col(by_phys[new_cmap.get(f.name, f.name)])
                        if new_cmap.get(f.name, f.name) in by_phys
                        else F.lit(None)
                    )
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in schema.fields
                ]
            )
        # one shuffle of both sides (not a join: the rows themselves are
        # the output, so unused payload columns prune from the scans).
        # A key has at most one row per side; every row sees both
        # sides' version and flag
        cols = schema.fieldNames()
        side = F.col("_side")
        w = Window.partitionBy("_id")

        def at(s, c):
            return F.max(F.when(side == s, F.col(c))).over(w)

        both = (
            old.withColumn("_side", F.lit(0))
            .unionByName(new.select(*cols).withColumn("_side", F.lit(1)))
            .withColumns(
                {
                    "_ov": at(0, "version_"),
                    "_nv": at(1, "version_"),
                    "_od": at(0, "deleted"),
                    "_nd": at(1, "deleted"),
                }
            )
        )
        ov, nv, od, nd = (F.col(c) for c in ("_ov", "_nv", "_od", "_nd"))
        fresh, gone = ov.isNull(), nv.isNull()
        kind = (
            F.when(gone, F.lit("drop"))
            .when(fresh, F.when(nd, F.lit("delete")).otherwise(F.lit("insert")))
            .when(nd & ~F.coalesce(od, F.lit(False)), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        label = F.when(
            side == 0,
            F.when(gone, kind).otherwise(F.concat(kind, F.lit("_preimage"))),
        ).otherwise(
            F.when(kind == "update", F.lit("update_postimage")).otherwise(kind)
        )
        return both.filter(
            fresh | gone | (nv != ov) | ~nd.eqNullSafe(od)
        ).select(*cols, label.alias("_change_type"), ov.alias("_old_version"))

    def diff(self, gen_old: str, gen_new: str) -> DataFrame | None:
        """Change data feed between two generations: per changed key,
        ``change_type`` in (insert, update, delete, drop) + old/new
        versions — the ``changes`` rows without their preimages.
        ``drop`` marks a key that vanished from the state, which a
        RESTORE to before the key's insert does.  Returns None when no
        bucket differs."""
        ch = self.changes(gen_old, gen_new)
        if ch is None:
            return None
        kind = F.col("_change_type")
        return ch.filter(~kind.endswith("_preimage")).select(
            "_id",
            F.when(kind == "update_postimage", F.lit("update"))
            .otherwise(kind)
            .alias("change_type"),
            F.col("_old_version").alias("old_version"),
            F.when(kind != "drop", F.col("version_")).alias("new_version"),
        )

    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col("_id")), F.lit(self.n_buckets)).cast("int")

    def table_changes(
        self, start_gen: str | None = None, end_gen: str | None = None
    ) -> DataFrame | None:
        """The Delta ``table_changes`` analog: the change feed across a
        RANGE of commits, one ``diff`` per consecutive generation pair
        in ``(start_gen, end_gen]``, stamped with the generation and
        commit timestamp that produced each change.  ``start_gen=None``
        starts at the oldest on-disk generation; ``end_gen=None`` ends
        at the current one.  Cost scales with the deltas (each pairwise
        diff reads only changed buckets), not with table size × commits.
        Returns None when the range holds no changes."""
        gens = commitlog.generations(self.path)
        if end_gen is None:
            end_gen = self.current_generation()
        if end_gen not in gens:
            raise ValueError(f"unknown end generation {end_gen!r}")
        if start_gen is not None and start_gen not in gens:
            raise ValueError(f"unknown start generation {start_gen!r}")
        lo = 0 if start_gen is None else gens.index(start_gen)
        hi = gens.index(end_gen)
        parts = []
        for prev, cur in zip(gens[lo:hi], gens[lo + 1 : hi + 1]):
            d = self.diff(prev, cur)
            if d is None:
                continue
            commit = self._manifest_raw(cur).get("commit", {})
            parts.append(
                d.withColumn("_commit_generation", F.lit(cur)).withColumn(
                    "_commit_ts_ms",
                    F.lit(commit.get("ts_ms")).cast("long"),
                )
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- data skipping (Delta file-stats analog) -------------------------

    def bucket_stats(self, generation: str | None = None) -> dict[str, dict]:
        """Per-bucket column {min,max,null_count,n_rows} harvested from
        parquet footers at commit time.  Empty for pre-feature
        generations (reads then never prune)."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("stats", {})

    def prune_plan(
        self, filters, generation: str | None = None
    ) -> tuple[list[str], list[str]]:
        """(kept data paths, skipped bucket ids) for a conjunction of
        ``(col, op, value)`` filters — the observable skipping decision
        ``read_where`` acts on.  Two granularities: a bucket whose
        aggregate stats can't match is skipped whole; a surviving
        bucket with per-file stats keeps only the FILES that might
        match (post-``cluster_by`` OPTIMIZE, files hold disjoint
        ranges, so this is where most of the pruning lands).  Files
        also drop when a bloom index proves an ``=``/``in`` value
        absent (``add_bloom_index`` — the point-lookup granularity
        min/max stats can't reach)."""
        gen = generation or self.current_generation()
        if gen is None:
            return [], []
        cmap = self.colmap(gen)
        if cmap:
            # stats/bloom maps are keyed by PHYSICAL column names;
            # filters arrive logical — translate before probing
            filters = [(cmap.get(c, c), op, v) for (c, op, v) in filters]
        manifest = self.manifest(gen)
        deltas = self.deltas(gen)
        dvs = self.dvs(gen)
        stats = self.bucket_stats(gen)
        fstats = self.file_stats(gen)
        blooms = self.file_blooms(gen)
        # bloom probes need the committed PHYSICAL dtypes: a bitmap is
        # only consultable when the column's string cast is stable
        # against the probe value's str() (see bloom._probe_ok) — and
        # type widening can change a column's cast family later
        phys = self._physical_schema(self.table_schema(gen), cmap)
        types = {f.name: f.dataType.simpleString() for f in phys.fields}
        kept, skipped = [], []
        for b, rel in sorted(manifest.items()):
            probe = filters
            if b in dvs:
                # the deletion-vector overlay changes version_/deleted
                # at READ time; footer stats describe the pre-overlay
                # bytes, so filters on those columns must not prune a
                # DV'd bucket (data-column stats stay sound — the
                # overlay never touches payload columns)
                probe = [
                    f for f in filters if f[0] not in ("version_", "deleted")
                ]
            if not skipping.bucket_might_match(stats.get(b), probe):
                skipped.append(b)
                continue
            if b in dvs and b not in deltas:
                # DV'd bucket: the overlay join needs every surviving
                # row position, so file-level pruning is skipped (the
                # whole-bucket stats test above still applies);
                # compact() absorbs the DV and restores file pruning
                kept.append(rel)
                continue
            if b in deltas:
                # merge-on-read bucket: pruning individual FILES could
                # drop the latest version of a key while a stale
                # version survives in another layer (resurrection) —
                # only the whole-bucket stats test above is sound.
                # Bucket stats cover base+deltas (merged at commit).
                kept.append(rel)
                kept.extend(deltas[b])
                continue
            per_file = fstats.get(b)
            bmap = blooms.get(b, {})
            if not per_file:
                # no per-file stats: the bloom map (complete when
                # present — all-null files carry zero bitmaps) is the
                # file list; without either, read the bucket whole
                if not bmap:
                    kept.append(rel)
                    continue
                per_file = {fn: {} for fn in bmap}
            live = [
                os.path.join(rel, fn)
                for fn, fs in sorted(per_file.items())
                if skipping.bucket_might_match(fs, filters)
                and bloom.file_might_contain(bmap.get(fn), filters, types)
            ]
            if live:
                kept.extend(live)
            else:
                skipped.append(b)
        return kept, skipped

    def read_where(
        self, filters, generation: str | None = None
    ) -> DataFrame | None:
        """Stats-pruned read: buckets and files whose footer stats prove
        the conjunction can't match are never opened (Delta data
        skipping; ``prune_plan``); the exact predicate is then applied
        to the reconciled rows of what is read, so results equal
        ``read().filter(...)`` row-for-row.  Merge-on-read and
        deletion-vector buckets prune whole-bucket only and resolve
        BEFORE the filter (a stale version may match while the latest
        doesn't; an overlaid tombstone must not read back live)."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        kept, _ = self.prune_plan(filters, gen)
        state = self._bucket_state(gen, kept=kept)
        if state is None:
            return self.spark.createDataFrame([], self.table_schema(gen))
        return state.filter(skipping.filters_to_column(filters))

    @staticmethod
    def _harvest_stats(out_dir: str) -> tuple[dict[str, dict], dict[str, dict]]:
        """Footer stats for every ``_bucket=K`` dir under a freshly
        written generation — metadata-only, no Spark job.  One footer
        pass yields BOTH granularities: per-bucket (coarse prune) and
        per-file (fine prune after a clustered OPTIMIZE)."""
        import os as _os

        bstats: dict[str, dict] = {}
        fstats: dict[str, dict] = {}
        for d in _os.listdir(out_dir):
            if not d.startswith("_bucket="):
                continue
            raw = skipping.collect_file_stats(
                _os.path.join(out_dir, d), _raw=True
            )
            if not raw:
                continue
            merged = None
            for fs in raw.values():
                merged = fs if merged is None else skipping.merge_stats(merged, fs)
            b = d.split("=", 1)[1]
            bstats[b] = skipping._strip(merged)
            fstats[b] = {fn: skipping._strip(fs) for fn, fs in raw.items()}
        return bstats, fstats

    def file_stats(self, generation: str | None = None) -> dict[str, dict]:
        """Per-bucket {filename: column stats} — the per-file skipping
        granularity (empty for pre-feature generations)."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("fstats", {})

    # -- bloom filter indexes (Delta bloom index analog) ------------------

    def _bloom_config_path(self) -> str:
        return os.path.join(self.path, "bloom.json")

    def bloom_indexes(self) -> dict[str, dict]:
        """Configured bloom columns: {col: {"m": bits, "k": probes}}."""
        try:
            with open(self._bloom_config_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def add_bloom_index(
        self,
        col: str,
        bits: int = bloom.DEFAULT_BITS,
        k: int = bloom.DEFAULT_K,
        rebuild: bool = True,
    ) -> None:
        """Register a per-file bloom index on ``col`` (point-lookup
        skipping for high-cardinality non-bucket columns — min/max
        stats can't prune those).  Future commits harvest bitmaps for
        the files they write; ``rebuild=True`` (default) also indexes
        the CURRENT data now, via one distributed pass + a
        metadata-only commit (Delta backfills new bloom indexes the
        same way)."""
        if bits % 8 or bits <= 0 or k <= 0:
            raise ValueError("bits must be a positive multiple of 8, k > 0")
        cfg = self.bloom_indexes()
        # the config is keyed by PHYSICAL column name: bitmaps harvest
        # from parquet files, whose names survive logical renames
        cmap = self.colmap()
        cfg[cmap.get(col, col) if cmap else col] = {"m": bits, "k": k}
        with open(self._bloom_config_path(), "w") as f:
            json.dump(cfg, f)
        if rebuild and self.current_generation() is not None:
            self._commit_bloom_rebuild()

    def drop_bloom_index(self, col: str | None, _physical: str | None = None) -> None:
        """Stop indexing ``col`` on future commits.  Already-committed
        bitmaps keep pruning (they are self-describing) until the
        files they cover are rewritten."""
        if _physical is None:
            cmap = self.colmap()
            _physical = cmap.get(col, col) if cmap else col
        cfg = self.bloom_indexes()
        cfg.pop(_physical, None)
        with open(self._bloom_config_path(), "w") as f:
            json.dump(cfg, f)

    def file_blooms(self, generation: str | None = None) -> dict[str, dict]:
        """Per-bucket {filename: {col: bitmap}} committed with the
        generation (empty before any bloom index exists)."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("blooms", {})

    def _harvest_blooms(self, rel_dirs) -> dict[str, dict]:
        """One Spark job over the given bucket data dirs computing the
        configured per-file bitmaps — O(listed data), run at commit
        over just-written files only (the same order as the merge
        itself).  No-op (and no job) without configured indexes."""
        cfg = self.bloom_indexes()
        if not cfg or not rel_dirs:
            return {}
        paths = [os.path.join(self.path, r) for r in sorted(set(rel_dirs))]
        df = (
            self.spark.read.parquet(*paths)
            .withColumn("_path", F.input_file_name())
            .withColumn(
                "_bucket_id", F.regexp_extract("_path", r"_bucket=(\d+)", 1)
            )
            .withColumn("_file", F.element_at(F.split("_path", "/"), -1))
        )
        return bloom.harvest_blooms(df, cfg)

    def _commit_bloom_rebuild(self) -> str:
        """Index the whole current state: harvest bitmaps for every
        referenced file and commit a metadata-only generation carrying
        them (data is referenced, not rewritten)."""

        def build(parent, raw, gen, out):
            # delta'd buckets never file-prune (see prune_plan), so
            # index only the copy-on-write buckets' files
            deltas = raw.get("deltas", {})
            return {
                "blooms": self._harvest_blooms(
                    [r for b, r in raw["buckets"].items() if b not in deltas]
                ),
                "commit": {"columns": sorted(self.bloom_indexes())},
            }

        return self._commit("BLOOM INDEX", build)

    # -- CHECK constraints (Delta invariants / DLT expectations) ---------

    @property
    def _constraints_path(self) -> str:
        return os.path.join(self.path, "_CONSTRAINTS")

    def constraints(self) -> dict[str, str]:
        """name -> SQL boolean expression every merged row must satisfy
        (NULL passes, as in SQL CHECK)."""
        try:
            with open(self._constraints_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _update_config(self, path: str, mutate) -> None:
        """The one table-config writer: under the commit lock, read the
        JSON map at ``path``, ``mutate`` it in place, and replace the
        file atomically."""
        lock = self._acquire_commit_lock()
        try:
            try:
                with open(path) as f:
                    cfg = json.load(f)
            except FileNotFoundError:
                cfg = {}
            mutate(cfg)
            with open(path + ".tmp", "w") as f:
                json.dump(cfg, f)
            os.replace(path + ".tmp", path)
        finally:
            self._release_commit_lock(lock)

    def add_check(self, name: str, expr: str) -> None:
        """ALTER TABLE ADD CONSTRAINT analog.  Enforced on every
        subsequent merge; persisted with the table so reopened handles
        enforce it too."""
        self._update_config(
            self._constraints_path, lambda cons: cons.update({name: expr})
        )

    def drop_check(self, name: str) -> None:
        self._update_config(
            self._constraints_path, lambda cons: cons.pop(name, None)
        )

    # -- generated columns (Delta GENERATED ALWAYS AS) --------------------

    @property
    def _generated_path(self) -> str:
        return os.path.join(self.path, "_GENERATED")

    def generated_columns(self) -> dict[str, str]:
        """column -> SQL expression over the row's other columns.  A
        merge batch that OMITS the column gets it computed; a batch
        that PROVIDES it must match the expression (null-safely), or
        the rows ride the merge's ``on_violation`` disposition —
        Delta's GENERATED ALWAYS AS contract."""
        try:
            with open(self._generated_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def add_generated_column(self, col: str, expr: str) -> None:
        """Register ``col GENERATED ALWAYS AS (expr)``.  Applies to
        every subsequent merge (batch and streaming share the path);
        persisted with the table, carried by ``clone``.  Existing rows
        are NOT backfilled (as in Delta — the column materializes per
        write); merge a touch-up batch or ``update_where`` to backfill."""
        if col in ("_id", "version_", "deleted", "_bucket"):
            raise ValueError(f"cannot generate protected column {col!r}")
        self._update_config(
            self._generated_path, lambda gens: gens.update({col: expr})
        )

    def drop_generated_column(self, col: str) -> None:
        self._update_config(
            self._generated_path, lambda gens: gens.pop(col, None)
        )

    def _apply_generated(self, batch: DataFrame) -> tuple[DataFrame, dict]:
        """Compute omitted generated columns; return synthetic CHECK
        expressions for provided ones (validated in the same one-pass
        constraint evaluation as the table's real CHECKs).  ``<=>``
        never yields NULL, so a mismatching NULL can't slip through
        the CHECK null-passes loophole."""
        gens = self.generated_columns()
        synthetic = {}
        for c, expr in gens.items():
            if c in batch.columns:
                synthetic[f"_generated_{c}"] = f"`{c}` <=> ({expr})"
            else:
                batch = batch.withColumn(c, F.expr(expr))
        return batch, synthetic

    def _enforce_constraints(
        self, batch: DataFrame, on_violation: str, extra: dict | None = None
    ):
        """Split a batch on the table's CHECK constraints.  Returns
        (clean_batch, quarantined_df_or_None).  SQL CHECK semantics: a
        row violates a constraint only when the expression is FALSE
        (NULL/unknown passes).  All constraints evaluate in ONE pass —
        no per-rule re-scan.  ``extra`` folds caller-synthesized
        checks (generated-column matches) into the same pass."""
        cons = dict(self.constraints())
        if extra:
            cons.update(extra)
        if not cons:
            return batch, None
        viol_cols = {
            name: ~F.coalesce(F.expr(expr), F.lit(True))
            for name, expr in cons.items()
        }
        any_viol = F.array_compact(
            F.array(
                *[
                    F.when(pred, F.lit(name))
                    for name, pred in viol_cols.items()
                ]
            )
        )
        tagged = batch.withColumn("_violated", any_viol)
        if on_violation == "fail":
            counts = tagged.agg(
                *[
                    F.count(F.when(pred, 1)).alias(name)
                    for name, pred in viol_cols.items()
                ]
            ).first()
            bad = {n: counts[n] for n in cons if counts[n]}
            if bad:
                raise ConstraintViolation(bad)
            return batch, None
        clean = tagged.filter(F.size("_violated") == 0).drop("_violated")
        if on_violation == "drop":
            return clean, None
        if on_violation == "quarantine":
            quarantined = tagged.filter(F.size("_violated") > 0).withColumn(
                "_quarantined_ts_ms", F.lit(int(time.time() * 1000))
            )
            return clean, quarantined
        raise ValueError(f"unknown on_violation mode: {on_violation!r}")

    def replay_quarantine(self) -> int:
        """Re-admit quarantined rows that NOW pass the table's checks —
        the sink-edge replay loop (K7's retry-DLQ contract at the
        quarantine): after a constraint is dropped, relaxed, or the
        offending upstream is fixed and a touch-up batch is expected,
        passing rows MERGE through the normal versioned path (so the
        usual total order still decides against newer stored state)
        and the quarantine rewrites to only the still-failing rows.
        Returns the number of rows re-admitted.  Idempotent: a second
        call finds nothing newly passing.

        Holds the commit lock across the whole read-merge-rewrite span:
        a quarantine-mode merge landing between the snapshot and the
        rewrite would otherwise have its fresh quarantine rows silently
        deleted (same multi-writer protocol as every other writer; the
        inner merge runs pessimistically under the held lock)."""
        lock = self._acquire_commit_lock(timeout=300.0)
        try:
            q = self.read_quarantine()
            if q is None:
                return 0
            rows = q.drop("_violated", "_quarantined_ts_ms").localCheckpoint(
                eager=True
            )
            # re-validate exactly as merge() does: computed/provided
            # generated columns ride the same synthetic <=> checks —
            # without them a quarantined generated-column mismatch row
            # (a supported disposition) would pass this pre-check and
            # then blow up the inner merge's on_violation="fail" pass,
            # making replay unusable on generated-column tables
            checked, synthetic = self._apply_generated(rows)
            passing, _ = self._enforce_constraints(
                checked, "drop", extra=synthetic
            )
            passing = passing.localCheckpoint(eager=True)
            n = passing.count()
            if n == 0:
                return 0
            still_failing = self._enforce_constraints(
                checked, "quarantine", extra=synthetic
            )[1]
            if still_failing is not None:
                still_failing = still_failing.localCheckpoint(eager=True)
            self.merge(passing, _locked=True)
            # rewrite the quarantine to the residue (lineage was cut
            # above, so overwriting the dir the frames came from is
            # safe; the lock guarantees no concurrent merge appended)
            qdir = os.path.join(self.path, "_quarantine")
            shutil.rmtree(qdir, ignore_errors=True)
            if still_failing is not None and still_failing.count() > 0:
                still_failing.write.mode("overwrite").parquet(qdir)
            return n
        finally:
            self._release_commit_lock(lock)

    def read_quarantine(self) -> DataFrame | None:
        """Rows rejected by quarantine-mode merges, with the violated
        constraint names (``_violated``) and rejection timestamp —
        the DLT expectation-quarantine surface (K7 at the sink edge)."""
        qdir = os.path.join(self.path, "_quarantine")
        if not os.path.isdir(qdir) or not os.listdir(qdir):
            return None
        return self.spark.read.parquet(qdir)

    # -- reads ----------------------------------------------------------

    def deltas(self, generation: str | None = None) -> dict[str, list[str]]:
        """Per-bucket merge-on-read delta dirs, in commit order
        (``{bucket: [rel, ...]}``; empty for pure copy-on-write
        state).  A bucket with deltas reconciles at read time via the
        documented total order; ``compact()`` (or a copy-on-write
        merge touching the bucket) absorbs them."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("deltas", {})

    def dvs(self, generation: str | None = None) -> dict[str, list[str]]:
        """Per-bucket deletion-vector sidecar dirs (Delta deletion
        vectors / Iceberg position deletes): ``{bucket: [rel, ...]}``
        where each rel holds parquet rows ``(_dv_file, _dv_pos)``
        marking stored row POSITIONS whose read-time image is the
        version+1 TOMBSTONE of the row at that position — bit-identical
        to the copy-on-write DELETE rewrite, at O(deleted rows) write
        IO and zero data files touched.  Unlike merge-on-read deltas
        the read path needs no reconciliation shuffle: the overlay is
        a broadcast join on (file, position).  ``compact()`` (or a
        copy-on-write merge touching the bucket) absorbs them."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("dvs", {})

    def _all_rels(self, generation: str) -> list[str]:
        """Every data dir the generation references: bucket bases plus
        merge-on-read deltas plus deletion-vector sidecars (the
        reference set vacuum/clone must honor)."""
        buckets, deltas, dvs = commitlog.refs(self.path, generation)
        rels = list(buckets.values())
        for ds in [*deltas.values(), *dvs.values()]:
            rels.extend(ds)
        return rels

    def _reconcile_frames(self, frames) -> DataFrame:
        """Fold base + delta layers into current state with EXACTLY the
        merge_into total order: highest ``(version_, tombstone-prec)``
        wins; at a full tie the EARLIEST commit wins (base beats delta
        1 beats delta 2 — the multi-layer generalization of
        merge_into's stored-side precedence, so merge-on-read and
        copy-on-write converge bit-identically).  ``frames`` is a list
        of ``(df, commit_seq)``."""
        unioned = None
        for df, seq in frames:
            t = df.withColumn("_seq", F.lit(seq))
            unioned = t if unioned is None else unioned.unionByName(t)
        cols = [c for c in unioned.columns if c != "_seq"]
        order = ["version_"]
        if "deleted" in unioned.columns:
            unioned = unioned.withColumn(
                "_del_prec", F.coalesce(F.col("deleted").cast("int"), F.lit(0))
            )
            order.append("_del_prec")
        unioned = unioned.withColumn("_neg_seq", -F.col("_seq"))
        order.append("_neg_seq")
        out = latest_state(unioned, "_id", order)
        return out.select(*cols)

    def _bucket_state(
        self, generation: str, bucket_ids=None, kept=None
    ) -> DataFrame | None:
        """Current-state rows of the selected buckets (default: all),
        with merge-on-read deltas reconciled and deletion vectors
        overlaid — the one row reader every read goes through.
        Copy-on-write buckets read straight through (no extra shuffle);
        DV-only buckets add one broadcast overlay join (still no
        shuffle — each key is stored once in a COW bucket, so the
        overlaid row IS final); only delta'd buckets pay the
        reconciliation reduce.  ``kept`` (``prune_plan``'s kept paths)
        selects the buckets instead: a copy-on-write bucket then reads
        only its kept files, a reconciling bucket is read whole."""
        manifest = self.manifest(generation)
        deltas = self.deltas(generation)
        dvs = self.dvs(generation)
        cmap = self.colmap(generation)
        schema = self._physical_schema(self.table_schema(generation), cmap)
        files = {}  # bucket id -> kept paths (every rel is gen/_bucket=K[/file])
        for p in kept or ():
            files.setdefault(p.split("/")[1].split("=", 1)[1], []).append(p)
        if kept is not None:
            ids = sorted(files)
        elif bucket_ids is None:
            ids = sorted(set(manifest) | set(deltas))
        else:
            ids = [str(b) for b in bucket_ids]
        cow = [
            p
            for b in ids
            if b in manifest and b not in deltas and b not in dvs
            for p in files.get(b, [manifest[b]])
        ]
        dv_only = [
            b for b in ids if b in dvs and b not in deltas and b in manifest
        ]
        mor = [b for b in ids if b in deltas]
        parts = []
        if cow:
            parts.append(self._read_buckets(cow, schema=schema))
        if dv_only:
            parts.append(
                self._apply_dv(
                    self._read_buckets(
                        [manifest[b] for b in dv_only],
                        schema=schema,
                        with_pos=True,
                    ),
                    [r for b in dv_only for r in dvs[b]],
                )
            )
        if mor:
            # overlay BEFORE the reconciliation reduce: a DV-marked row
            # competes as its tombstone image, exactly as if the cow
            # delete had rewritten it into that layer
            mor_dv = [r for b in mor if b in dvs for r in dvs[b]]

            def _rd(rels):
                df = self._read_buckets(
                    rels, schema=schema, with_pos=bool(mor_dv)
                )
                return self._apply_dv(df, mor_dv) if mor_dv else df

            frames = []
            base = [manifest[b] for b in mor if b in manifest]
            if base:
                frames.append((_rd(base), 0))
            depth = max(len(deltas[b]) for b in mor)
            for i in range(depth):
                layer = [deltas[b][i] for b in mor if len(deltas[b]) > i]
                if layer:
                    frames.append((_rd(layer), i + 1))
            parts.append(self._reconcile_frames(frames))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._to_logical(out, cmap)

    def read(self, generation: str | None = None) -> DataFrame | None:
        gen = generation or self.current_generation()
        if gen is None:
            return None
        return self._bucket_state(gen)

    def read_as_of(self, ts_ms: int) -> DataFrame | None:
        """Timestamp time travel (``AS OF TIMESTAMP``): read the newest
        generation committed at or before ``ts_ms``.  Returns None if
        nothing was committed that early."""
        for e in self.history():  # newest first
            if e["ts_ms"] <= ts_ms:
                return self.read(generation=e["generation"])
        return None

    def restore(self, generation: str) -> str:
        """RESTORE analog: make ``generation`` the current state again
        by committing a NEW generation whose manifest mirrors it (data
        is referenced, not copied — O(metadata)).  History stays
        monotonic, so the undone merges remain inspectable and
        reference-aware vacuum keeps every file the restored state
        needs.  The target's manifest is the commit's base, so its
        layout (bucket count, schema, column mapping) comes back with
        its data."""
        target = self._manifest_raw(generation)  # raises if unknown
        return self._commit(
            "RESTORE",
            lambda *_: {"commit": {"restored": generation}},
            base=target,
        )

    def table_schema(self, generation: str | None = None):
        """The generation's committed table schema (StructType), or
        None for an empty table."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(commitlog.schema(self.path, gen))

    # -- column mapping (Delta columnMapping.mode=name parity) ----------
    #
    # A generation's manifest may carry ``colmap`` (logical column name
    # -> physical parquet column name) plus ``retired`` (physical names
    # no longer mapped, from DROP COLUMN).  Physical names are IMMUTABLE
    # once assigned, so RENAME/DROP COLUMN are metadata-only commits —
    # no data file ever rewrites — and a re-added logical name binds a
    # FRESH physical column, so dropped values never resurface.  Tables
    # that never rename/drop have no ``colmap`` (identity world, zero
    # overhead).  The committed ``schema`` is always LOGICAL; reads
    # derive the physical schema, read files under it, and alias back.

    _PROTECTED_COLS = ("_id", "version_", "deleted")

    def colmap(self, generation: str | None = None) -> dict[str, str] | None:
        """logical -> physical column map of the generation, or None for
        identity (no rename/drop ever committed)."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        return self._manifest_raw(gen).get("colmap")

    def _physical_schema(self, logical_schema, cmap):
        if not cmap or logical_schema is None:
            return logical_schema
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [
                StructField(cmap.get(f.name, f.name), f.dataType, f.nullable)
                for f in logical_schema.fields
            ]
        )

    @staticmethod
    def _rename_cols(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        for a, b in mapping.items():
            if a != b and a in df.columns:
                df = df.withColumnRenamed(a, b)
        return df

    def _to_logical(self, df: DataFrame, cmap) -> DataFrame:
        return self._rename_cols(df, {p: l for l, p in cmap.items()}) if cmap else df

    def _to_physical(self, df: DataFrame, cmap) -> DataFrame:
        return self._rename_cols(df, dict(cmap)) if cmap else df

    def _evolve_colmap(self, prev_raw: dict, merged_cols) -> tuple[dict | None, list]:
        """Extend the previous generation's colmap with identity-free
        physical names for columns schema evolution just added.  A
        fresh physical name never collides with a live OR retired one,
        so a re-added logical column cannot read dropped data."""
        prev_cmap = prev_raw.get("colmap")
        retired = list(prev_raw.get("retired", []))
        if prev_cmap is None:
            return None, retired
        cmap = dict(prev_cmap)
        used = set(cmap.values()) | set(retired) | set(self._PROTECTED_COLS)
        for c in merged_cols:
            if c in self._PROTECTED_COLS or c == "_bucket" or c in cmap:
                continue
            p, i = c, 2
            while p in used:
                p = f"{c}__{i}"
                i += 1
            cmap[c] = p
            used.add(p)
        return cmap, retired

    def _check_refs_column(self, col: str) -> list[str]:
        import re

        pat = re.compile(rf"\b{re.escape(col)}\b")
        return [n for n, expr in self.constraints().items() if pat.search(expr)]

    def _generated_refs_column(self, col: str) -> list[str]:
        """Generated columns that ARE ``col`` or whose expression
        mentions it.  Rename/drop must refuse both: a renamed/dropped
        generated column leaves a stale _GENERATED entry that the next
        merge silently re-adds under the old logical name (fresh
        physical name, recomputed values — silent divergence), and a
        renamed expression input breaks every subsequent merge with
        AnalysisException."""
        import re

        pat = re.compile(rf"\b{re.escape(col)}\b")
        return [
            c
            for c, expr in self.generated_columns().items()
            if c == col or pat.search(expr)
        ]

    def _alter_schema_commit(self, mutate, op: str, **commit_extra) -> str:
        """Shared metadata-only ALTER TABLE commit: ``mutate(fields,
        cmap, retired)`` edits the logical field list + mapping in
        place; data/stats/bloom refs carry verbatim."""
        from pyspark.sql.types import StructType

        def build(parent, raw, gen, out):
            if parent is None:
                raise ValueError("cannot alter the schema of an empty table")
            schema = self.table_schema(parent)
            cmap = raw.get("colmap")
            if cmap is None:
                # upgrade to mapping mode: identity for current columns
                cmap = {
                    f.name: f.name
                    for f in schema.fields
                    if f.name not in self._PROTECTED_COLS
                }
            else:
                cmap = dict(cmap)
            retired = list(raw.get("retired", []))
            fields = list(schema.fields)
            mutate(fields, cmap, retired)
            return {
                "schema": json.dumps(StructType(fields).jsonValue()),
                "colmap": cmap,
                "retired": retired,
                "commit": commit_extra,
            }

        return self._commit(op, build)

    def rename_column(self, old: str, new: str) -> str:
        """ALTER TABLE RENAME COLUMN — metadata-only (no data rewrite):
        the logical name changes, the physical parquet name stays.
        Older generations keep reading under their own names (time
        travel is name-faithful).  Refused for protected columns,
        columns referenced by a CHECK constraint, and generated
        columns (or their expression inputs)."""
        if old in self._PROTECTED_COLS or new in self._PROTECTED_COLS:
            raise ValueError(f"cannot rename protected column {old!r}/{new!r}")
        refs = self._check_refs_column(old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraints {refs}; "
                "drop them first"
            )
        grefs = self._generated_refs_column(old)
        if grefs:
            raise ValueError(
                f"column {old!r} is a generated column or referenced by "
                f"generated columns {grefs}; drop_generated_column first"
            )

        def mutate(fields, cmap, retired):
            names = [f.name for f in fields]
            if old not in names:
                raise ValueError(f"no such column {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            for i, f in enumerate(fields):
                if f.name == old:
                    from pyspark.sql.types import StructField

                    fields[i] = StructField(new, f.dataType, f.nullable)
            cmap[new] = cmap.pop(old)

        return self._alter_schema_commit(
            mutate, "RENAME COLUMN", old=old, new=new
        )

    def drop_column(self, col: str) -> str:
        """ALTER TABLE DROP COLUMN — metadata-only: the physical column
        is retired, never read again, and never reused for a future
        column of the same logical name.  Refused for protected
        columns, columns referenced by a CHECK constraint, and
        generated columns (or their expression inputs)."""
        if col in self._PROTECTED_COLS:
            raise ValueError(f"cannot drop protected column {col!r}")
        refs = self._check_refs_column(col)
        if refs:
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraints {refs}; "
                "drop them first"
            )
        grefs = self._generated_refs_column(col)
        if grefs:
            raise ValueError(
                f"column {col!r} is a generated column or referenced by "
                f"generated columns {grefs}; drop_generated_column first"
            )

        def mutate(fields, cmap, retired):
            names = [f.name for f in fields]
            if col not in names:
                raise ValueError(f"no such column {col!r}")
            fields[:] = [f for f in fields if f.name != col]
            phys = cmap.pop(col)
            retired.append(phys)
            # stop bloom-indexing the retired physical column: future
            # files won't carry it, so harvesting it would fail
            cfg = self.bloom_indexes()
            if phys in cfg:
                self.drop_bloom_index(col=None, _physical=phys)

        return self._alter_schema_commit(mutate, "DROP COLUMN", column=col)

    def _read_buckets(
        self, rel_paths, schema, with_pos: bool = False
    ) -> DataFrame:
        """The data files at ``rel_paths`` under the committed PHYSICAL
        ``schema``, which is authoritative: files written before a
        column evolved read it back as null, with no footer-merge job."""
        paths = [os.path.join(self.path, p) for p in rel_paths]
        df = self.spark.read.schema(schema).parquet(*paths)
        if with_pos:
            # deletion-vector key: the last three path components
            # (generation/_bucket=K/file.parquet) — stable under table
            # relocation (clone) and URI-scheme differences, unlike the
            # absolute _metadata.file_path it derives from
            df = df.select(
                "*",
                F.regexp_extract(
                    F.col("_metadata.file_path"),
                    r"([^/]+/[^/]+/[^/]+)$",
                    1,
                ).alias("_dv_file"),
                F.col("_metadata.row_index").alias("_dv_pos"),
            )
        return df

    def _dv_frame(self, dv_rels) -> DataFrame:
        """The (file, position) marks of the given sidecar dirs.  No
        dedup needed (a distinct() here would shuffle): a position can
        never be marked twice, because once marked its row overlays to
        a tombstone, so its (id, version) can never again join a LIVE
        state row in ``_delete_where_dv`` — if the key revives it is
        at a strictly higher version living in a different row."""
        paths = [os.path.join(self.path, r) for r in sorted(set(dv_rels))]
        return self.spark.read.parquet(*paths).select("_dv_file", "_dv_pos")

    def _apply_dv(self, df: DataFrame, dv_rels) -> DataFrame:
        """Overlay deletion vectors on a pos-aware frame: a marked
        position reads back as the version+1 tombstone of the stored
        row — bit-identical to the image the copy-on-write DELETE
        would have written.  A broadcast join, NOT a shuffle: DV
        cardinality is the not-yet-compacted delete count, which the
        auto-OPTIMIZE policy keeps bounded (mass deletes belong in
        cow/mor mode, where they rewrite or delta the buckets).
        ``_id``/``version_``/``deleted`` are protected from column
        mapping, so their physical names are the logical ones here."""
        marks = self._dv_frame(dv_rels).withColumn("_dv_hit", F.lit(True))
        out = df.join(F.broadcast(marks), ["_dv_file", "_dv_pos"], "left")
        out = out.withColumn(
            "deleted",
            F.when(F.col("_dv_hit"), F.lit(True)).otherwise(F.col("deleted")),
        ).withColumn(
            "version_",
            F.when(F.col("_dv_hit"), F.col("version_") + F.lit(1)).otherwise(
                F.col("version_")
            ),
        )
        return out.drop("_dv_hit", "_dv_file", "_dv_pos")

    def read_key_bucket(self, _id: str, generation: str | None = None) -> DataFrame | None:
        """Point-lookup fast path: read ONLY the bucket that can contain
        ``_id`` — at 100 TB this is one file group, not a table scan."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        nb = self._manifest_raw(gen).get("n_buckets")
        if nb:
            self.n_buckets = nb  # honor a re-bucketed layout
        bucket = (
            self.spark.range(1)
            .select(self._bucket_col_for(F.lit(_id)).alias("b"))
            .first()
            .b
        )
        if str(bucket) not in self.manifest(gen) and str(bucket) not in self.deltas(gen):
            return None
        state = self._bucket_state(gen, [bucket])
        if state is None:
            return None
        return state.filter(F.col("_id") == _id)

    def _bucket_col_for(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    # -- DML (Delta DELETE / UPDATE analogs) -----------------------------
    #
    # Both compile to the versioned MERGE: matching LIVE rows re-enter
    # the table one version higher (as tombstones for DELETE, rewritten
    # for UPDATE), so DML composes with the K1/K2 contract — history
    # stays time-travelable, idempotent replay of the SAME generated
    # batch is a no-op, and a concurrent source row at a yet-higher
    # version still wins (last-version-wins, the documented merge
    # order).  The scan side rides ``read_where``: stats pruning means
    # a selective DELETE reads the few files its predicate can match,
    # and the merge rewrites only the touched buckets.

    def delete_where(self, filters, write_mode: str = "cow") -> int:
        """DELETE FROM ... WHERE (conjunctive ``(col, op, value)``
        filters): tombstone every live matching key at version+1.
        Returns the number of deleted keys.  ``write_mode="mor"``
        lands the tombstones as delta layers (O(deleted keys) write IO)
        instead of rewriting the touched buckets; ``write_mode="dv"``
        goes one step further and records only the (file, row position)
        of each matching stored row — true Delta deletion vectors: no
        data file is written at all, and reads stay shuffle-free."""
        if write_mode == "dv":
            return self._delete_where_dv(filters)
        matching = self.read_where(filters)
        if matching is None:
            return 0
        tomb = (
            matching.filter(~F.col("deleted"))
            .withColumn("version_", F.col("version_") + 1)
            .withColumn("deleted", F.lit(True))
            .localCheckpoint(eager=True)
        )
        n = tomb.count()
        if n:
            self.merge(tomb, write_mode=write_mode)
        return n

    def _delete_where_dv(self, filters) -> int:
        """DELETE as a deletion vector: a metadata-only commit whose
        sidecar parquet lists the (file, row position) of every
        matching live row's winning stored copy.  The read-time
        overlay (``_apply_dv``) images those positions as version+1
        tombstones — bit-identical to what the copy-on-write path
        would have rewritten (pinned by the cow/dv equivalence
        property test).

        Runs pessimistically under the commit lock: the recorded
        positions reference the EXACT files of the read snapshot, so
        losing a race to a writer that rewrites them would silently
        drop the delete — there is no sound rebase for positions.
        DELETEs are rare relative to merges; holding the lock across
        the (small) marking job is the Delta DV trade-off too."""
        deleted = 0

        def build(parent, raw, gen, out):
            nonlocal deleted
            if parent is None:
                return None
            matching = self.read_where(filters, parent)
            if matching is None:
                return None
            live = (
                matching.filter(~F.col("deleted"))
                .select("_id", "version_")
                .localCheckpoint(eager=True)
            )
            n = live.count()
            if n == 0:
                return None
            phys_schema = self._physical_schema(
                self.table_schema(parent), self.colmap(parent)
            )
            # winning stored copies: re-read the files the predicate
            # kept, pos-aware, and match on (_id, version_).  A live
            # key's (id, version) rows are all live copies (a same-
            # version tombstone would have won the tie and the key
            # would not be live), so marking every copy is sound — a
            # duplicated delivery's copies overlay to identical images.
            kept, _ = self.prune_plan(filters, parent)
            marks = (
                self._read_buckets(kept, schema=phys_schema, with_pos=True)
                .join(F.broadcast(live), ["_id", "version_"], "inner")
                .select("_dv_file", "_dv_pos")
                .localCheckpoint(eager=True)
            )
            touched = sorted(
                r.b
                for r in marks.select(
                    F.regexp_extract(
                        F.col("_dv_file"), r"_bucket=([^/]+)/", 1
                    ).alias("b")
                )
                .distinct()
                .collect()
            )
            rel = os.path.join(gen, "_dv")
            marks.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.path, rel)
            )
            dvs = {b: list(rs) for b, rs in raw.get("dvs", {}).items()}
            for b in touched:
                dvs.setdefault(b, []).append(rel)
            deleted = n
            return {
                "dvs": dvs,
                "commit": {
                    "mode": "dv",
                    "deleted_keys": n,
                    "touched_buckets": len(touched),
                },
            }

        lock = self._acquire_commit_lock(timeout=300.0)
        try:
            self._commit("DELETE", build, locked=True)
        finally:
            self._release_commit_lock(lock)
        return deleted

    def update_where(
        self, filters, assignments: dict[str, str], write_mode: str = "cow"
    ) -> int:
        """UPDATE ... SET ... WHERE: rewrite every live matching row
        with ``assignments`` (column -> SQL expression over the row)
        applied, at version+1.  Standard SQL UPDATE semantics: every
        right-hand side sees the OLD row, regardless of assignment
        order.  Generated columns not explicitly assigned recompute
        from the updated row (Delta UPDATE behavior).  Returns the
        number of updated keys.  ``write_mode="mor"`` appends the
        rewritten rows as delta layers instead of rewriting the
        touched buckets."""
        matching = self.read_where(filters)
        if matching is None:
            return 0
        upd = matching.filter(~F.col("deleted"))
        for col in assignments:
            if col in ("_id", "version_", "deleted"):
                raise ValueError(f"cannot assign protected column {col!r}")
        unknown = sorted(set(assignments) - set(upd.columns))
        if unknown:
            # Delta UPDATE refuses unknown columns; silently dropping a
            # typo'd assignment would report n updated keys with no
            # visible effect
            raise ValueError(f"UPDATE assigns unknown columns {unknown}")
        upd = upd.select(
            *[
                F.expr(assignments[c]).alias(c) if c in assignments else F.col(c)
                for c in upd.columns
            ]
        )
        for col, expr in self.generated_columns().items():
            if col not in assignments:
                upd = upd.withColumn(col, F.expr(expr))
        upd = upd.withColumn(
            "version_", F.col("version_") + 1
        ).localCheckpoint(eager=True)
        n = upd.count()
        if n:
            self.merge(upd, write_mode=write_mode)
        return n

    def _commit_ts_ms(self, generation: str) -> int:
        """Commit wall time: the manifest's recorded ts_ms, falling
        back to the millisecond stamp in the generation name."""
        try:
            ts = self._manifest_raw(generation).get("commit", {}).get("ts_ms")
            if ts is not None:
                return int(ts)
        except FileNotFoundError:
            pass
        try:
            return int(generation.split("-")[1])
        except (IndexError, ValueError):
            return 0

    def partitions(self, generation: str | None = None) -> DataFrame | None:
        """Per-bucket rollup of ``files()`` (the Iceberg ``partitions``
        metadata table): file/layer counts, bytes, and stats-known rows
        per bucket — the skew/fragmentation inspection surface."""
        df = self.files(generation)
        if df is None:
            return None
        return (
            df.groupBy("bucket")
            .agg(
                F.count("*").alias("n_files"),
                F.sum(
                    F.when(F.col("layer") == "delta", 1).otherwise(0)
                ).cast("long").alias("n_delta_files"),
                F.sum(
                    F.when(F.col("layer") == "dv", 1).otherwise(0)
                ).cast("long").alias("n_dv_files"),
                F.sum("size_bytes").alias("total_bytes"),
                F.sum("n_rows").alias("stats_rows"),
            )
            .orderBy("bucket")
        )

    def files(self, generation: str | None = None) -> DataFrame | None:
        """Metadata table of every file the generation references
        (Iceberg ``files`` / Delta DESCRIBE DETAIL inspection surface):
        ``(generation, bucket, layer, path, size_bytes, n_rows)`` where
        layer is base/delta/dv (``_file_entries``).  File count stays
        bounded by buckets x referenced generations, which
        ``maybe_optimize`` keeps small on continuous streams."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        return self.spark.createDataFrame(
            self._file_entries(gen),
            "generation string, bucket string, layer string, "
            "path string, size_bytes long, n_rows long",
        )

    def _file_entries(self, gen: str) -> list[tuple]:
        """``files()``'s rows, built from the manifest and directory
        listings — O(#files) metadata, no data file opened, no Spark
        job; n_rows comes from the committed footer stats when present
        (base files of stats-bearing commits), else None."""
        raw = self._manifest_raw(gen)
        fstats = raw.get("fstats", {})
        entries = []

        def _list(rel: str, bucket: str, layer: str):
            if not os.path.isdir(os.path.join(self.path, rel)):
                return
            per_file = fstats.get(bucket, {}) if layer == "base" else {}
            for fn, size in commitlog.dir_files(self.path, rel):
                st = per_file.get(fn)
                rows = (
                    max((c.get("n_rows", 0) for c in st.values()), default=None)
                    if st
                    else None
                )
                entries.append(
                    (
                        gen,
                        bucket,
                        layer,
                        os.path.join(rel, fn),
                        size,
                        rows,
                    )
                )

        for b, rel in sorted(raw.get("buckets", {}).items()):
            _list(rel, b, "base")
        for b, rels in sorted(raw.get("deltas", {}).items()):
            for rel in rels:
                _list(rel, b, "delta")
        seen = set()
        for b, rels in sorted(raw.get("dvs", {}).items()):
            for rel in rels:
                if rel not in seen:  # one sidecar can mark many buckets
                    seen.add(rel)
                    _list(rel, b, "dv")
        return entries

    def count_rows(self, generation: str | None = None) -> int | None:
        """O(metadata) state row count (Delta numRecords / Iceberg
        snapshot-summary parity): pure copy-on-write buckets answer
        from the committed footer stats — no file opened, no Spark job
        (deletion vectors never change the row count; the overlay
        flips flags on existing rows).  Merge-on-read buckets
        reconcile at read time, so only THOSE pay a real counting
        read.  Returns None on an empty table."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        manifest = self.manifest(gen)
        deltas = self.deltas(gen)
        stats = self.bucket_stats(gen)
        total = 0
        need_scan = [b for b in deltas if b not in manifest]
        for b in manifest:
            ent = stats.get(b)
            if b in deltas or not ent:
                need_scan.append(b)
                continue
            # every file carries _id, so the max per-column n_rows is
            # the bucket's row count even across schema evolution
            total += max((c.get("n_rows", 0) for c in ent.values()), default=0)
        if need_scan:
            df = self._bucket_state(gen, sorted(set(need_scan)))
            if df is not None:
                total += df.count()
        return total

    def referenced_generations(self, generation: str | None = None) -> set[str]:
        """Generation dirs the given (default current) manifest pulls
        data from — the fragmentation measure incremental merges grow
        and OPTIMIZE resets to 1."""
        gen = generation or self.current_generation()
        if gen is None:
            return set()
        return {rel.split(os.sep, 1)[0] for rel in self._all_rels(gen)}

    def maybe_optimize(
        self, max_refs: int, vacuum_keep: int = 3
    ) -> str | None:
        """Auto-OPTIMIZE policy (Delta auto-compaction analog): when
        the current manifest references more than ``max_refs``
        generations, compact into one self-contained generation and
        reference-aware-vacuum the garbage.  A long-running streaming
        writer calls this per batch to keep read fan-in and disk
        growth bounded; a no-op otherwise.  Returns the compacted
        generation name, or None if below threshold."""
        if len(self.referenced_generations()) <= max_refs:
            return None
        gen = self.compact()
        self.vacuum(keep=vacuum_keep)
        return gen

    # -- vacuum ---------------------------------------------------------

    def vacuum(
        self,
        keep: int = 3,
        dry_run: bool = False,
        retention_ms: int | None = None,
    ) -> list[str]:
        """Drop old generations, but NEVER data still referenced by a
        retained generation: the retained set is (newest ``keep``
        generations + current + every generation committed within
        ``retention_ms``, when given — the ``VACUUM ... RETAIN``
        time-based guard; time only EXTENDS protection, it never
        shrinks the keep-count set), closed transitively over manifest
        references, so every retained generation remains readable.
        ``dry_run=True`` (VACUUM DRY RUN) only reports what would be
        removed.  Returns removed (or removable) generation names."""
        current = self.current_generation()
        # every claimed dir, committed or not: an in-flight attempt's
        # claim and the data dir a rebased merge references carry no
        # manifest of their own
        gens = sorted(d for d in os.listdir(self.path) if d.startswith("gen-"))
        kept = set(gens[-keep:]) if keep else set()
        if current:
            kept.add(current)
        if retention_ms is not None:
            cutoff = int(time.time() * 1000) - retention_ms
            for g in gens:
                if self._commit_ts_ms(g) >= cutoff:
                    kept.add(g)
        # transitive closure over flattened manifest references
        work = list(kept)
        while work:
            g = work.pop()
            try:
                rels = self._all_rels(g)
            except FileNotFoundError:
                continue  # a manifest-less dir references nothing
            for rel in rels:
                ref_gen = rel.split(os.sep, 1)[0]
                if ref_gen not in kept:
                    kept.add(ref_gen)
                    work.append(ref_gen)
        removable = [g for g in gens if g not in kept]
        if dry_run:
            return removable
        for g in removable:
            shutil.rmtree(os.path.join(self.path, g))
        return removable

    # -- compaction (OPTIMIZE analog) -----------------------------------

    def clone(self, dest_path: str) -> "SilverTable":
        """Zero-copy snapshot export (the SHALLOW CLONE analog): the
        current generation's manifest is copied to a fresh table root
        and every referenced data file is HARDLINKED (byte-copy only
        when linking fails, e.g. across filesystems).  The clone is a
        fully independent table — source merges/vacuum/compact never
        disturb it, because vacuum unlinks the source's names while the
        clone's links keep the inodes alive.  Cost is O(#files)
        metadata, not O(data) — the cheap dev/test/backup fork of a
        100 TB table."""
        gen = self.current_generation()
        if gen is None:
            raise ValueError("cannot clone an empty silver table")
        all_rels = self._all_rels(gen)
        os.makedirs(os.path.join(dest_path, gen), exist_ok=True)
        for rel in set(all_rels):
            src_dir = os.path.join(self.path, rel)
            dst_dir = os.path.join(dest_path, rel)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in os.listdir(src_dir):
                s = os.path.join(src_dir, fn)
                d = os.path.join(dst_dir, fn)
                if os.path.isfile(s) and not os.path.exists(d):
                    try:
                        os.link(s, d)
                    except OSError:  # cross-device: fall back to copy
                        shutil.copy2(s, d)
        # every committed generation the clone materializes carries its
        # own manifest, or time travel/vacuum on the clone would hit
        # manifest-less dirs: the current one by the manifest rule over
        # the source's, referenced older ones copied verbatim
        commitlog.stage(
            os.path.join(dest_path, gen),
            commitlog.derive(
                self._manifest_raw(gen),
                {"commit": {"source": self.path}},
                "CLONE",
            ),
        )
        commitlog.publish(dest_path, gen)
        for rel in set(all_rels):
            ref_gen = rel.split(os.sep, 1)[0]
            dst_mf = os.path.join(dest_path, ref_gen, commitlog.MANIFEST)
            src_mf = os.path.join(self.path, ref_gen, commitlog.MANIFEST)
            if not os.path.exists(dst_mf) and os.path.exists(src_mf):
                shutil.copy2(src_mf, dst_mf)
        # table-level declarative config travels with the clone:
        # CHECK constraints, generated columns, bloom index config
        # (Delta shallow clones carry table properties the same way)
        for cfg in ("_CONSTRAINTS", "_GENERATED", "bloom.json"):
            s = os.path.join(self.path, cfg)
            if os.path.exists(s):
                shutil.copy2(s, os.path.join(dest_path, cfg))
        commitlog.set_current(dest_path, gen)
        return SilverTable(self.spark, dest_path, n_buckets=self.n_buckets)

    def compact(
        self,
        max_records_per_file: int | None = None,
        cluster_by: list[str] | None = None,
        n_buckets: int | None = None,
    ) -> str | None:
        """Rewrite the current state into one fully self-contained
        generation (every bucket materialized locally, no cross-
        generation references).  The Delta OPTIMIZE analog: after many
        incremental merges the current manifest references many old
        generations, which reference-aware vacuum must then retain;
        compacting makes them garbage so ``vacuum`` can reclaim them.
        ``max_records_per_file`` bounds output file size (the OPTIMIZE
        target-file-size knob): Spark rolls to a new file within the
        task once the cap is hit, so buckets split into uniformly
        sized files instead of one giant file per bucket.

        ``cluster_by`` is the OPTIMIZE ZORDER analog: rows sort within
        each bucket by the given columns before writing, so the files
        a bucket splits into hold DISJOINT value ranges — per-file
        footer stats then make ``read_where`` open only the files a
        range predicate can match.  Pass column names, or Column
        expressions (e.g. ``operators/zorder.py::zorder_key`` for a
        true two-dimensional Morton clustering).
        Returns the new generation name (None on an empty table).

        ``n_buckets`` re-buckets the table (the partition-evolution
        analog): the rewrite is total anyway, so changing the hash
        fan-out is free here — and the only place it is allowed, since
        incremental merges must agree with the persisted count.  Every
        handle adopts the persisted count before its next merge.

        Commits through the same optimistic CAS as ``merge``: a
        compaction racing a merge retries against the merged state
        instead of silently discarding the merge (Delta's OPTIMIZE
        conflict behavior)."""
        if n_buckets is not None and n_buckets <= 0:
            raise ValueError("n_buckets must be positive")

        def build(parent, raw, gen, out):
            if parent is None:
                return None
            self.n_buckets = n_buckets or raw.get("n_buckets") or self.n_buckets
            cmap = raw.get("colmap")
            state = self.read(parent).withColumn("_bucket", self._bucket_col())
            clustered = state.repartition(self.n_buckets, "_bucket")
            if cluster_by:
                clustered = clustered.sortWithinPartitions("_bucket", *cluster_by)
            # files store physical names (column mapping); the rename
            # is a projection, so the cluster order holds
            writer = self._to_physical(clustered, cmap).write
            if max_records_per_file is not None:
                writer = writer.option("maxRecordsPerFile", max_records_per_file)
            writer.partitionBy("_bucket").mode("overwrite").parquet(out)
            buckets = {
                d.split("=", 1)[1]: os.path.join(gen, d)
                for d in os.listdir(out)
                if d.startswith("_bucket=")
            }
            bstats, fstats = self._harvest_stats(out)
            return {
                "buckets": buckets,
                "deltas": {},
                "dvs": {},
                "n_buckets": self.n_buckets,
                "schema": self._schema_json(state),
                "stats": bstats,
                "fstats": fstats,
                "blooms": self._harvest_blooms(list(buckets.values())),
                "commit": {
                    "touched_buckets": len(buckets),
                    "n_buckets": self.n_buckets,
                },
            }

        return self._commit("OPTIMIZE", build)

    @staticmethod
    def _schema_json(df: DataFrame) -> str:
        """The table schema committed with a generation's manifest —
        ``_bucket`` is the physical partition key, not a table column."""
        from pyspark.sql.types import StructType

        fields = [f for f in df.schema.fields if f.name != "_bucket"]
        return json.dumps(StructType(fields).jsonValue())

    def _manifest_raw(self, generation: str) -> dict:
        return commitlog.manifest(self.path, generation)

    @staticmethod
    def _align_schemas(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Merge-time schema evolution (Delta semantics): each
        side's missing columns are added as typed nulls so stored state
        and an evolved batch union under one merged schema — a batch
        may ADD columns (old rows read them as null) or OMIT columns
        (an old writer; its rows get nulls).  A column whose types
        differ across the sides WIDENS when the change is lossless
        (Delta type widening: up the integer chain, float→double,
        sub-long integers→double); the committed schema adopts the
        wider type while already-written narrow files stay put —
        Spark 4's parquet readers apply the promotion at scan time
        (probed: INT32 pages read fine under a bigint/double read
        schema), so no rewrite is ever needed.  Lossy or unrelated
        changes (long→int, string→int, ...) raise, as in Delta."""
        at, bt = dict(a.dtypes), dict(b.dtypes)
        wide: dict[str, str] = {}
        for c in at.keys() & bt.keys():
            if at[c] == bt[c]:
                continue
            w = SilverTable._widened_type(at[c], bt[c])
            if w is None:
                raise ValueError(
                    f"column {c!r}: cannot merge type {bt[c]} into "
                    f"{at[c]} — only lossless widenings are supported "
                    "(tinyint<smallint<int<bigint, float<double, "
                    "sub-long integers<double)"
                )
            wide[c] = w

        # ONE select per side instead of a withColumn per column: each
        # withColumn is a full Catalyst re-analysis of the (often deep)
        # merge lineage, and this runs on every COW merge against
        # stored state — O(cols) analyses -> O(1) (driver latency per
        # commit, guide §5).  Same output exactly: widened casts keep
        # their position, the other side's missing columns append as
        # typed nulls in that side's column order.
        def _project(df, own, other):
            cols, changed = [], False
            for c, t in own.items():
                w = wide.get(c)
                if w is not None and t != w:
                    cols.append(F.col(c).cast(w).alias(c))
                    changed = True
                else:
                    cols.append(F.col(c))
            for c, t in other.items():
                if c not in own:
                    cols.append(F.lit(None).cast(t).alias(c))
                    changed = True
            return df.select(*cols) if changed else df

        return _project(a, at, bt), _project(b, bt, at)

    def _merged_schema_json(self, prev_schema, cur_schema) -> str:
        """The committed-schema computation — exactly what
        ``_align_schemas(createDataFrame([], prev_schema), merged)``'s
        second return would carry — done purely on StructTypes.  The
        DataFrame form cost a createDataFrame plus Catalyst analyses of
        the full merge lineage PER COMMIT, all to derive a schema
        (driver latency, guide §5).  A prev-only column gets the type
        ``lit(None).cast(simpleString)`` gives it: nullable at every
        level, metadata-free (``_nullable``)."""
        from pyspark.sql.types import (
            ArrayType,
            MapType,
            StructField,
            StructType,
        )

        _WIDENED = {
            "tinyint": "byte",
            "smallint": "short",
            "int": "integer",
            "bigint": "long",
            "float": "float",
            "double": "double",
        }
        import pyspark.sql.types as T

        def _nullable(dt):
            # what a cast to dt.simpleString() yields: the DDL parser
            # makes every element, value and field nullable
            if isinstance(dt, ArrayType):
                return ArrayType(_nullable(dt.elementType), True)
            if isinstance(dt, MapType):
                return MapType(
                    _nullable(dt.keyType), _nullable(dt.valueType), True
                )
            if isinstance(dt, StructType):
                return StructType(
                    [StructField(f.name, _nullable(f.dataType), True) for f in dt]
                )
            return dt

        prev = {f.name: f for f in prev_schema.fields}
        cur_names = {f.name for f in cur_schema.fields}
        fields = []
        for f in cur_schema.fields:
            if f.name == "_bucket":
                continue
            p = prev.get(f.name)
            tb = f.dataType.simpleString()
            if p is None or p.dataType.simpleString() == tb:
                fields.append(f)
                continue
            ta = p.dataType.simpleString()
            w = self._widened_type(ta, tb)
            if w is None:
                raise ValueError(
                    f"column {f.name!r}: cannot merge type {tb} into "
                    f"{ta} — only lossless widenings are supported "
                    "(tinyint<smallint<int<bigint, float<double, "
                    "sub-long integers<double)"
                )
            if tb == w:
                fields.append(f)
            else:
                # cast keeps the column's position, nullability and
                # (empty) alias metadata — widening casts never fail
                wt = getattr(T, _WIDENED[w].capitalize() + "Type")()
                fields.append(StructField(f.name, wt, f.nullable))
        for f in prev_schema.fields:
            if f.name in cur_names or f.name == "_bucket":
                continue
            fields.append(StructField(f.name, _nullable(f.dataType), True))
        return json.dumps(StructType(fields).jsonValue())

    _INT_CHAIN = ("tinyint", "smallint", "int", "bigint")

    @staticmethod
    def _widened_type(ta: str, tb: str) -> str | None:
        """The common lossless type of two Spark dtypes, or None.
        bigint→double is refused (doubles hold 53 mantissa bits)."""
        if ta == tb:
            return ta
        chain = SilverTable._INT_CHAIN
        if ta in chain and tb in chain:
            return chain[max(chain.index(ta), chain.index(tb))]
        floats = {"float", "double"}
        if ta in floats and tb in floats:
            return "double"
        small = set(chain[:3])
        if (ta in small and tb in floats) or (tb in small and ta in floats):
            return "double"
        return None

    # -- merge ----------------------------------------------------------

    def merge(
        self,
        batch: DataFrame,
        collect_metrics: bool = False,
        on_violation: str = "fail",
        write_mode: str = "cow",
        _locked: bool = False,
    ) -> MergeMetrics | None:
        """Versioned MERGE of a batch of silver-shaped rows (K1/K2).

        The batch may contain multiple versions per _id and duplicate
        rows — ``merge_into`` pre-reduces, exactly as K1 requires
        unique source keys (SURVEY §7.2).  Only buckets containing
        batch keys are read and rewritten.

        CONCURRENT writers are safe: the merge commits through
        ``_commit``.  A lost attempt whose buckets the winner left
        alone is spliced onto the winner's manifest (no second Spark
        job); otherwise it re-merges against the winner's state
        (versioned MERGE is commutative, so the retry converges), and
        the final attempt holds the commit lock for its whole span.

        CHECK constraints (``add_check``) are enforced on the batch
        once, before any commit attempt: ``on_violation`` is "fail"
        (raise ConstraintViolation — Delta CHECK behavior), "drop"
        (merge only passing rows), or "quarantine" (drop + append the
        violations and their violated-constraint names to the
        table-local quarantine, readable via ``read_quarantine``).

        ``write_mode`` picks the physical strategy (Hudi/Iceberg
        table-type parity):

        - ``"cow"`` (copy-on-write, default): read + rewrite the
          touched buckets — reads stay reconciliation-free.  A COW
          merge also ABSORBS any merge-on-read deltas its touched
          buckets carry.
        - ``"mor"`` (merge-on-read): never read stored state — the
          pre-reduced batch lands as a per-bucket DELTA layer and
          readers reconcile with the same total order.  Write IO is
          O(batch) instead of O(touched buckets): the
          high-frequency-small-batch streaming regime where COW write
          amplification dominates.  Reads of delta'd buckets pay one
          extra reduce until ``compact()`` (or a COW merge) absorbs
          the layers; ``maybe_optimize`` bounds the depth."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"unknown write_mode {write_mode!r}")
        batch, synthetic = self._apply_generated(batch)
        # Persist only when something reads the batch more than once:
        # a CHECK/generated-column validation pass, or a two-pass
        # attempt (merge metrics, or a COW merge against existing
        # state: touched-bucket pre-scan + rewrite) — one
        # materialization, so a nondeterministic lineage cannot diverge
        # between the passes.  A merge that never reads stored state
        # (MOR, or the first merge into an empty table) runs as ONE
        # pass: the batch streams straight into the bucket write and
        # the touched buckets fall out of the written dirs — at scale
        # one corpus pass instead of two (and no cache of the batch).
        cache: list[DataFrame] = []
        if synthetic or self.constraints():
            batch = batch.persist()
            cache.append(batch)
        metrics = None
        try:
            batch, quarantined = self._enforce_constraints(
                batch, on_violation, extra=synthetic
            )
            if quarantined is not None:
                quarantined.write.mode("append").parquet(
                    os.path.join(self.path, "_quarantine")
                )
            batch = batch.withColumn("_bucket", self._bucket_col())

            def build(parent, raw, gen, out):
                nonlocal batch, metrics
                nb = raw.get("n_buckets")
                if nb and nb != self.n_buckets:
                    # a re-bucketing compact() committed a different
                    # bucket count (possibly after this handle opened):
                    # adopt it and re-bucket the batch, or keys would
                    # land in wrong buckets
                    self.n_buckets = nb
                    batch = batch.withColumn("_bucket", self._bucket_col())
                single_pass = not collect_metrics and (
                    write_mode == "mor" or parent is None
                )
                if not single_pass and not cache:
                    batch = batch.persist()
                    cache.append(batch)
                replaced, metrics = self._merge_attempt(
                    batch, parent, raw, gen, out, single_pass,
                    collect_metrics, write_mode,
                )
                return replaced

            # _locked=True: the caller already holds the commit lock
            # (replay_quarantine's read-merge-rewrite span)
            self._commit("MERGE", build, locked=_locked, rebase=True)
            return metrics
        finally:
            for df in cache:
                df.unpersist()

    def _merge_attempt(
        self,
        batch: DataFrame,
        parent: str | None,
        raw: dict,
        gen: str,
        out: str,
        single_pass: bool,
        collect_metrics: bool,
        write_mode: str,
    ) -> tuple[dict | None, MergeMetrics | None]:
        """One merge attempt against ``parent``: writes the touched
        buckets under ``out`` and returns the manifest keys it replaces
        (None for an empty batch) plus the merge metrics."""
        prev_manifest = raw.get("buckets", {})
        prev_deltas = raw.get("deltas", {})

        # single-pass: when no stored state is read (MOR never does;
        # an empty table has none) and no metrics are wanted, skip the
        # touched-bucket pre-scan entirely — the batch streams straight
        # into the partitioned write and the touched buckets fall out
        # of the written dirs (one pass over the batch, not two)
        if single_pass:
            touched: list | None = None
            touched_set: set = set()
            state = None
            merged = merge_into(
                batch.limit(0), batch, key="_id", version="version_"
            )
            metrics = None
        else:
            touched = sorted(
                r._bucket for r in batch.select("_bucket").distinct().collect()
            )
            if not touched:
                # empty batch (common for streaming micro-batches):
                # nothing to merge — do NOT mint a no-op generation per
                # trigger
                metrics = (
                    MergeMetrics(inserted=0, modified=0, unchanged=0)
                    if collect_metrics
                    else None
                )
                return None, metrics
            touched_set = {str(b) for b in touched}
            existing_touched = [
                b
                for b in touched
                if str(b) in prev_manifest or str(b) in prev_deltas
            ]
            if write_mode == "mor":
                # merge-on-read: never read stored state — pre-reduce
                # the batch (same in-batch total order as merge_into)
                # and land it as a delta layer; reads reconcile
                merged = merge_into(
                    batch.limit(0), batch, key="_id", version="version_"
                )
                state = None
            elif existing_touched:
                # copy-on-write: reconciled state read absorbs any
                # deltas the touched buckets carry
                state = self._bucket_state(
                    parent, existing_touched
                ).withColumn("_bucket", self._bucket_col())
                state, batch = self._align_schemas(state, batch)
                merged = merge_into(
                    state, batch, key="_id", version="version_"
                )
            else:
                state = None
                merged = merge_into(
                    batch.limit(0), batch, key="_id", version="version_"
                )
            metrics = None
            if collect_metrics:
                if state is not None:
                    old = state.select(
                        "_id", F.col("version_").alias("_old_v")
                    )
                elif existing_touched:
                    old = self._bucket_state(
                        parent, existing_touched
                    ).select("_id", F.col("version_").alias("_old_v"))
                else:
                    old = batch.select(
                        "_id", F.col("version_").alias("_old_v")
                    ).limit(0)
                bat = batch.groupBy("_id").agg(
                    F.max("version_").alias("_new_v")
                )
                counts = (
                    bat.join(old, "_id", "left")
                    .agg(
                        F.sum(
                            F.when(F.col("_old_v").isNull(), 1).otherwise(0)
                        ).alias("ins"),
                        F.sum(
                            F.when(
                                F.col("_new_v") > F.col("_old_v"), 1
                            ).otherwise(0)
                        ).alias("mod"),
                        F.sum(
                            F.when(
                                F.col("_new_v") <= F.col("_old_v"), 1
                            ).otherwise(0)
                        ).alias("unch"),
                    )
                    .first()
                )
                metrics = MergeMetrics(
                    inserted=counts.ins or 0,
                    modified=counts.mod or 0,
                    unchanged=counts.unch or 0,
                )

        cmap_new, retired = self._evolve_colmap(
            raw, [c for c in merged.columns if c != "_bucket"]
        )
        # one shuffle on the bucket id clusters the write so partitionBy
        # emits a contiguous file group per bucket; untouched buckets
        # never move.  Files store PHYSICAL column names (column
        # mapping): a logical rename never has to rewrite them.
        (
            self._to_physical(merged, cmap_new)
            .repartition(
                self.n_buckets if touched is None else max(len(touched), 1),
                "_bucket",
            )
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out)
        )
        written = {
            d.split("=", 1)[1]: os.path.join(gen, d)
            for d in os.listdir(out)
            if d.startswith("_bucket=")
        }
        if touched is None:
            if not written:
                # empty batch discovered post-write (single-pass):
                # nothing to merge — the no-op releases the claimed
                # generation (streaming no-op trigger contract)
                return None, None
            touched = sorted(written, key=int)
            touched_set = set(written)
        if write_mode == "mor":
            # bases stay put; each written dir stacks as the bucket's
            # next delta layer (or becomes the base of a fresh bucket)
            buckets = dict(prev_manifest)
            deltas = {b: list(ds) for b, ds in prev_deltas.items()}
            for b, rel in written.items():
                if b in buckets:
                    deltas.setdefault(b, []).append(rel)
                else:
                    buckets[b] = rel
        else:
            buckets = {
                b: rel
                for b, rel in prev_manifest.items()
                if b not in touched_set
            }
            buckets.update(written)
            # the rewrite absorbed any deltas the touched buckets had
            deltas = {
                b: list(ds)
                for b, ds in prev_deltas.items()
                if b not in touched_set
            }
        prev_dvs = raw.get("dvs", {})
        if write_mode == "mor":
            # delta layers stack ABOVE the overlaid base: deletion
            # vectors keep applying to the files they mark
            dvs_new = {b: list(rs) for b, rs in prev_dvs.items()}
        else:
            # the cow state read was DV-aware, so the rewrite of a
            # touched bucket materialized its overlay — drop its DV
            dvs_new = {
                b: list(rs)
                for b, rs in prev_dvs.items()
                if b not in touched_set
            }
        # stats maintenance is O(touched), like the merge: rewritten
        # buckets harvest fresh footer stats, untouched buckets carry
        # their previous entry (same bytes -> same stats)
        prev_stats = raw.get("stats", {})
        prev_fstats = raw.get("fstats", {})
        prev_blooms = raw.get("blooms", {})
        untouched = [
            b for b in set(buckets) | set(deltas) if b not in touched_set
        ]
        stats = {b: prev_stats[b] for b in untouched if b in prev_stats}
        fstats = {b: prev_fstats[b] for b in untouched if b in prev_fstats}
        blooms = {b: prev_blooms[b] for b in untouched if b in prev_blooms}
        new_bstats, new_fstats = self._harvest_stats(out)
        if write_mode == "mor":
            bloom_rels = []
            for b, rel in written.items():
                if b in deltas and deltas[b] and deltas[b][-1] == rel:
                    # delta layer: bucket stats widen conservatively
                    # over base+deltas; per-file stats/blooms drop —
                    # file-level pruning is unsound in a reconciled
                    # bucket (a pruned stale file can resurrect)
                    m = skipping.merge_persisted(
                        prev_stats.get(b), new_bstats.get(b)
                    )
                    if m is not None:
                        stats[b] = m
                else:
                    if b in new_bstats:
                        stats[b] = new_bstats[b]
                    if b in new_fstats:
                        fstats[b] = new_fstats[b]
                    bloom_rels.append(rel)
            blooms.update(self._harvest_blooms(bloom_rels))
        else:
            stats.update(new_bstats)
            fstats.update(new_fstats)
            # bloom bitmaps follow the same O(touched) maintenance
            blooms.update(self._harvest_blooms(list(written.values())))
        # the committed schema must stay a (widened) superset of every
        # generation's files in EVERY mode: a batch that omits columns
        # and lands only in fresh buckets must not shrink the table
        # schema (untouched buckets still hold the column), and a
        # widened column type must be adopted table-wide so old narrow
        # files read under the promoted type
        if parent:
            schema_json = self._merged_schema_json(
                self.table_schema(parent), merged.schema
            )
        else:
            schema_json = self._schema_json(merged)
        replaced = {
            "buckets": buckets,
            "n_buckets": self.n_buckets,
            "schema": schema_json,
            "stats": stats,
            "fstats": fstats,
            "blooms": blooms,
            "deltas": deltas,
            "dvs": dvs_new,
            "commit": {"touched_buckets": len(touched), "mode": write_mode},
        }
        if cmap_new is not None:
            replaced["colmap"] = cmap_new
            replaced["retired"] = retired
        return replaced, metrics
