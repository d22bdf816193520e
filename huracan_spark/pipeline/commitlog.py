"""The silver table's commit log: its on-disk format, read and written
in one place.

A table root holds a ``_CURRENT`` pointer (``{"generation": name}``)
and one ``gen-*`` directory per generation, each committed by its
``manifest.json``.  A manifest maps bucket ids to data dirs relative
to the table root: ``buckets`` (the copy-on-write base), ``deltas``
(merge-on-read layers, commit order) and ``dvs`` (deletion-vector
sidecars).  Untouched buckets reference older generations' dirs, so an
identical reference proves identical bytes.

Every reader of the log goes through this module: ``SilverTable`` on
the driver and the CDF streaming source's executor-side loaders.  It is
stdlib-only so a Python worker can import it without pulling in Spark.

So does the write side of the protocol that ``SilverTable._commit``
drives for every writer:

- ``claim`` reserves a generation dir (atomic ``mkdir``) whose name
  sorts after its parent's, so name order is commit order;
- ``derive`` is the one manifest rule: the base manifest (the parent,
  or a RESTORE target) minus its commit metadata and features, the
  writer's replaced keys on top, then operation, timestamp and reader
  features stamped;
- ``rebase`` splices a lost merge's per-bucket entries onto the
  winner's manifest when the winner left its buckets alone;
- ``stage`` writes the manifest under a name no reader lists, and
  ``cas`` (called under the commit lock) publishes it and swaps the
  pointer only if the pointer still names the attempt's parent — a
  lost or crashed attempt never leaves a listed manifest;
- ``acquire_lock``/``release_lock``: the ``O_EXCL`` commit lock with a
  heartbeat, so only a dead holder's lock is ever broken.

Reader features (Delta protocol ``readerFeatures`` parity): a manifest
stamped with a feature outside ``READER_FEATURES`` was written by newer
code whose generations this reader would silently misread (e.g. a
pre-DV reader would return deleted rows as live), so ``manifest``
refuses it loudly.
"""

from __future__ import annotations

import json
import os
import threading
import time

READER_FEATURES = frozenset({"mor", "dv", "colmap"})

#: manifest keys that map a bucket id to that bucket's entry: what a
#: disjoint-bucket rebase splices from its own commit onto the winner's
BUCKET_KEYS = ("buckets", "deltas", "dvs", "stats", "fstats", "blooms")

MANIFEST = "manifest.json"
#: a manifest written but not yet published: ``generations`` skips it
_STAGED = MANIFEST + ".tmp"

#: (bucket -> base rel, bucket -> [delta rels], bucket -> [dv rels])
Refs = tuple[dict, dict, dict]
#: the refs of "no generation": the state before a table's first commit
EMPTY_REFS: Refs = ({}, {}, {})

#: parsed-manifest cache keyed by (abs path, mtime_ns, size): one merge
#: used to parse the SAME manifest 3-5x, and at production bucket
#: counts the stats maps make each parse real driver cost per commit.
#: mtime+size keying keeps any in-place rewrite (a test editing a
#: manifest by hand) correctly invalidated.  Consumers
#: treat the parsed dict as read-only (every writer copies sub-dicts
#: before mutating).
_CACHE: dict[tuple[str, int, int], dict] = {}
_CACHE_MAX = 64


def current(path: str) -> str | None:
    """The generation ``_CURRENT`` points at, or None for an empty
    table."""
    try:
        with open(os.path.join(path, "_CURRENT")) as f:
            return json.load(f)["generation"]
    except FileNotFoundError:
        return None


def generations(path: str) -> list[str]:
    """Committed generations, in commit order (name order).  Claimed
    dirs of in-flight, lost or crashed attempts carry no published
    manifest and are skipped."""
    if not os.path.isdir(path):
        return []
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith("gen-")
        and os.path.isfile(os.path.join(path, d, MANIFEST))
    )


def load(path: str, generation: str) -> dict:
    """Parsed manifest WITHOUT the reader-feature gate, for metadata any
    reader understands (layout, schema, commit info).  Raises
    FileNotFoundError for a generation without a manifest."""
    p = os.path.join(path, generation, MANIFEST)
    st = os.stat(p)
    key = (p, st.st_mtime_ns, st.st_size)
    raw = _CACHE.get(key)
    if raw is None:
        with open(p) as f:
            raw = json.load(f)
        while len(_CACHE) >= _CACHE_MAX:
            _CACHE.pop(next(iter(_CACHE)))
        _CACHE[key] = raw
    return raw


def manifest(path: str, generation: str) -> dict:
    """Parsed manifest behind the reader-feature gate: what every row
    reader must use."""
    raw = load(path, generation)
    unknown = set(raw.get("features", ())) - READER_FEATURES
    if unknown:
        raise ValueError(
            f"generation {generation} requires reader features "
            f"{sorted(unknown)} this version does not implement — "
            "reading it would silently return wrong rows; upgrade "
            "the reader (Delta protocol readerFeatures semantics)"
        )
    return raw


def schema(path: str, generation: str) -> dict:
    """The generation's committed table schema, as Spark StructType
    JSON, gated.  Every writer commits one; a manifest without it
    predates the format and is refused."""
    sj = manifest(path, generation).get("schema")
    if sj is None:
        raise ValueError(
            f"generation {generation} has no committed schema: its "
            "manifest predates the current format, which every reader "
            "now requires"
        )
    return json.loads(sj)


def refs(path: str, generation: str) -> Refs:
    """The generation's (buckets, deltas, dvs) reference maps, gated."""
    return refs_of(manifest(path, generation))


def refs_of(raw: dict) -> Refs:
    """A parsed manifest's (buckets, deltas, dvs) reference maps."""
    return raw.get("buckets", {}), raw.get("deltas", {}), raw.get("dvs", {})


def bucket_refs(r: Refs, bucket: str) -> tuple[str | None, list, list]:
    """One bucket's (base rel | None, [delta rels], [dv rels]); a None
    base with no deltas means the bucket holds no rows."""
    return r[0].get(bucket), r[1].get(bucket, []), r[2].get(bucket, [])


def dir_files(path: str, rel: str) -> list[tuple[str, int]]:
    """(file name, bytes) of the parquet files in one referenced data
    or sidecar dir, in name order: exactly what a reader of ``rel``
    reads."""
    with os.scandir(os.path.join(path, rel)) as it:
        return sorted(
            (e.name, e.stat().st_size)
            for e in it
            if e.name.endswith(".parquet")
        )


def changed_buckets(old: Refs, new: Refs) -> list[str]:
    """Bucket ids whose base, deltas or dvs reference differs between
    two generations' refs.  Equal references prove equal bytes, so the
    other buckets are skipped without being read (the Delta/Iceberg
    change-data-feed file-skipping trick over plain manifests)."""
    ids = set().union(*old, *new)
    return sorted(
        b for b in ids if bucket_refs(old, b) != bucket_refs(new, b)
    )


# -- the write side ----------------------------------------------------


def claim(path: str, after: str | None) -> tuple[str, str]:
    """Reserve a fresh generation dir: ``(name, abs dir)``.  ``mkdir``
    is the atomic claim, so concurrent writers in the same millisecond
    get distinct names.  The name sorts after ``after`` (the attempt's
    parent) even when the parent was claimed later in the same
    millisecond or by a host whose clock runs ahead."""
    ts = int(time.time() * 1000)
    if after is not None:
        ts = max(ts, int(after.split("-")[1]))
    seq = 0
    while True:
        gen = f"gen-{ts}" if seq == 0 else f"gen-{ts}-{seq:03d}"
        seq += 1
        if after is not None and gen <= after:
            continue
        out = os.path.join(path, gen)
        try:
            os.makedirs(out)
            return gen, out
        except FileExistsError:
            continue


def stamp_features(mf: dict) -> dict:
    """Record the reader features the manifest needs (see
    ``READER_FEATURES``)."""
    feats = [
        f
        for f, key in (("mor", "deltas"), ("dv", "dvs"), ("colmap", "colmap"))
        if mf.get(key)
    ]
    if feats:
        mf["features"] = feats
    else:
        mf.pop("features", None)
    return mf


def derive(base: dict, replaced: dict, operation: str) -> dict:
    """The one manifest rule: ``base`` minus its commit metadata and
    features, with the writer's ``replaced`` keys on top.
    ``replaced["commit"]`` holds the writer's extra commit fields; the
    operation and commit time are stamped here."""
    mf = {k: v for k, v in base.items() if k not in ("commit", "features")}
    mf.update({k: v for k, v in replaced.items() if k != "commit"})
    mf["commit"] = {
        **replaced.get("commit", {}),
        "operation": operation,
        "ts_ms": int(time.time() * 1000),
    }
    return stamp_features(mf)


def rebase(
    snap: dict, ours: dict, winner: dict, winner_gen: str
) -> dict | None:
    """A lost merge's splice onto the winner (Delta's file-level
    conflict resolution, O(metadata)).  ``ours`` was derived from
    ``snap``; when every bucket it touched is UNCHANGED between
    ``snap`` and the ``winner``'s manifest (bases, deltas, dvs) and the
    table's schema, column mapping and bucket count are too, ``ours``
    is still the correct post-image of those buckets.  Returns the keys
    that put its per-bucket entries on top of the winner's manifest
    for ``derive``, or None (an overlap, or an OPTIMIZE, RESTORE or
    ALTER in between): the merge must run again."""
    if any(winner.get(k) != snap.get(k) for k in ("schema", "colmap", "n_buckets")):
        return None
    old, won = refs_of(snap), refs_of(winner)
    touched = changed_buckets(old, refs_of(ours))
    if any(bucket_refs(won, b) != bucket_refs(old, b) for b in touched):
        return None  # true overlap: the winner moved our buckets
    replaced = {k: dict(winner.get(k, {})) for k in BUCKET_KEYS}
    for k, entries in replaced.items():
        for b in touched:
            if b in ours.get(k, {}):
                entries[b] = ours[k][b]
            else:
                entries.pop(b, None)
    # ours extends snap's schema and column mapping, equal to the winner's
    for k in ("schema", "colmap", "retired"):
        if k in ours:
            replaced[k] = ours[k]
    replaced["commit"] = {**ours["commit"], "rebased_on": winner_gen}
    return replaced


def stage(gen_dir: str, mf: dict) -> None:
    """Write a manifest that no reader lists until ``publish``."""
    with open(os.path.join(gen_dir, _STAGED), "w") as f:
        json.dump(mf, f)


def publish(path: str, generation: str) -> None:
    """Atomically list the generation's staged manifest."""
    d = os.path.join(path, generation)
    os.replace(os.path.join(d, _STAGED), os.path.join(d, MANIFEST))


def set_current(path: str, generation: str) -> None:
    """Atomically point ``_CURRENT`` at ``generation``."""
    p = os.path.join(path, "_CURRENT")
    with open(p + ".tmp", "w") as f:
        json.dump({"generation": generation}, f)
    os.replace(p + ".tmp", p)


def cas(path: str, expected: str | None, generation: str) -> bool:
    """Publish ``generation``'s staged manifest and point ``_CURRENT`` at
    it iff the pointer still names ``expected``; False on a lost race.
    The caller holds the commit lock.  The manifest is published first,
    so the pointer never names a generation without one."""
    if current(path) != expected:
        return False
    publish(path, generation)
    set_current(path, generation)
    return True


class Lock(str):
    """Commit-lock path plus the identity nonce written into the file
    at acquisition and the holder's heartbeat control.  The heartbeat
    keeps a LIVE holder's mtime fresh so stale-breaking only ever hits
    dead writers; the nonce lets release verify the file is still ours
    before unlinking (defense in depth)."""

    nonce: str = ""
    stop_heartbeat = None  # threading.Event
    heartbeat_thread = None


def acquire_lock(
    path: str, timeout: float, stale_secs: float, heartbeat_secs: float
) -> Lock:
    """Take the table's exclusive commit lock (``O_CREAT|O_EXCL``,
    atomic on POSIX), waiting up to ``timeout`` seconds.  A lock whose
    mtime is older than ``stale_secs`` belongs to a dead writer and is
    broken; a live holder's heartbeat refreshes it every
    ``heartbeat_secs``, so a long pessimistic span is never broken."""
    lock = os.path.join(path, "_COMMIT_LOCK")
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:  # break locks abandoned by a dead writer
                if time.time() - os.path.getmtime(lock) > stale_secs:
                    # rename, don't unlink: exactly one breaker wins
                    # the rename; a second breaker must NOT unlink
                    # the fresh lock the winner just recreated
                    stale = f"{lock}.stale-{os.getpid()}-{time.monotonic_ns()}"
                    os.rename(lock, stale)
                    os.unlink(stale)
                    continue
            except FileNotFoundError:
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy: {lock}")
            time.sleep(0.02)
            continue
        # identity nonce: release verifies the lock file still carries
        # OUR nonce before unlinking, as defense in depth under the
        # heartbeat (a wrong unlink would delete the NEXT writer's
        # fresh lock and silently admit a third writer into a
        # pessimistic span)
        nonce = f"{os.getpid()}-{time.monotonic_ns()}"
        os.write(fd, nonce.encode())
        os.close(fd)
        handle = Lock(lock)
        handle.nonce = nonce
        stop = handle.stop_heartbeat = threading.Event()

        def _beat():
            while not stop.wait(heartbeat_secs):
                try:
                    os.utime(lock)
                except FileNotFoundError:
                    return  # lock gone: holder crashed mid-span

        handle.heartbeat_thread = threading.Thread(target=_beat, daemon=True)
        handle.heartbeat_thread.start()
        return handle


def release_lock(lock: Lock) -> None:
    """Stop the heartbeat, then unlink the commit lock only if it is
    still OURS (nonce matches).  The heartbeat guarantees a live holder
    is never stale-broken, so the nonce check is belt-and-braces
    against protocol bugs."""
    stop = getattr(lock, "stop_heartbeat", None)
    if stop is not None:
        stop.set()
    try:
        with open(lock) as f:
            if f.read() != getattr(lock, "nonce", None):
                return
    except FileNotFoundError:
        return
    try:
        os.unlink(lock)
    except FileNotFoundError:
        pass
