"""The silver table's commit log, read in one place.

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
Writers (the pointer CAS, manifest writes, ``clone``'s file copy) stay
with ``SilverTable``.

Reader features (Delta protocol ``readerFeatures`` parity): a manifest
stamped with a feature outside ``READER_FEATURES`` was written by newer
code whose generations this reader would silently misread (e.g. a
pre-DV reader would return deleted rows as live), so ``manifest``
refuses it loudly.
"""

from __future__ import annotations

import json
import os

READER_FEATURES = frozenset({"mor", "dv", "colmap"})

#: (bucket -> base rel, bucket -> [delta rels], bucket -> [dv rels])
Refs = tuple[dict, dict, dict]
#: the refs of "no generation": the state before a table's first commit
EMPTY_REFS: Refs = ({}, {}, {})

#: parsed-manifest cache keyed by (abs path, mtime_ns, size): one merge
#: used to parse the SAME manifest 3-5x, and at production bucket
#: counts the stats maps make each parse real driver cost per commit.
#: mtime+size keying keeps in-place rewrites (a rebase rewrites its
#: claimed generation's manifest) correctly invalidated.  Consumers
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
    """Generations whose manifest is on disk, oldest first.  Claimed
    dirs of in-flight or crashed writers carry no manifest and are
    skipped."""
    if not os.path.isdir(path):
        return []
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith("gen-")
        and os.path.isfile(os.path.join(path, d, "manifest.json"))
    )


def load(path: str, generation: str) -> dict:
    """Parsed manifest WITHOUT the reader-feature gate, for metadata any
    reader understands (layout, schema, commit info).  Raises
    FileNotFoundError for a generation without a manifest."""
    p = os.path.join(path, generation, "manifest.json")
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


def refs(path: str, generation: str) -> Refs:
    """The generation's (buckets, deltas, dvs) reference maps, gated."""
    raw = manifest(path, generation)
    return raw["buckets"], raw.get("deltas", {}), raw.get("dvs", {})


def bucket_refs(r: Refs, bucket: str) -> tuple[str | None, list, list]:
    """One bucket's (base rel | None, [delta rels], [dv rels]); a None
    base with no deltas means the bucket holds no rows."""
    return r[0].get(bucket), r[1].get(bucket, []), r[2].get(bucket, [])


def changed_buckets(old: Refs, new: Refs) -> list[str]:
    """Bucket ids whose base, deltas or dvs reference differs between
    two generations' refs.  Equal references prove equal bytes, so the
    other buckets are skipped without being read (the Delta/Iceberg
    change-data-feed file-skipping trick over plain manifests)."""
    ids = set().union(*old, *new)
    return sorted(
        b for b in ids if bucket_refs(old, b) != bucket_refs(new, b)
    )
