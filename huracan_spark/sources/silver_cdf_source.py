"""Silver change feed as a STREAMING source (Delta readChangeFeed
parity).

Delta exposes ``spark.readStream.format("delta").option(
"readChangeFeed", "true")`` — a stream of row-level changes driven by
the commit log.  SilverTable's generation manifests carry the same
information, surfaced here through Spark 4's Python DataSource API:

- stream OFFSETS are generation names (the commit log positions,
  read through ``pipeline/commitlog.py`` like every other reader);
- each micro-batch covers the generations committed since the last
  offset and plans ONE CHAIN PER CHANGED BUCKET for the whole range
  (manifest file-skipping, ``commitlog.changed_buckets``), so a batch
  costs the delta, not the table.  A chain walks its bucket's changing
  generations, loading each state once and diffing it against the
  previous one; before the first generation of an ``earliest`` stream
  the state is empty;
- whole chains pack, first-fit in bucket order, into as few
  ``InputPartition``s as ``_PARTITION_BYTES`` of referenced files
  allows.  A Python data-source task costs a fixed ~240 ms of worker
  CPU however little it reads, so a small batch is one task, while a
  large one still fans out by bytes;
- partition reads are pure pyarrow/stdlib (no SparkSession on the
  executor), classify changes exactly like ``SilverTable.changes``
  (insert / update / delete, plus ``drop`` when a key vanishes, e.g.
  after a RESTORE), and include equal-version tombstone flips.  A
  ``drop`` row carries the key's OLD payload, like a preimage, so a
  folded aggregate can take back its mass;
- replaying a committed offset range after restart re-reads the same
  immutable generation files — replay-stable by construction (the
  property the K1 idempotent-MERGE sink assumes).  Vacuum keeps every
  retained generation readable; streams resuming from beyond the
  vacuum horizon fail loudly on the missing manifest rather than
  silently skipping commits.

Usage::

    register_silver_cdf_source(spark)
    feed = (spark.readStream.format("silver_cdf")
            .option("path", table_path)
            .option("starting", "earliest")   # or "latest" / a gen name
            .load())
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from huracan_spark.pipeline import commitlog

__all__ = ["SilverCdfStreamDataSource", "register_silver_cdf_source"]

# metadata columns appended after the table's own columns — the Delta
# CDF shape (_change_type + commit info), plus the pre-image version
_META_DDL = (
    "_change_type string, _old_version bigint, _commit_generation string"
)

#: referenced file bytes one partition's chains may add up to (base +
#: deltas + DV sidecars); a chain above it is planned alone.  read()
#: decodes every row into Python objects, serially: ~5-10 MB of
#: referenced parquet per CPU second in-process and ~3 MB/s inside a
#: worker (silver rows, preimages on, 4 vCPU), so a full partition
#: reads for ~0.6 s, a few times the ~240 ms fixed cost of a task
_PARTITION_BYTES = 2 << 20


def _table_ddl(path: str) -> str:
    """DDL of the table's committed schema + CDF metadata columns.
    Read from the CURRENT generation's manifest at stream start; rows
    from generations predating an evolved column null-fill it."""
    from pyspark.sql.types import StructType

    gen = commitlog.current(path)
    if gen is None:
        raise ValueError(f"silver table at {path!r} has no committed state")
    st = StructType.fromJson(commitlog.schema(path, gen))
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields)
    return f"{cols}, {_META_DDL}"


class _CdfPartition(InputPartition):
    def __init__(self, table_path, chains, columns, preimages, colmap):
        self.table_path = table_path
        # one (old refs, steps) chain per changed bucket: the bucket's
        # refs before the batch, then (generation, refs) for each
        # generation in the batch that changed it; refs are
        # commitlog.bucket_refs triples
        self.chains = chains
        self.columns = columns  # LOGICAL table column names, schema order
        self.preimages = preimages
        self.colmap = colmap  # logical -> physical (column mapping)


def _chain_dirs(old_refs, steps) -> dict:
    """The data and sidecar dirs a chain references, each once, in
    order."""
    return dict.fromkeys(
        rel
        for base, deltas, dvs in (old_refs, *(refs for _, refs in steps))
        for rel in (base, *deltas, *dvs)
        if rel is not None
    )


def _pack(sized, budget: int) -> list[list]:
    """First-fit in the given order: each (bytes, chain) joins the first
    bin it fits under ``budget``; a chain above it opens its own."""
    bins: list[list] = []  # [bytes, chains]
    for size, chain in sized:
        for b in bins:
            if b[0] + size <= budget:
                b[0] += size
                b[1].append(chain)
                break
        else:
            bins.append([size, [chain]])
    return [chains for _, chains in bins]


def _load_dv(table_path: str, dv_rels) -> dict:
    """{file tail (gen/_bucket=K/name.parquet): {row position, ...}}
    union over the given deletion-vector sidecar dirs."""
    import pyarrow.parquet as pq

    marks: dict = {}
    for rel in dict.fromkeys(dv_rels or ()):
        d = os.path.join(table_path, rel)
        for fn, _ in commitlog.dir_files(table_path, rel):
            t = pq.read_table(
                os.path.join(d, fn), columns=["_dv_file", "_dv_pos"]
            )
            for r in t.to_pylist():
                marks.setdefault(r["_dv_file"], set()).add(r["_dv_pos"])
    return marks


def _load_bucket(
    table_path: str, rel: str | None, columns, colmap=None, dv_marks=None
) -> dict:
    """{_id: {logical col: value}} for one bucket data dir.  Files
    store PHYSICAL column names (column mapping); absent columns
    (pre-evolution generations, retired physical names) null-fill.
    Positions listed in ``dv_marks`` overlay as version+1 tombstones
    (deletion vectors), mirroring SilverTable._apply_dv."""
    if rel is None:
        return {}
    import pyarrow.parquet as pq

    phys = {c: (colmap.get(c, c) if colmap else c) for c in columns}
    out = {}
    d = os.path.join(table_path, rel)
    for fn, _ in commitlog.dir_files(table_path, rel):
        p = os.path.join(d, fn)
        tail = "/".join(p.split(os.sep)[-3:])
        marked = (dv_marks or {}).get(tail, ())
        with pq.ParquetFile(p) as f:
            have = set(f.schema_arrow.names)
            want = sorted({pc for pc in phys.values() if pc in have})
            t = f.read(columns=want)
        for pos, r in enumerate(t.to_pylist()):
            row = {c: r.get(phys[c]) for c in columns}
            if pos in marked:
                row["deleted"] = True
                row["version_"] = row["version_"] + 1
            out[row["_id"]] = row
    return out


def _order_key(row) -> tuple[int, int]:
    return (row["version_"], 1 if row.get("deleted") else 0)


def _load_state(table_path: str, refs, columns, colmap=None) -> dict:
    """Reconciled {_id: row} for one bucket side: base layer, then each
    merge-on-read delta layer folded with the merge_into total order —
    a later layer's row wins only on a STRICTLY higher
    (version, tombstone) key, so the earliest commit wins full ties,
    exactly like SilverTable._reconcile_frames.  Deletion vectors
    overlay each layer BEFORE the fold (a marked row competes as its
    tombstone image), exactly like SilverTable._bucket_state."""
    base_rel, delta_rels, dv_rels = refs
    dv = _load_dv(table_path, dv_rels) if dv_rels else None
    state = _load_bucket(table_path, base_rel, columns, colmap, dv)
    for rel in delta_rels:
        for _id, row in _load_bucket(
            table_path, rel, columns, colmap, dv
        ).items():
            cur = state.get(_id)
            if cur is None or _order_key(row) > _order_key(cur):
                state[_id] = row
    return state


def _changes(old: dict, new: dict, cols, gen: str, preimages: bool):
    """Change rows of one bucket between two reconciled states, with
    the same changed-row predicate and classification as
    ``SilverTable.changes``: version differs OR deleted differs."""
    for _id in sorted(set(old) | set(new)):
        o, n = old.get(_id), new.get(_id)
        if (
            o is not None
            and n is not None
            and o["version_"] == n["version_"]
            and o["deleted"] == n["deleted"]
        ):
            continue
        old_v = o["version_"] if o else None
        if n is None:
            # the key vanished (a RESTORE to before its insert): the
            # row carries the old payload so folds can subtract it
            yield tuple(o[c] for c in cols) + ("drop", old_v, gen)
            continue
        if o is None:
            ct = "delete" if n["deleted"] else "insert"
        elif n["deleted"] and not o["deleted"]:
            ct = "delete"
        else:
            ct = "update"
        if preimages and o is not None:
            yield tuple(o[c] for c in cols) + (f"{ct}_preimage", old_v, gen)
        if preimages and ct == "update":
            ct = "update_postimage"
        yield tuple(n[c] for c in cols) + (ct, old_v, gen)


class _SilverCdfStreamReader(DataSourceStreamReader):
    def __init__(self, options, columns):
        self.path = options["path"]
        self.starting = options.get("starting", "latest")
        self.columns = columns  # table columns (no CDF metadata)
        # Delta-CDF preimage rows: updates/deletes additionally emit the
        # OLD payload as update_preimage / delete_preimage, so a
        # downstream aggregate can fold -old/+new adjustments from the
        # feed ALONE, never touching the table
        self.preimages = options.get("preimages", "false").lower() == "true"
        # admission control (Delta maxFilesPerTrigger analog): bound
        # how many COMMITS one micro-batch may span, so a consumer
        # whose trigger interval outpaces the table's commit rate
        # catches up in bounded batches instead of one giant one.
        # Effective from the SECOND planned batch of a run: the engine
        # asks for latestOffset before initialOffset, and seeding the
        # position from `starting` instead would regress committed
        # offsets after a restart (duplicate emission) — so the first
        # batch of each run is uncapped, exactly like Delta's
        # maxFilesPerTrigger under Trigger.Once.  Correctness never
        # depends on the cap.
        self.max_gens = int(options.get("max_generations_per_batch", "0"))
        self._pos: str | None = None
        #: parquet bytes of each dir the last planned batch referenced
        self._dir_bytes: dict[str, int] = {}
        # physical names are immutable, so the CURRENT generation's
        # column map, taken at stream start, decodes every generation
        cur = commitlog.current(self.path)
        self.cmap = cur and commitlog.manifest(self.path, cur).get("colmap")

    def initialOffset(self) -> dict:
        if self.starting == "earliest":
            # "" = before the first commit: the first micro-batch
            # emits the oldest generation's content as inserts (Delta's
            # startingVersion=0 includes the initial adds), then pairs
            off = {"generation": ""}
        elif self.starting == "latest":
            off = {"generation": commitlog.current(self.path) or ""}
        else:
            if self.starting not in commitlog.generations(self.path):
                raise ValueError(
                    f"unknown starting generation {self.starting!r}"
                )
            off = {"generation": self.starting}
        self._pos = off["generation"]
        return off

    def latestOffset(self) -> dict:
        cur = commitlog.current(self.path) or ""
        if not self.max_gens or self._pos is None or not cur:
            return {"generation": cur}
        gens = commitlog.generations(self.path)
        hi = gens.index(cur)
        if self._pos == "":
            # the initial snapshot counts as the first step
            capped = min(self.max_gens - 1, hi)
        else:
            if self._pos not in gens:
                return {"generation": cur}  # vacuumed: partitions() raises
            capped = min(gens.index(self._pos) + self.max_gens, hi)
        return {"generation": gens[capped]}

    def partitions(self, start: dict, end: dict):
        # track planned progress so the NEXT latestOffset caps relative
        # to this batch's end (also re-seeds the position on restart,
        # when the engine replans from its checkpoint)
        self._pos = end["generation"]
        gens = commitlog.generations(self.path)
        s, e = start["generation"], end["generation"]
        if not e or s == e:
            return []
        if e not in gens:
            raise ValueError(
                f"end generation {e!r} is not on disk — the table was "
                "vacuumed or corrupted past this stream's offset"
            )
        hi = gens.index(e)
        if s and s not in gens:
            # resuming from beyond the vacuum horizon must fail LOUDLY:
            # silently skipping to the oldest surviving generation would
            # drop committed changes
            raise ValueError(
                f"start generation {s!r} was vacuumed — this stream's "
                "offset predates the table's retention window; rebuild "
                "the consumer from a fresh 'earliest' snapshot"
            )
        lo = gens.index(s) if s else -1
        if lo > hi:
            # defense in depth: an end offset BEHIND the start would
            # regress the committed position and re-emit changes on the
            # next batch — refuse instead of silently planning it
            raise ValueError(
                f"offset inversion: start {s!r} is ahead of end {e!r}"
            )
        # "" = before the first commit: the oldest generation diffs
        # against an empty table, so its rows emit as inserts (Delta's
        # startingVersion=0 includes the initial adds)
        first = prev = (
            commitlog.refs(self.path, s) if s else commitlog.EMPTY_REFS
        )
        steps: dict[str, list] = {}
        for gen in gens[lo + 1 : hi + 1]:
            cur = commitlog.refs(self.path, gen)
            for b in commitlog.changed_buckets(prev, cur):
                steps.setdefault(b, []).append(
                    (gen, commitlog.bucket_refs(cur, b))
                )
            prev = cur
        chains = [
            (commitlog.bucket_refs(first, b), steps[b]) for b in sorted(steps)
        ]
        # committed dirs never change, so sizes listed for the previous
        # batch carry over: a trigger lists only the dirs its new
        # generations reference
        known, self._dir_bytes = self._dir_bytes, {}
        for rel in dict.fromkeys(r for c in chains for r in _chain_dirs(*c)):
            self._dir_bytes[rel] = (
                known[rel]
                if rel in known
                else sum(n for _, n in commitlog.dir_files(self.path, rel))
            )
        sized = [
            (sum(self._dir_bytes[r] for r in _chain_dirs(*c)), c)
            for c in chains
        ]
        return [
            _CdfPartition(
                self.path, packed, self.columns, self.preimages, self.cmap
            )
            for packed in _pack(sized, _PARTITION_BYTES)
        ]

    def read(self, partition: _CdfPartition):
        path, cols = partition.table_path, partition.columns
        cmap = partition.colmap
        for old_refs, steps in partition.chains:
            old = _load_state(path, old_refs, cols, cmap)
            for gen, refs in steps:
                new = _load_state(path, refs, cols, cmap)
                yield from _changes(old, new, cols, gen, partition.preimages)
                old = new

    def commit(self, end: dict) -> None:
        pass  # offsets are durable generation names; nothing to ack


class SilverCdfStreamDataSource(DataSource):
    """``spark.readStream.format("silver_cdf")`` — full-payload change
    rows (the table's columns as of stream start) + ``_change_type`` /
    ``_old_version`` / ``_commit_generation`` metadata, Delta's CDF
    shape."""

    @classmethod
    def name(cls) -> str:
        return "silver_cdf"

    def schema(self) -> str:
        return _table_ddl(self.options["path"])

    def streamReader(self, schema) -> _SilverCdfStreamReader:
        meta = {"_change_type", "_old_version", "_commit_generation"}
        cols = [f.name for f in schema.fields if f.name not in meta]
        return _SilverCdfStreamReader(self.options, cols)


def register_silver_cdf_source(spark) -> None:
    spark.dataSource.register(SilverCdfStreamDataSource)
