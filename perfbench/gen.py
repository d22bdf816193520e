"""Seeded, vectorised generator of the indexer's input tables.

Produces ``object_changes`` and ``objects_content`` with the schema and
knobs of ``huracan_spark.pipeline.fixtures.FixtureConfig`` (duplicate
rows, cross-route duplicates, deletions, RPC errors, missing content,
null ``ts_sui``), but with numpy instead of a per-row loop: a
200k-object history (567k change rows) takes ~5 s on a 4-vCPU VM, where
the per-row generator needs over a minute.

Differences from the fixture generator, on purpose:

- an object's versions rise with its checkpoints, so checkpoint-range
  chunks and per-checkpoint feed files replay history in order;
- files are written through pyarrow with the exact types of
  ``OBJECT_CHANGE_SCHEMA`` / ``OBJECT_CONTENT_SCHEMA`` (a pandas
  round-trip turns nullable ``ts_sui`` into DOUBLE, which the file
  stream rejects with PARQUET_COLUMN_DATA_TYPE_MISMATCH).

This module imports no Spark, so it runs before the measured process.
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from huracan_spark.pipeline.fixtures import TYPE_POOL, FixtureConfig

CHANGE_SCHEMA = pa.schema([
    pa.field("cp", pa.int64(), False),
    pa.field("tx_digest", pa.string(), False),
    pa.field("change_type", pa.string(), False),
    pa.field("object_id", pa.string(), False),
    pa.field("version", pa.int64(), False),
    pa.field("ts_sui", pa.int64(), True),
    pa.field("ts_first_seen", pa.int64(), False),
    pa.field("ingested_via", pa.string(), False),
])

CONTENT_SCHEMA = pa.schema([
    pa.field("object_id", pa.string(), False),
    pa.field("version", pa.int64(), False),
    pa.field("object_type", pa.string(), True),
    pa.field("owner_kind", pa.string(), True),
    pa.field("owner_address", pa.string(), True),
    pa.field("initial_shared_version", pa.int64(), True),
    pa.field("digest", pa.string(), True),
    pa.field("previous_transaction", pa.string(), True),
    pa.field("storage_rebate", pa.string(), True),
    pa.field("has_public_transfer", pa.bool_(), True),
    pa.field("fields_json", pa.string(), True),
    pa.field("bcs_b64", pa.string(), True),
    pa.field("rpc_error", pa.string(), True),
])

_B58 = np.array(list("123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"))
_RPC_ERRORS = np.array(
    ["deleted", "not_exists", "unknown", "display_error", "dynamic_field_not_found"]
)
_ROUTES = np.array(["poll", "livescan", "backfill"])
_NOISE_TYPES = np.array(["wrapped", "transferred", "published"])
_OWNER_KINDS = np.array(["AddressOwner", "ObjectOwner", "Shared", "Immutable"])
DYNFIELD_TYPES = TYPE_POOL[-2:]
_PLAIN_TYPES = np.array(TYPE_POOL[:-2])
BASE_TS = 1_700_000_000_000


@dataclass
class History:
    """One seeded change history and the content its changes fetch."""

    changes: pa.Table
    content: pa.Table

    def chunk(self, cp_lo: int, cp_hi: int) -> pa.Table:
        """Changes whose checkpoint is in ``[cp_lo, cp_hi)``."""
        cp = self.changes["cp"]
        mask = pc.and_(pc.greater_equal(cp, cp_lo), pc.less(cp, cp_hi))
        return self.changes.filter(mask)


def _b58(rng: np.random.Generator, n: int, length: int) -> np.ndarray:
    chars = np.ascontiguousarray(_B58[rng.integers(0, len(_B58), (n, length))])
    return chars.view(f"<U{length}").ravel()


def _hex_ids(rng: np.random.Generator, n: int, nbytes: int) -> np.ndarray:
    raw = rng.integers(0, 256, size=(n, nbytes), dtype=np.uint8)
    return np.array(["0x" + r.tobytes().hex() for r in raw])


def make_history(
    seed: int, n_objects: int, n_checkpoints: int, cfg: FixtureConfig | None = None
) -> History:
    """A history of ``n_objects`` objects over checkpoints 1..n_checkpoints.

    ``cfg`` supplies the fraction knobs; its ``seed``, ``n_objects`` and
    ``n_checkpoints`` are ignored in favour of the arguments."""
    cfg = cfg or FixtureConfig()
    rng = np.random.default_rng(seed)
    ids = _hex_ids(rng, n_objects, 32)
    is_dyn = rng.random(n_objects) < cfg.dynfield_frac
    plain_idx = np.flatnonzero(~is_dyn)
    parent = np.where(is_dyn, plain_idx[rng.integers(0, len(plain_idx), n_objects)], -1)
    obj_type = np.where(
        is_dyn,
        np.array(DYNFIELD_TYPES)[rng.integers(0, 2, n_objects)],
        _PLAIN_TYPES[rng.integers(0, len(_PLAIN_TYPES), n_objects)],
    )
    owner_kind = np.where(
        is_dyn,
        "ObjectOwner",
        _OWNER_KINDS[rng.choice(4, size=n_objects, p=[0.6, 0.15, 0.15, 0.1])],
    )
    # ~500 owner addresses with Zipf skew (FIXTURES.md §2); dynamic
    # fields are owned by their parent object
    addr_pool = _hex_ids(rng, 500, 20)
    zipf = 1.0 / np.arange(1, 501)
    addr = addr_pool[rng.choice(500, size=n_objects, p=zipf / zipf.sum())]
    owner_address = np.where(
        is_dyn, ids[np.maximum(parent, 0)],
        np.where(np.isin(owner_kind, ["AddressOwner", "ObjectOwner"]), addr, None),
    )

    # -- object_changes: versions rise with checkpoints per object -------
    n_ver = rng.integers(1, cfg.max_versions + 1, n_objects)
    obj = np.repeat(np.arange(n_objects), n_ver)
    n = len(obj)
    starts = np.cumsum(n_ver) - n_ver
    rank = np.arange(n) - np.repeat(starts, n_ver)
    gaps = rng.integers(1, 7, n)
    csum = np.cumsum(gaps)
    version = csum - np.repeat(csum[starts] - gaps[starts], n_ver)
    cp_raw = rng.integers(1, n_checkpoints + 1, n)
    cp = cp_raw[np.lexsort((cp_raw, obj))]
    is_last = rank == np.repeat(n_ver - 1, n_ver)
    deleted_obj = rng.random(n_objects) < 0.06
    ctype = np.where(
        rank == 0, "created",
        np.where(is_last & np.repeat(deleted_obj, n_ver), "deleted", "mutated"),
    )
    ts_sui = BASE_TS + cp * 1000 + rng.integers(0, 900, n)
    ts_seen = ts_sui + rng.integers(10, 5000, n)
    route = _ROUTES[rng.integers(0, 3, n)]

    # P1-dropped change types riding along (~5%)
    n_noise = n // 20
    noise_obj = rng.integers(0, n_objects, n_noise)
    noise_cp = rng.integers(1, n_checkpoints + 1, n_noise)
    noise_ts = BASE_TS + noise_cp * 1000
    obj = np.concatenate([obj, noise_obj])
    cols = {
        "cp": np.concatenate([cp, noise_cp]),
        "change_type": np.concatenate([ctype, _NOISE_TYPES[rng.integers(0, 3, n_noise)]]),
        "version": np.concatenate([version, rng.integers(1, 50, n_noise)]),
        "ts_sui": np.concatenate([ts_sui, noise_ts]),
        "ts_first_seen": np.concatenate([ts_seen, noise_ts + 100]),
        "ingested_via": np.concatenate([route, np.full(n_noise, "livescan")]),
    }
    m = len(obj)
    n_tx = max(m // 3, 1)
    tx_pool = _b58(rng, n_tx, 20)
    cols["tx_digest"] = tx_pool[rng.integers(0, n_tx, m)]

    # cross-route duplicates (M2) and exact replays (M3 / K1 idempotence)
    cross = np.flatnonzero(rng.random(m) < cfg.cross_route_dup_frac)
    dups = np.flatnonzero(rng.random(m) < cfg.dup_row_frac)
    take = np.concatenate([np.arange(m), cross, dups])
    out = {k: v[take] for k, v in cols.items()}
    obj = obj[take]
    via = out["ingested_via"]
    k = len(cross)
    via[m:m + k] = np.where(via[m:m + k] == "poll", "livescan", "poll")
    out["ts_first_seen"][m:m + k] += rng.integers(1, 2000, k)
    ts_null = rng.random(len(take)) < cfg.null_ts_sui_frac
    order = rng.permutation(len(take))  # emit out of order
    changes = pa.table({
        "cp": pa.array(out["cp"][order], pa.int64()),
        "tx_digest": pa.array(out["tx_digest"][order], pa.string()),
        "change_type": pa.array(out["change_type"][order], pa.string()),
        "object_id": pa.array(ids[obj[order]], pa.string()),
        "version": pa.array(out["version"][order], pa.int64()),
        "ts_sui": pa.array(out["ts_sui"][order], pa.int64(), mask=ts_null[order]),
        "ts_first_seen": pa.array(out["ts_first_seen"][order], pa.int64()),
        "ingested_via": pa.array(out["ingested_via"][order], pa.string()),
    }, schema=CHANGE_SCHEMA)

    # -- objects_content: one row per live (object, version) -------------
    live = ctype != "deleted"
    c_obj = np.repeat(np.arange(n_objects), n_ver)[live]
    c_ver = version[live]
    keep = rng.random(len(c_obj)) >= cfg.missing_content_frac  # else DLQ (K7)
    c_obj, c_ver = c_obj[keep], c_ver[keep]
    nc = len(c_obj)
    err = np.where(
        rng.random(nc) < cfg.rpc_error_frac, _RPC_ERRORS[rng.integers(0, 5, nc)], None
    )
    kind = owner_kind[c_obj]
    shared = kind == "Shared"
    dyn = is_dyn[c_obj]
    balance = rng.integers(0, 10**9, nc)
    tag = rng.integers(0, 50, nc)
    score = rng.integers(0, 1000, nc)
    key = rng.integers(0, 100, nc)
    val = rng.integers(0, 10**6, nc)
    struct_val = rng.random(nc) < 0.5
    level = rng.integers(0, 10, nc)
    par = ids[np.maximum(parent[c_obj], 0)]
    fields = [
        (
            f'{{"name": "key-{key[i]}", "value": {{"type": "0xa1::profile::Profile", '
            f'"fields": {{"owner": "{par[i]}", "level": {level[i]}}}}}}}'
            if struct_val[i]
            else f'{{"name": "key-{key[i]}", "value": {val[i]}}}'
        )
        if dyn[i]
        else (
            f'{{"balance": {balance[i]}, "active": {"true" if balance[i] & 1 else "false"}, '
            f'"tag": "t{tag[i]}", "meta": {{"type": "0x1::meta::Meta", '
            f'"fields": {{"score": {score[i]}, "note": null}}}}}}'
        )
        for i in range(nc)
    ]
    bcs = rng.integers(0, 256, size=(nc, 24), dtype=np.uint8)
    content = pa.table({
        "object_id": pa.array(ids[c_obj], pa.string()),
        "version": pa.array(c_ver, pa.int64()),
        "object_type": pa.array(obj_type[c_obj], pa.string()),
        "owner_kind": pa.array(kind, pa.string()),
        "owner_address": pa.array(owner_address[c_obj], pa.string()),
        "initial_shared_version": pa.array(
            rng.integers(1, 1000, nc), pa.int64(), mask=~shared
        ),
        "digest": pa.array(_b58(rng, nc, 30), pa.string()),
        "previous_transaction": pa.array(tx_pool[rng.integers(0, n_tx, nc)], pa.string()),
        "storage_rebate": pa.array(rng.integers(0, 10**7, nc).astype(str), pa.string()),
        "has_public_transfer": pa.array(rng.random(nc) < 0.5, pa.bool_()),
        "fields_json": pa.array(fields, pa.string()),
        "bcs_b64": pa.array([base64.b64encode(r.tobytes()).decode() for r in bcs], pa.string()),
        "rpc_error": pa.array(err, pa.string()),
    }, schema=CONTENT_SCHEMA)
    return History(changes=changes, content=content)


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")
    return path
