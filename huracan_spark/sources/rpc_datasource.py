"""Paginated-RPC scan as a first-class Spark Python DataSource.

The reference's object crawl is a cursor-paginated JSON-RPC loop
(main/src/etl.rs:675-821 drives page tokens serially).  Spark 4's
Python DataSource API lets the SAME contract surface as a real
`spark.read.format(...)` source where each page is an
``InputPartition`` — so pages fetch IN PARALLEL across executors, the
planner sees a normal scan (prunable, limit-able), and the "connector"
is ~60 lines of pure Python.

This implementation synthesizes deterministic page contents (the
container has no live RPC endpoint) from the same md5 construction as
``functions/textfns.py::hash60``, so reads are replay-stable: the test
asserts two reads are identical and that parallelism == page count.
Swapping ``_page_rows`` for a real HTTP fetch changes nothing in the
plan shape — partition-per-page is the scale contract.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

__all__ = [
    "PaginatedRpcDataSource",
    "register_rpc_source",
    "PaginatedRpcStreamDataSource",
    "register_rpc_stream_source",
]


def _h60(seed: str, value: str) -> int:
    return int(hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:15], 16)


def _page_rows(page: int, page_size: int, seed: str):
    """Deterministic synthetic page: (cp, object_id, version, owner)."""
    base = page * page_size
    for i in range(page_size):
        rid = base + i
        h = _h60(seed, str(rid))
        yield (
            rid,
            f"0x{h:015x}",
            h % 1000,
            f"owner_{h % 50}",
        )


class _PagePartition(InputPartition):
    def __init__(self, page: int):
        self.page = page


class _RpcReader(DataSourceReader):
    def __init__(self, options):
        self.page_size = int(options.get("page_size", 100))
        self.n_pages = int(options.get("n_pages", 10))
        self.seed = options.get("seed", "rpc")

    def partitions(self):
        # one partition per RPC page -> pages fetch in parallel, the
        # antithesis of the reference's serial cursor walk; each is a
        # Python task with a fixed ~240 ms of worker CPU, so pages are
        # worth a partition only when a fetch costs more than that
        return [_PagePartition(p) for p in range(self.n_pages)]

    def read(self, partition: _PagePartition):
        yield from _page_rows(partition.page, self.page_size, self.seed)


class PaginatedRpcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paginated_rpc"

    def schema(self) -> str:
        return "cp bigint, object_id string, version bigint, owner string"

    def reader(self, schema) -> _RpcReader:
        return _RpcReader(self.options)


def register_rpc_source(spark) -> None:
    spark.dataSource.register(PaginatedRpcDataSource)


# -- streaming variant: the S1 head poll as a true custom stream ------------
#
# The reference's live loop polls the checkpoint head and emits new
# pages as they appear (SURVEY §2.1 S1).  Spark 4's
# SimpleDataSourceStreamReader expresses exactly that contract:
# offsets are page cursors, each micro-batch drains the pages between
# the last committed cursor and the current head, and
# ``readBetweenOffsets`` replays a committed range VERBATIM on
# recovery — the replay-stability the idempotent MERGE sink (K1/K4)
# assumes.  The synthetic head advances ``pages_per_batch`` per poll
# up to ``n_pages``; a real deployment swaps ``_page_rows`` for the
# RPC fetch and derives the head from the remote checkpoint probe
# (S8), changing nothing in the offset protocol.

try:  # Spark >= 4.0
    from pyspark.sql.datasource import SimpleDataSourceStreamReader
except ImportError:  # pragma: no cover - older runtime
    SimpleDataSourceStreamReader = object  # type: ignore[assignment,misc]


class _RpcStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.page_size = int(options.get("page_size", 100))
        self.n_pages = int(options.get("n_pages", 10))
        self.pages_per_batch = int(options.get("pages_per_batch", 2))
        self.seed = options.get("seed", "rpc")

    def initialOffset(self) -> dict:
        return {"page": 0}

    def read(self, start: dict):
        lo = int(start["page"])
        hi = min(lo + self.pages_per_batch, self.n_pages)
        return self._rows(lo, hi), {"page": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # recovery replay of a committed range — must be byte-identical
        # to what read() produced, which _page_rows guarantees (pure
        # function of (page, size, seed))
        return self._rows(int(start["page"]), int(end["page"]))

    def _rows(self, lo: int, hi: int):
        # Spark's prefetch cache copy.copy()'s the returned iterator
        # between planPartitions calls — a generator can't be copied,
        # a list iterator can.  Pages are driver-side and bounded by
        # pages_per_batch, so materializing the batch is the contract.
        rows = []
        for page in range(lo, hi):
            rows.extend(_page_rows(page, self.page_size, self.seed))
        return iter(rows)


class PaginatedRpcStreamDataSource(DataSource):
    """``spark.readStream.format("paginated_rpc_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "paginated_rpc_stream"

    def schema(self) -> str:
        return "cp bigint, object_id string, version bigint, owner string"

    def simpleStreamReader(self, schema) -> _RpcStreamReader:
        return _RpcStreamReader(self.options)


def register_rpc_stream_source(spark) -> None:
    spark.dataSource.register(PaginatedRpcStreamDataSource)
