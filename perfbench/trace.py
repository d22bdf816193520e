"""In-memory span tracing around the program's public functions.

Used only by the traced run (``--trace 1``).  ``Tracer.install`` wraps
the public entry points of each layer; every call records a span (name,
start, end, parent, trace id, thread) in a list that the run writes
out when it ends.  A span's self time is its duration minus the time
its child spans cover.

Trace ids (``kind:n``): the benchmark opens a root span per chunk or
request with ``Tracer.span``.  On the streaming ``foreachBatch``
callback thread, where the benchmark opens no span, each
``parse_changes`` (the first call of every micro-batch) starts a new
``trigger:n`` id; later root spans on a thread keep its last id.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: layer of each wrapped function; keys are span names
LAYER_OF = {
    "run_backfill": "pipeline.backfill",
    "parse_changes": "pipeline.ingest",
    "reconcile_duplicates": "pipeline.ingest",
    "enrich": "pipeline.ingest",
    "build_silver_batch": "pipeline.ingest",
    "checkpoint_completion": "pipeline.ingest",
    "SilverTable.merge": "pipeline.silver.write",
    "SilverTable.read": "pipeline.silver.read",
    "SilverTable.read_key_bucket": "pipeline.silver.read",
    "SilverTable.read_where": "pipeline.silver.read",
    "SilverTable.prune_plan": "pipeline.silver.read",
    "ObjectsApi.object": "api",
    "ObjectsApi.objects": "api",
    "ObjectsApi.dynamic_fields": "api",
}

_INGEST_FNS = (
    "parse_changes",
    "reconcile_duplicates",
    "enrich",
    "build_silver_batch",
    "checkpoint_completion",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    thread: int = 0
    children: list[int] = field(default_factory=list)
    result: object = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace_id is None:
            if parent is not None:
                trace_id = self.spans[parent].trace_id
            else:
                trace_id = getattr(self._local, "trace", None) or f"{name}:{next(self._ids)}"
        elif parent is None:
            self._local.trace = trace_id
        sp = Span(name, time.perf_counter(), parent=parent, trace_id=trace_id,
                  thread=threading.get_ident())
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def _wrap(self, owner: object, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            trace_id = None
            if not tracer._stack() and name == "parse_changes":
                trace_id = f"trigger:{next(tracer._ids)}"
            with tracer.span(name, trace_id) as sp:
                out = fn(*args, **kwargs)
                if name == "SilverTable.prune_plan":
                    sp.result = (len(out[0]), len(out[1]))
                return out

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the public functions of every layer the benchmark drives."""
        from huracan_spark import api
        from huracan_spark.pipeline import backfill, silver
        from huracan_spark.streaming import stream_ingest

        for meth in ("merge", "read", "read_key_bucket", "read_where", "prune_plan"):
            self._wrap(silver.SilverTable, meth, f"SilverTable.{meth}")
        for meth in ("object", "objects", "dynamic_fields"):
            self._wrap(api.ObjectsApi, meth, f"ObjectsApi.{meth}")
        self._wrap(backfill, "run_backfill", "run_backfill")
        for mod in (backfill, stream_ingest):
            for fn in _INGEST_FNS:
                if hasattr(mod, fn):
                    self._wrap(mod, fn, fn)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- analysis -------------------------------------------------------
    def self_time(self, idx: int) -> float:
        """Duration minus the union of the child spans' intervals."""
        sp = self.spans[idx]
        ivs = sorted(
            (max(self.spans[c].start, sp.start), min(self.spans[c].end, sp.end))
            for c in sp.children
        )
        covered, hi = 0.0, sp.start
        for a, b in ivs:
            a = max(a, hi)
            if b > a:
                covered += b - a
                hi = b
        return sp.dur - covered

    def by_name(self, name: str, since: float = 0.0) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name and s.start >= since]

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                "trace_id": s.trace_id, "thread": s.thread,
                "self_s": self.self_time(i),
            }
            for i, s in enumerate(self.spans)
        ]


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of an executed DataFrame,
    from ``QueryExecution.tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
