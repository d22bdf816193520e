"""The measured process: one workload in one fresh JVM.

    python3 perfbench/measure.py WORKLOAD INPUT_DIR SECONDS TRACE SPAWN_TS

``run.py`` generates the inputs, pins the environment and starts this
process; SPAWN_TS is the wall time at which it did so.  The process
sets up (session start, then the workload's table seeded) three times,
warms up, runs the timed phase for SECONDS, writes what the oracle needs
(silver dump, gold-view dump, API response digests, query-sample rows)
under INPUT_DIR/out, and writes INPUT_DIR/out/result.json.

Every workload records its operation latencies; run.py turns them into
the end-to-end metrics.  With TRACE=1 the first half of the timed phase
runs untraced and the second half traced (``trace.Tracer``): the
difference between the halves is the tracing overhead, and the traced
half gives the per-layer numbers.  A traced run then runs its part of
the query sample (``QuerySample``).
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

from perfbench import host
from perfbench.trace import LAYER_OF, Tracer, catalyst_phases

HERE = os.path.dirname(os.path.abspath(__file__))
_T0 = time.time()
SETUPS = 3  # set-ups per run; setup_s is their median


def log(msg: str) -> None:
    """Progress line on stderr (the run's log), stamped with process age."""
    print(f"[perfbench {time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0-100); 0.0 when empty."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile with at least ten
    samples beyond it; None when fewer than 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    p = math.floor(100.0 * (1.0 - 10.0 / n))
    return p, percentile(xs, p)


def latency_summary(xs: list[float]) -> dict:
    t = tail(xs)
    return {
        "n": len(xs),
        "p50_ms": percentile(xs, 50),
        "mean_ms": statistics.fmean(xs) if xs else 0.0,
        "tail_p": t[0] if t else None,
        "tail_ms": t[1] if t else None,
    }


def _utc_ts(s: str) -> float:
    """Epoch seconds of Spark's ISO timestamps (progress, REST)."""
    s = s.rstrip("Z").replace("GMT", "")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _gen_dirs(table: str) -> list[str]:
    return sorted(d for d in os.listdir(table) if d.startswith("gen-"))


def _manifest(table: str, gen: str) -> dict:
    with open(os.path.join(table, gen, "manifest.json")) as f:
        return json.load(f)


def write_io_metrics(m: dict, table: str, gens: list[str], change_bytes: int) -> None:
    """Per-commit write counts of these generations (touched buckets,
    files, bytes, manifest bytes) and the write amplification over the
    change files that produced them."""
    files = nbytes = touched = mbytes = 0
    for g in gens:
        gdir = os.path.join(table, g)
        for p in glob.glob(os.path.join(gdir, "**", "*.parquet"), recursive=True):
            files += 1
            nbytes += os.path.getsize(p)
        mbytes += os.path.getsize(os.path.join(gdir, "manifest.json"))
        touched += _manifest(table, g).get("commit", {}).get("touched_buckets", 0)
    n = len(gens) or 1
    m["silver.touched_buckets"] = touched / n
    m["silver.files_written"] = files / n
    m["silver.bytes_written"] = nbytes / n
    m["silver.manifest_bytes"] = mbytes / n
    m["silver.write_amp"] = nbytes / change_bytes if change_bytes else 0.0
    m["silver.generations"] = len(_gen_dirs(table))


class Workload:
    """Timed-phase bookkeeping shared by the workloads."""

    def __init__(self, spark, inputs: str, seconds: float, tracer: Tracer | None):
        self.spark = spark
        self.inputs = inputs
        self.seconds = seconds
        self.tracer = tracer
        self.out = os.path.join(inputs, "out")
        os.makedirs(self.out, exist_ok=True)
        self.tables = os.path.join(inputs, "tables")
        #: (start wall time, class, latency ms) per operation
        self.samples: list[tuple[float, str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.changes = 0  # change rows ingested by the timed operations
        self.t_half: float | None = None  # wall time the traced half began
        self.sample: QuerySample | None = None  # traced runs with a query sample
        self.report: dict = {}

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.t_half is not None

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def start_trace(self) -> None:
        """Switch to the traced half (called once, mid-run)."""
        self.t_half = time.time()
        self.perf_half = time.perf_counter()
        self.cpu_half = host.process_cpu(host.jvm_pid(self.spark))
        self.tracer.install()

    def traced_ops(self) -> int:
        return sum(1 for t, _, _ in self.samples if t >= self.t_half) or 1

    def write_spec(self, spec: dict) -> None:
        """What the oracle checks, with the query sample's results if one ran."""
        if self.sample is not None:
            spec["star"] = self.sample.star
            spec["queries"] = self.sample.results
        with open(os.path.join(self.out, "oracle.json"), "w") as f:
            json.dump(spec, f)


class Backfill(Workload):
    """Closed loop, one client thread: whole passes of K checkpoint-range chunks
    into a fresh table, after a warm-up over a separate small history.
    The traced run also sends the API request mix (``ReadProbe``) to the
    final table, so the read layers get per-layer numbers."""

    MIN_PASSES = 2

    def seed(self) -> None:
        warm = sorted(glob.glob(os.path.join(self.inputs, "warm", "chunk_*.parquet")))
        silver = self._table("warm")
        content = self.read(os.path.join(self.inputs, "warm", "content.parquet"))
        for p in warm:
            self._chunk(p, content, silver)

    def prepare(self) -> None:
        self.chunks = sorted(glob.glob(os.path.join(self.inputs, "chunks", "chunk_*.parquet")))
        self.content_path = os.path.join(self.inputs, "content.parquet")
        self.rows = {p: self.read(p).count() for p in self.chunks}
        if self.tracer is not None:
            # one more untimed pass, so the untraced and traced halves
            # compare at the same JIT warmth
            silver = self._table("settle")
            for p in self.chunks:
                self._chunk(p, self.read(self.content_path), silver)

    def _table(self, name: str):
        from huracan_spark.pipeline.silver import SilverTable

        path = os.path.join(self.tables, name)
        shutil.rmtree(path, ignore_errors=True)
        return SilverTable(self.spark, path, n_buckets=16)

    def _chunk(self, path: str, content, silver) -> None:
        from huracan_spark.pipeline import backfill as bf

        res = bf.run_backfill(self.spark, self.read(path), content, silver)
        if res.cached is not None:
            res.cached.unpersist()

    def run(self) -> None:
        t_end = time.time() + self.seconds
        n_pass = rows = 0
        busy = 0.0
        # whole passes, at least MIN_PASSES of them: the first timed pass
        # still costs more CPU than later ones (JIT), so a run that fits a
        # varying number of passes into its seconds would vary with it.
        # A traced run goes on until one pass is traced.
        while n_pass < self.MIN_PASSES or time.time() < t_end or (
                self.tracer is not None and not self.tracing):
            if self.tracer is not None and self.t_half is None and \
                    time.time() >= t_end - self.seconds / 2:
                self.start_trace()
            if n_pass:
                shutil.rmtree(self.silver.path, ignore_errors=True)
            self.silver = self._table(f"pass-{n_pass}")
            for k, path in enumerate(self.chunks):
                tid = f"chunk:{n_pass}.{k}"
                self.attempted += 1
                t0w, t0 = time.time(), time.perf_counter()
                try:
                    if self.tracing:
                        self.spark.sparkContext.setJobGroup(tid, tid)
                        with self.tracer.span("chunk", tid):
                            self._chunk(path, self.read(self.content_path), self.silver)
                    else:
                        self._chunk(path, self.read(self.content_path), self.silver)
                except Exception as e:  # a failed chunk is a failed operation
                    print(f"[perfbench] chunk {tid} failed: {e!r}", file=sys.stderr)
                    self.failed += 1
                    continue
                dt = time.perf_counter() - t0
                self.samples.append((t0w, "chunk", dt * 1000.0))
                rows += self.rows[path]
                busy += dt
            n_pass += 1
        self.report["passes"] = n_pass
        self.report["changes_per_chunk"] = list(self.rows.values())
        self.report["changes_per_s"] = rows / busy if busy else 0.0
        self.changes = rows
        if self.tracer is not None:
            self.cpu_end = host.process_cpu(host.jvm_pid(self.spark))
            with open(os.path.join(self.inputs, "requests.json")) as f:
                requests = json.load(f)
            self.probe = ReadProbe(self.spark, self.silver, self.tracer)
            self.probe.run(requests)

    def finish(self) -> None:
        self.silver.read().write.mode("overwrite").parquet(os.path.join(self.out, "silver"))
        spec = {"changes": self.chunks, "content": self.content_path}
        if self.tracer is not None:
            spec["responses"] = self.probe.responses
        self.write_spec(spec)

    def job_groups(self) -> set[str]:
        return {s.trace_id for s in self.tracer.spans
                if s.start >= self.perf_half and s.trace_id.startswith("chunk:")}

    def one_core_pass(self) -> float:
        """Changes/s of one pass on a one-core session: the
        single-threaded baseline of the same job.  The new session runs
        in the same, already warm JVM."""
        from huracan_spark.session import get_spark

        self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        self.spark = get_spark("perfbench-1core")
        silver = self._table("one-core")
        t0 = time.perf_counter()
        for path in self.chunks:
            self._chunk(path, self.read(self.content_path), silver)
        return sum(self.rows.values()) / (time.perf_counter() - t0)

    def layer_metrics(self, m: dict) -> list[int]:
        tr = self.tracer
        since = self.perf_half
        chunks = tr.by_name("chunk", since)
        merges = tr.by_name("SilverTable.merge", since)
        n = len(chunks) or 1
        merge_s = sum(tr.spans[i].dur for i in merges)
        bf_s = sum(tr.spans[i].dur for i in tr.by_name("run_backfill", since))
        m["backfill.chunk_s"] = sum(tr.spans[i].dur for i in chunks) / n
        m["backfill.outside_merge_s"] = (bf_s - merge_s) / n
        m["backfill.changes_per_s"] = self.report["changes_per_s"]
        m["silver.merge_s"] = merge_s / (len(merges) or 1)
        write_io_metrics(m, self.silver.path, _gen_dirs(self.silver.path),
                         sum(os.path.getsize(p) for p in self.chunks))
        self.probe.layer_metrics(m, since)
        return merges


class ReadProbe:
    """The API request mix: Zipf-skewed lookups (``ObjectsApi.object``,
    ``objects(ids=...)``, ``SilverTable.read_key_bucket``) and filters
    (owner / owners / type / types / dynamic-field value,
    ``dynamic_fields``, ``SilverTable.read_where``).  Every request
    resolves the current generation, as a server must."""

    def __init__(self, spark, silver, tracer: Tracer):
        self.spark = spark
        self.silver = silver
        self.tracer = tracer
        self.responses: list[dict] = []
        self.catalyst: list[dict] = []

    def _build(self, kind: str, arg):
        from huracan_spark import api

        if kind == "read_key_bucket":
            return self.silver.read_key_bucket(arg)
        if kind == "read_where":
            return self.silver.read_where(
                [("owner_kind", "=", arg[0]), ("version_", ">=", arg[1])])
        objs = api.ObjectsApi(self.silver.read())
        if kind == "object":
            return objs.object(arg)
        if kind == "dynamic_fields":
            return objs.dynamic_fields(parent_ids=arg)
        query = {
            "objects_ids": lambda: api.ObjectsQuery(ids=arg),
            "owner": lambda: api.ObjectsQuery(owner=arg),
            "owners": lambda: api.ObjectsQuery(owners=arg),
            "type": lambda: api.ObjectsQuery(type_=arg),
            "types": lambda: api.ObjectsQuery(types=arg),
            "dynamic_field_value": lambda: api.ObjectsQuery(dynamic_field_value=arg),
        }[kind]()
        return objs.objects(query)

    def run(self, requests: list[dict]) -> None:
        from perfbench.oracle import digest

        for i, req in enumerate(requests):
            kind, arg = req["kind"], req["arg"]
            tid = f"req:{i}"
            self.spark.sparkContext.setJobGroup(tid, tid)
            with self.tracer.span("request", tid):
                df = self._build(kind, arg)
                with self.tracer.span("exec"):
                    rows = [] if df is None else df.collect()
            if df is not None:
                self.catalyst.append(catalyst_phases(df))
            if kind == "dynamic_fields":
                keys = [(r["parent_id"], r["field_id"]) for r in rows]
            else:
                keys = [(r["_id"], r["version_"]) for r in rows]
            self.responses.append(
                {"kind": kind, "arg": arg, "n": len(keys), "digest": digest(keys)})

    def layer_metrics(self, m: dict, since: float) -> None:
        tr = self.tracer
        reqs = tr.by_name("request", since)
        n = len(reqs) or 1
        exec_s = sum(tr.spans[i].dur for i in tr.by_name("exec", since))
        m["api.exec_ms"] = exec_s * 1000.0 / n
        m["api.build_ms"] = (sum(tr.spans[i].dur for i in reqs) - exec_s) * 1000.0 / n
        for name, meth in (("silver.read_ms", "read"),
                           ("silver.read_key_bucket_ms", "read_key_bucket"),
                           ("silver.read_where_ms", "read_where")):
            idx = tr.by_name(f"SilverTable.{meth}", since)
            m[name] = (statistics.fmean(tr.spans[i].dur for i in idx) * 1000.0
                       if idx else 0.0)
        total_files = sum(len(v) for v in self.silver.file_stats().values()) or 1
        prunes = [tr.spans[i].result for i in tr.by_name("SilverTable.prune_plan", since)]
        m["silver.prune_kept_ratio"] = (
            statistics.fmean(k / total_files for k, _ in prunes) if prunes else 0.0)
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = (
                statistics.fmean(c[ph] for c in self.catalyst) if self.catalyst else 0.0)
        jobs, stages = host.rest_jobs(self.spark)
        counts = host.job_counts(jobs, stages, {tr.spans[i].trace_id for i in reqs})
        m["api.jobs_per_request"] = counts["jobs"] / n
        m["api.tasks_per_request"] = counts["tasks"] / n


class QuerySample:
    """Registered queries over the generated star-schema sample, measured
    as ``benchlib.measure_queries`` measures them: table warm-up, noop
    sink, one-time group builds charged to their ``matcost`` group.  Each
    query first runs once untimed, collected with ``toPandas``: that run
    warms the query's own code paths, fires its group builds and yields
    the rows the oracle checks."""

    def __init__(self, spark, tracer: Tracer, inputs: str):
        self.spark = spark
        self.tracer = tracer
        self.star = os.path.join(inputs, "star")
        with open(os.path.join(inputs, "queries.json")) as f:
            self.names = json.load(f)
        self.results: list[dict] = []
        self.catalyst: list[dict] = []
        self.groups_s = 0.0  # group builds, charged once
        self.build_s = 0.0  # group builds inside timed executions
        self.first_span = len(tracer.spans)

    def run(self) -> None:
        from huracan_spark.queries import matcost
        from huracan_spark.queries.registry import REGISTRY, spark_queries
        from huracan_spark.sources.tables import load_all
        from perfbench.oracle import frame_rows

        spark_queries()  # imports every module, so all are registered
        for df in load_all(self.spark, self.star).values():
            df.count()
        matcost.drain()
        for name in self.names:
            spec = REGISTRY[name]
            # its own job group, so its jobs count neither for the timed run
            # nor for the previous query
            self.spark.sparkContext.setJobGroup(f"oracle:{name}", name)
            pdf = spec.fn(self.spark, self.star).toPandas()
            self.results.append({"name": name, "sql": spec.oracle, **frame_rows(pdf)})
            self.groups_s += sum(c for _, c in matcost.drain())
            tid = f"query:{name}"
            self.spark.sparkContext.setJobGroup(tid, tid)
            with self.tracer.span("queries", tid):
                df = spec.fn(self.spark, self.star)
                df.write.mode("overwrite").format("noop").save()
            built = sum(c for _, c in matcost.drain())
            self.groups_s += built
            self.build_s += built
            df._jdf.queryExecution().executedPlan()  # plans the query's own execution
            self.catalyst.append(catalyst_phases(df))
            self.spark.catalog.clearCache()

    def layer_metrics(self, m: dict) -> None:
        tr = self.tracer
        spans = [i for i in tr.by_name("queries") if i >= self.first_span]
        n = len(spans) or 1
        timed = sum(tr.spans[i].dur for i in spans) - self.build_s
        m["self.queries_ms"] = (sum(tr.self_time(i) for i in spans) - self.build_s) * 1000.0 / n
        m["queries.exec_s"] = timed / n
        m["queries.groups_s"] = self.groups_s
        m["queries.suite_s"] = timed + self.groups_s  # as bench.py defines its value
        for ph in ("analysis", "optimization", "planning"):
            m[f"queries.{ph}_ms"] = (
                statistics.fmean(c[ph] for c in self.catalyst) if self.catalyst else 0.0)
        jobs, stages = host.rest_jobs(self.spark)
        counts = host.job_counts(jobs, stages, {tr.spans[i].trace_id for i in spans})
        m["queries.jobs"] = counts["jobs"] / n
        m["queries.tasks"] = counts["tasks"] / n


class LiveIngest(Workload):
    """Open loop: a separate feeder process renames one checkpoint file
    per second into the feed while ``run_stream`` and ``run_gold_view``
    run continuously on a table seeded by ``run_backfill``."""

    PERIOD = 1.0

    def seed(self) -> None:
        from huracan_spark.pipeline import backfill as bf
        from huracan_spark.pipeline.silver import SilverTable

        self.table = os.path.join(self.tables, "silver")
        shutil.rmtree(self.table, ignore_errors=True)
        self.silver = SilverTable(self.spark, self.table, n_buckets=16)
        res = bf.run_backfill(
            self.spark, self.read(os.path.join(self.inputs, "seed.parquet")),
            self.read(os.path.join(self.inputs, "content.parquet")), self.silver)
        if res.cached is not None:
            res.cached.unpersist()

    def prepare(self) -> None:
        from huracan_spark.streaming.gold_view import run_gold_view
        from huracan_spark.streaming.stream_ingest import (
            StreamConfig,
            changes_file_stream,
            run_stream,
        )

        d = self.inputs
        self._commit_ts: dict[str, float] = {}
        content = self.read(os.path.join(d, "content.parquet"))
        self.feed = os.path.join(d, "feed")
        os.makedirs(self.feed, exist_ok=True)
        self.ckpt = os.path.join(d, "ckpt")
        cfg = StreamConfig(
            checkpoint_dir=os.path.join(self.ckpt, "silver"),
            dlq_dir=os.path.join(d, "dlq"),
            completed_dir=os.path.join(d, "completed"),
            available_now=False,
        )
        # both streams start together, so their cold first batches (the
        # gold view folding the seed, silver taking one warm-up
        # checkpoint) share the cores instead of queueing
        warm = self._feed("warm_templates", "warm_stage", time.time() + 0.5)
        self.stream = run_stream(
            self.spark, changes_file_stream(self.spark, self.feed), content,
            self.silver, cfg,
        )
        self.view_dir = os.path.join(d, "view")
        self.gold = run_gold_view(
            self.spark, self.table, self.view_dir, "owner_kind", "version_",
            os.path.join(self.ckpt, "gold"), available_now=False,
        )
        warm = [r[0] for r in self._wait_feeder(warm)]
        # timing starts once the warm-up checkpoint is in silver and the
        # gold view has folded the seed; its fold of the warm-up
        # generation may overlap the first timed second, as folds do
        # throughout the timed phase
        vis = self._wait_visible(warm, time.time() + 90, gold=False)
        deadline = time.time() + 90
        while not self._gold_folds() and time.time() < deadline:
            time.sleep(0.2)
        if any(v is None for v, _ in vis.values()) or not self._gold_folds():
            raise RuntimeError("set-up not visible within 90 s")
        log("warm-up visible")

    def _feed(self, templates: str, stage: str, t0: float) -> subprocess.Popen:
        d = self.inputs
        return subprocess.Popen([
            sys.executable, os.path.join(HERE, "feed.py"),
            os.path.join(d, templates), os.path.join(d, stage), self.feed,
            repr(t0), repr(self.PERIOD), os.path.join(d, f"{stage}.json"),
        ])

    def _wait_feeder(self, proc: subprocess.Popen) -> list:
        try:
            rc = proc.wait(timeout=self.seconds + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0:
            raise RuntimeError(f"feeder exited with {rc}")
        with open(f"{proc.args[3]}.json") as f:
            return json.load(f)

    # -- visibility, from the streams' own checkpoint logs ---------------
    def _query_batches(self, name: str) -> list[tuple[int, float, dict]]:
        """(batch id, batch start wall time, source offset) per planned
        batch of one stream, from its offset log."""
        out = []
        for p in glob.glob(os.path.join(self.ckpt, name, "offsets", "[0-9]*")):
            with open(p) as f:
                lines = f.read().splitlines()
            if len(lines) < 3:
                continue  # being written
            meta = json.loads(lines[1])
            out.append((int(os.path.basename(p)), meta["batchTimestampMs"] / 1000.0,
                        json.loads(lines[2])))
        return sorted(out, key=lambda b: b[0])

    def _committed(self, name: str, batch: int) -> float | None:
        p = os.path.join(self.ckpt, name, "commits", str(batch))
        return os.path.getmtime(p) if os.path.exists(p) else None

    def _batches(self) -> dict[str, int]:
        """feed file name -> the silver stream batch that read it.  The
        file source numbers its own log (``sources/0``); a query batch's
        offset names the last source log entry it covers."""
        entries = {}
        for p in glob.glob(os.path.join(self.ckpt, "silver", "sources", "0", "*")):
            with open(p) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        entries[os.path.basename(e["path"])] = e["batchId"]
        ends = [(b, off["logOffset"]) for b, _, off in self._query_batches("silver")]
        out = {}
        for name, k in entries.items():
            hit = [b for b, end in ends if end >= k]
            if hit:
                out[name] = min(hit)
        return out

    def _silver_commits(self) -> list[tuple[float, str]]:
        """(commit wall time, generation), oldest first.  Manifests do not
        change once written, so each is parsed once."""
        for g in _gen_dirs(self.table):
            if g not in self._commit_ts:
                try:
                    ts = _manifest(self.table, g).get("commit", {}).get("ts_ms")
                except (FileNotFoundError, json.JSONDecodeError):
                    continue  # generation still being written
                if ts is not None:
                    self._commit_ts[g] = ts / 1000.0
        return sorted((ts, g) for g, ts in self._commit_ts.items())

    def _gold_folds(self) -> list[tuple[str, float]]:
        """(end generation, fold commit wall time) per committed gold batch."""
        if not os.path.isdir(os.path.join(self.ckpt, "gold", "offsets")):
            return []
        out = []
        for b, _, off in self._query_batches("gold"):
            done = self._committed("gold", b)
            if done is not None:
                out.append((off.get("generation", ""), done))
        return out

    def visibility(self, names: list[str]) -> dict[str, tuple[float | None, float | None]]:
        """name -> (silver commit wall time, gold fold wall time); None
        where not yet visible.  A checkpoint is visible in silver at the
        first commit made by the stream batch that read it, and in the
        gold view at the first fold whose end generation covers that
        commit."""
        batches = self._batches()
        starts = {b: t for b, t, _ in self._query_batches("silver")}
        commits = self._silver_commits()
        folds = self._gold_folds()
        out = {}
        for name in names:
            b = batches.get(name)
            vis = gold = None
            end = self._committed("silver", b) if b is not None else None
            if end is not None:
                mine = [(ts, g) for ts, g in commits if starts[b] <= ts <= end]
                if mine:
                    vis, gen = mine[0]
                    done = [t for g2, t in folds if g2 >= gen]
                    gold = min(done) if done else None
            out[name] = (vis, gold)
        return out

    def _wait_visible(self, names: list[str], deadline: float, gold: bool = True) -> dict:
        while True:
            vis = self.visibility(names)
            if all(v is not None and (g is not None or not gold) for v, g in vis.values()) \
                    or time.time() > deadline:
                return vis
            time.sleep(0.2)

    def run(self) -> None:
        t0 = time.time() + 1.0
        proc = self._feed("templates", "stage", t0)
        try:
            if self.tracer is not None:
                time.sleep(max(t0 + self.seconds / 2 - time.time(), 0))
                self.start_trace()
            drops = self._wait_feeder(proc)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        vis = self._wait_visible([r[0] for r in drops], time.time() + 30)
        self.cpu_end = host.process_cpu(host.jvm_pid(self.spark))
        self.drops = drops
        lateness, lags = [], []
        for name, due, actual in drops:
            self.attempted += 1
            lateness.append((actual - due) * 1000.0)
            v, g = vis[name]
            if v is None or g is None:
                self.failed += 1
                continue
            self.samples.append((due, "checkpoint", (v - due) * 1000.0))
            self.changes += pq.ParquetFile(os.path.join(self.feed, name)).metadata.num_rows
            lags.append((due, (g - due) * 1000.0))
        self.lags = lags
        self.report["gen.lateness_p99_ms"] = percentile(lateness, 99)
        self.report["view_lag"] = latency_summary([x for _, x in lags])
        self.stream_progress = [json.loads(p.json) for p in self.stream.recentProgress]
        self.gold_progress = [json.loads(p.json) for p in self.gold.recentProgress]
        self.stream.stop()
        self.gold.stop()

    def finish(self) -> None:
        from huracan_spark.streaming.gold_view import read_gold_view

        self.silver.read().write.mode("overwrite").parquet(os.path.join(self.out, "silver"))
        read_gold_view(self.spark, self.view_dir).write.mode("overwrite").parquet(
            os.path.join(self.out, "view"))
        self.write_spec({
            "changes": [os.path.join(self.inputs, "seed.parquet")]
            + sorted(glob.glob(os.path.join(self.feed, "*.parquet"))),
            "content": os.path.join(self.inputs, "content.parquet"),
            "view": ["owner_kind", "version_"],
        })

    def job_groups(self) -> set[str]:
        # Structured Streaming runs each query's jobs under its run id
        return {str(self.stream.runId), str(self.gold.runId)}

    def layer_metrics(self, m: dict) -> list[int]:
        half = self.t_half
        sp = [p for p in self.stream_progress
              if p["numInputRows"] > 0 and _utc_ts(p["timestamp"]) >= half]
        gp = [p for p in self.gold_progress
              if p["numInputRows"] > 0 and _utc_ts(p["timestamp"]) >= half]

        def mean_dur(progress, key):
            return statistics.fmean(p["durationMs"].get(key, 0) for p in progress) \
                if progress else 0.0

        for key in ("triggerExecution", "addBatch", "latestOffset", "getBatch",
                    "queryPlanning", "walCommit", "commitOffsets"):
            name = "trigger_ms" if key == "triggerExecution" else f"{key}_ms"
            m[f"stream.{name}"] = mean_dur(sp, key)
        for key in ("triggerExecution", "latestOffset", "addBatch"):
            name = "trigger_ms" if key == "triggerExecution" else f"{key}_ms"
            m[f"gold.{name}"] = mean_dur(gp, key)
        m["gold.rows_per_batch"] = statistics.fmean(p["numInputRows"] for p in gp) if gp else 0.0
        m["gold.triggers"] = len(gp)
        m["gold.view_lag_p50_ms"] = percentile([x for t, x in self.lags if t >= half], 50)
        last = self.stream_progress[-1] if self.stream_progress else {}
        ops = last.get("stateOperators") or [{}]
        m["stream.state_rows"] = ops[0].get("numRowsTotal", 0)
        m["stream.state_bytes"] = ops[0].get("memoryUsedBytes", 0)

        # files per trigger, and the largest backlog a trigger started with
        batches = self._batches()
        starts = {b: t for b, t, _ in self._query_batches("silver")}
        per_batch: dict[int, int] = {}
        for name, due, _ in self.drops:
            b = batches.get(name)
            if due >= half and b is not None:
                per_batch[b] = per_batch.get(b, 0) + 1
        m["stream.checkpoints_per_trigger"] = (
            statistics.fmean(per_batch.values()) if per_batch else 0.0)
        m["stream.backlog_max"] = max((
            sum(1 for name, _, actual in self.drops
                if actual <= starts[b] and batches.get(name, b) >= b)
            for b in per_batch), default=0)

        # spans of the triggers in ``sp`` (a trigger that began just
        # before the tracer was installed has spans but no traced progress)
        tr = self.tracer
        offset = time.time() - time.perf_counter()
        windows = [(_utc_ts(p["timestamp"]),
                    _utc_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0)
                   for p in sp]
        in_sp = [i for i, s in enumerate(tr.spans)
                 if s.trace_id.startswith("trigger:")
                 and any(a <= s.start + offset <= b for a, b in windows)]
        merges = [i for i in in_sp if tr.spans[i].name == "SilverTable.merge"]
        merge_s = sum(tr.spans[i].dur for i in merges)
        add_s = sum(p["durationMs"].get("addBatch", 0) for p in sp) / 1000.0
        m["stream.merge_share"] = merge_s / add_s if add_s else 0.0
        m["silver.merge_s"] = merge_s / (len(merges) or 1)
        gens = [g for t, g in self._silver_commits() if t >= half]
        write_io_metrics(m, self.table, gens, sum(
            os.path.getsize(os.path.join(self.feed, name))
            for name, due, _ in self.drops if due >= half))
        # the streaming layers' self time: trigger time not spent in the
        # wrapped ingest / merge calls made from foreachBatch
        inside = sum(tr.self_time(i) for i in in_sp)
        # per trigger, like the other layers' self times on this workload
        m["self.streaming.stream_ingest_ms"] = (
            sum(p["durationMs"].get("triggerExecution", 0) for p in sp) - inside * 1000.0
        ) / (len(sp) or 1)
        return merges


WORKLOADS = {"backfill": Backfill, "live_ingest": LiveIngest}


def corrupt_silver(table: str) -> None:
    """Bump ``version_`` in one stored file of the current generation, so
    the oracle must flag the table (PERFBENCH_CORRUPT_SILVER=1; used by
    the benchmark's own tests)."""
    import pyarrow.compute as pc

    with open(os.path.join(table, "_CURRENT")) as f:
        gen = json.load(f)["generation"]
    rel = sorted(_manifest(table, gen)["buckets"].values())[0]
    path = sorted(glob.glob(os.path.join(table, rel, "*.parquet")))[0]
    tbl = pq.read_table(path)
    col = tbl.schema.get_field_index("version_")
    bumped = pc.add(tbl["version_"], 1000)
    pq.write_table(tbl.set_column(col, tbl.schema.field(col), bumped), path)
    # Hadoop's local file system would reject the rewrite by its checksum
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def traced_metrics(wl: Workload, m: dict) -> None:
    """Per-layer metrics of the traced half of the timed phase."""
    tr = wl.tracer
    since = wl.perf_half
    merges = wl.layer_metrics(m)
    ops = wl.traced_ops()
    # self time per layer, per operation of the trace kind it ran under
    # (chunk, trigger, req)
    kinds: dict[str, set[str]] = {}
    for s in tr.spans:
        if s.start >= since:
            kinds.setdefault(s.trace_id.split(":")[0], set()).add(s.trace_id)
    for i, s in enumerate(tr.spans):
        if s.start >= since and s.end:
            n = len(kinds[s.trace_id.split(":")[0]])
            key = f"self.{LAYER_OF.get(s.name, s.name)}_ms"
            m[key] = m.get(key, 0.0) + tr.self_time(i) * 1000.0 / n
    build = [i for i, s in enumerate(tr.spans)
             if s.start >= since and s.trace_id.split(":")[0] in ("chunk", "trigger")
             and LAYER_OF.get(s.name) == "pipeline.ingest"]
    m["ingest.build_ms"] = sum(tr.spans[i].dur for i in build) * 1000.0 / (
        len({tr.spans[i].trace_id for i in build}) or 1)  # per chunk / trigger
    for k in ("jvm", "driver_py", "workers_py"):
        m[f"cpu.{k}_s_per_op"] = (wl.cpu_end[k] - wl.cpu_half[k]) / ops

    jobs, stages = host.rest_jobs(wl.spark)
    groups = wl.job_groups()
    for k, v in host.job_counts(jobs, stages, groups).items():
        m[f"spark.{k}_per_op"] = v / ops
    # jobs submitted while a merge span was open (restricted to the
    # traced groups: the gold stream runs concurrently)
    offset = time.time() - time.perf_counter()
    win = [(tr.spans[i].start + offset, tr.spans[i].end + offset) for i in merges]
    m["silver.merge_jobs"] = sum(
        1 for j in jobs
        if j.get("jobGroup") in groups and "submissionTime" in j
        and any(a - 0.002 <= _utc_ts(j["submissionTime"]) <= b + 0.002 for a, b in win)
    ) / (len(merges) or 1)

    untraced = [x for t, _, x in wl.samples if t < wl.t_half]
    traced = [x for t, _, x in wl.samples if t >= wl.t_half]
    m["trace.untraced_p50_ms"] = percentile(untraced, 50)
    m["trace.traced_p50_ms"] = percentile(traced, 50)
    if untraced:
        base = m["trace.untraced_p50_ms"]
        m["trace.overhead_p50_pct"] = 100.0 * (m["trace.traced_p50_ms"] - base) / base


def main(workload: str, inputs: str, seconds: float, trace: bool, spawn_ts: float) -> None:
    from huracan_spark.session import get_spark

    tracer = Tracer() if trace else None
    wl = WORKLOADS[workload](None, inputs, seconds, tracer)
    # The set-up (session start, then the workload's table seeded by
    # run_backfill) runs SETUPS times; setup_s is the median.  The first
    # one is cold: it counts from the spawn of this process, so it also
    # holds the interpreter, the JVM launch and the JIT warm-up.  Later
    # ones stop the session and build a new one in the same JVM.
    # A traced run reports no setup_s, so it sets up once.
    setups: list[float] = []
    t_wall = spawn_ts
    for i in range(1 if trace else SETUPS):
        t = time.perf_counter()
        if wl.spark is not None:
            wl.spark.stop()
        wl.spark = get_spark("perfbench")
        wl.spark.range(1).count()
        start_s = time.perf_counter() - t
        wl.seed()
        setups.append(time.time() - t_wall)
        t_wall = time.time()
        if i == 0:
            session_start_s, seed_s = start_s, time.perf_counter() - t - start_s
    spark = wl.spark
    log("set-ups done: " + ", ".join(f"{x:.2f}s" for x in setups))
    t = time.perf_counter()
    wl.prepare()
    warmup_s = seed_s + time.perf_counter() - t
    log("warm-up done")

    calib_before = host.calibrate_ms()
    ticks = host.cpu_ticks()
    cpu0 = host.process_cpu(host.jvm_pid(spark))
    t = time.perf_counter()
    wl.run()
    timed_s = time.perf_counter() - t
    log("timed phase done")
    if not hasattr(wl, "cpu_end"):
        wl.cpu_end = host.process_cpu(host.jvm_pid(spark))
    steal = host.steal_pct(ticks, host.cpu_ticks())
    calib_after = host.calibrate_ms()

    t = time.perf_counter()
    per_layer: dict[str, float] = {}
    if tracer is not None:
        traced_metrics(wl, per_layer)
        # after the workload's metrics are taken: silverq queries call
        # SilverTable.merge and read, and must not count as the workload's
        wl.sample = QuerySample(wl.spark, tracer, inputs)
        wl.sample.run()
        wl.sample.layer_metrics(per_layer)
        log("query sample done")
        with open(os.path.join(wl.out, "spans.json"), "w") as f:
            json.dump(tracer.dump(), f)
        tracer.uninstall()
    if os.environ.get("PERFBENCH_CORRUPT_SILVER") == "1":
        corrupt_silver(wl.silver.path)
    wl.finish()
    if tracer is not None and isinstance(wl, Backfill):
        per_layer["backfill.changes_per_s_1core"] = wl.one_core_pass()
    wl.spark.stop()
    post_s = time.perf_counter() - t

    ops = len(wl.samples) or 1
    result = {
        "attempted": wl.attempted,
        "failed": wl.failed,
        "samples": wl.samples,
        "setup_s": statistics.median(setups),
        "setups_s": setups,
        "timed_s": timed_s,
        "post_s": post_s,
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "host.steal_pct": steal,
        "host.calib_ms": (calib_before + calib_after) / 2,
        "host.calib_before_ms": calib_before,
        "host.calib_after_ms": calib_after,
        "cpu_per_op": {k: (wl.cpu_end[k] - cpu0[k]) / ops for k in cpu0},
        "cpu_s": sum(wl.cpu_end[k] - cpu0[k] for k in cpu0),
        "changes": wl.changes,
        "report": wl.report,
        "per_layer": per_layer,
    }
    with open(os.path.join(wl.out, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    import signal

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = sys.argv[1:]
    main(a[0], a[1], float(a[2]), a[3] == "1", float(a[4]))
