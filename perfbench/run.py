"""Benchmark entry point for the huracan-spark indexer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One invocation = one run of one
workload: generate the seeded inputs (before the measured process, so
generation stays out of ``setup_s``), start a fresh measured process
(``measure.py``) with a pinned environment, check its outputs against
the DuckDB oracle (``oracle.py``), and print one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer metrics.  A fuller
report (host noise, per-class latencies, tails with sample counts,
environment) goes to stderr.  Exit code 0 when the outputs are correct,
1 when the oracle finds a wrong result, 2 when the run cannot start.
See perfbench/NOTES.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170.0

#: input sizes per workload; ``small`` is what the benchmark's own tests run
SIZES = {
    "full": {
        "backfill": {"objects": 2_500, "checkpoints": 300, "chunks": 3,
                     "warm_objects": 500, "cycles": 2},
        "live_ingest": {"per_cp": 30, "seed_cps": 50},
        "query_modules": None,  # all of them
    },
    "small": {
        "backfill": {"objects": 600, "checkpoints": 40, "chunks": 2,
                     "warm_objects": 300, "cycles": 1},
        "live_ingest": {"per_cp": 10, "seed_cps": 20},
        "query_modules": 3,
    },
}
WORKLOADS = ("backfill", "live_ingest")


def _load_benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- input generation ----------------------------------------------------
def _split_chunks(hist, n_cp: int, k: int, out_dir: str) -> None:
    from perfbench.gen import write

    bounds = [1 + (n_cp * i) // k for i in range(k)] + [n_cp + 1]
    for i in range(k):
        write(hist.chunk(bounds[i], bounds[i + 1]),
              os.path.join(out_dir, f"chunk_{i:02d}.parquet"))


def gen_backfill(seed: int, size: dict, work: str) -> None:
    from perfbench.gen import make_history, write

    warm = make_history(seed + 1_000_003, size["warm_objects"], 40)
    _split_chunks(warm, 40, 2, os.path.join(work, "warm"))
    write(warm.content, os.path.join(work, "warm", "content.parquet"))
    hist = make_history(seed, size["objects"], size["checkpoints"])
    _split_chunks(hist, size["checkpoints"], size["chunks"], os.path.join(work, "chunks"))
    write(hist.content, os.path.join(work, "content.parquet"))
    gen_requests(seed, hist, size["cycles"], os.path.join(work, "requests.json"))


def gen_live(seed: int, size: dict, work: str, seconds: float) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc

    from perfbench.gen import make_history, write

    s = size["seed_cps"]
    n_cp = s + 1 + int(seconds)
    # ~2.85 change rows per object (versions, duplicates, P1 noise)
    hist = make_history(seed, max(int(size["per_cp"] * n_cp / 2.85), 50), n_cp)
    write(hist.content, os.path.join(work, "content.parquet"))
    # checkpoints 1..s seed the table; then one warm-up checkpoint and
    # one feed file per timed checkpoint
    write(hist.chunk(1, s + 1), os.path.join(work, "seed.parquet"))
    for cp in range(s + 1, n_cp + 1):
        sub = "warm_templates" if cp == s + 1 else "templates"
        tbl = hist.chunk(cp, cp + 1)
        # ts_first_seen becomes the offset from the drop time; feed.py
        # stamps drop_ms + offset when it stages the file
        ts = tbl["ts_first_seen"]
        off = pc.min_element_wise(pc.subtract(ts, pc.min(ts)), pa.scalar(999, pa.int64()))
        tbl = tbl.set_column(tbl.schema.get_field_index("ts_first_seen"),
                             tbl.schema.field("ts_first_seen"), off)
        write(tbl, os.path.join(work, sub, f"cp-{cp:06d}.parquet"))


def gen_requests(seed: int, hist, cycles: int, path: str) -> None:
    """The API request mix, ten kinds per cycle, keys Zipf-skewed over a
    seeded permutation of what the history contains."""
    import numpy as np
    import pyarrow.compute as pc

    from perfbench.gen import DYNFIELD_TYPES

    rng = np.random.default_rng(seed + 7)
    content = hist.content.to_pandas()

    def zipf_pick(pool, k: int = 1):
        w = 1.0 / np.arange(1, len(pool) + 1) ** 1.1
        idx = rng.choice(len(pool), size=min(k, len(pool)), replace=False, p=w / w.sum())
        return [str(x) for x in np.asarray(pool)[idx]]

    ids = rng.permutation(pc.unique(hist.changes["object_id"]).to_numpy(zero_copy_only=False))
    owners = rng.permutation(content["owner_address"].dropna().unique())
    dyn = content[content["object_type"].isin(DYNFIELD_TYPES)]
    latest = dyn.sort_values("version").groupby("object_id").tail(1)
    values = rng.permutation(
        latest["fields_json"].str.extract(r'"value": (\d+)\}$')[0].dropna().unique())
    parents = rng.permutation(dyn["owner_address"].unique())
    prefixes = rng.permutation(sorted({"::".join(t.split("::")[:2])
                                       for t in content["object_type"].unique()}))
    requests = []
    for _ in range(cycles):
        requests += [
            {"kind": "object", "arg": zipf_pick(ids)[0]},
            {"kind": "owner", "arg": zipf_pick(owners)[0]},
            {"kind": "objects_ids", "arg": zipf_pick(ids, 5)},
            {"kind": "type", "arg": zipf_pick(prefixes)[0]},
            {"kind": "read_key_bucket", "arg": zipf_pick(ids)[0]},
            {"kind": "owners", "arg": zipf_pick(owners, 3)},
            {"kind": "dynamic_field_value", "arg": zipf_pick(values)[0]},
            {"kind": "types", "arg": zipf_pick(prefixes, 2)},
            {"kind": "dynamic_fields", "arg": zipf_pick(parents, 3)},
            {"kind": "read_where", "arg": [
                ["Shared", "AddressOwner", "Immutable"][int(rng.integers(0, 3))],
                int(rng.integers(14, 20))]},
        ]
    with open(path, "w") as f:
        json.dump(requests, f)


def gen_queries(seed: int, workload: str, modules: int | None, work: str) -> None:
    """The traced run's query sample.  The seed picks one registered query
    with oracle SQL from each module of ``huracan_spark/queries``; the
    traced backfill run takes the picks of every other module in name
    order, the traced live run the rest.  They run over a star-schema
    sample made from the same seed."""
    import numpy as np

    from huracan_spark.queries.registry import REGISTRY, spark_queries
    from perfbench.stargen import write_tables

    spark_queries()  # imports every module, so all are registered
    by_module: dict[str, list[str]] = {}
    for name, spec in sorted(REGISTRY.items()):
        if spec.oracle is not None:
            by_module.setdefault(spec.fn.__module__, []).append(name)
    rng = np.random.default_rng(seed + 11)
    picks = [str(rng.choice(by_module[m])) for m in sorted(by_module)]
    part = WORKLOADS.index(workload)
    names = picks[part::len(WORKLOADS)][:modules]
    with open(os.path.join(work, "queries.json"), "w") as f:
        json.dump(names, f)
    write_tables(seed, os.path.join(work, "star"))


def generate(workload: str, seed: int, seconds: float, trace: bool, work: str,
             size: dict) -> None:
    if workload == "backfill":
        gen_backfill(seed, size[workload], work)
    else:
        gen_live(seed, size[workload], work, seconds)
    if trace:
        gen_queries(seed, workload, size["query_modules"], work)


# -- the measured process ------------------------------------------------
def pinned_env(trace: bool) -> dict[str, str]:
    """Session environment, identical on every commit measured."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    })
    for k in ("SPARK_GRAFT_INIT_PARTITIONS", "SPARK_GRAFT_ON_CLUSTER",
              "SPARK_GRAFT_DRIVER_JAVA_OPTS"):
        env.pop(k, None)
    return env


def measure(workload: str, work: str, seconds: float, trace: bool, deadline: float) -> dict:
    env = pinned_env(trace)
    # keep every scratch file of the run inside the work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log_path = os.path.join(work, "measure.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measure.py"), workload, work,
             repr(seconds), "1" if trace else "0", repr(time.time())],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.terminate()  # lets it stop the feeder and its JVM
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    if rc != 0:
        with open(log_path) as f:
            # drop JVM stack frames and warnings so the Python traceback shows
            lines = [ln for ln in f.read().splitlines()
                     if "WARN" not in ln and not ln.startswith(("\tat ", "\t..."))]
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise RuntimeError(f"measured process failed (exit {rc})")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


# -- oracle --------------------------------------------------------------
def check(work: str) -> dict[str, int]:
    from perfbench import oracle

    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle.json")) as f:
        spec = json.load(f)
    con = oracle.connect(spec["changes"], spec["content"])
    bad = {"silver_rows": oracle.state_mismatches(con, os.path.join(out, "silver"))}
    if "view" in spec:
        bad["view_groups"] = oracle.view_mismatches(
            con, os.path.join(out, "view"), *spec["view"])
    if "responses" in spec:
        bad["responses"] = oracle.response_mismatches(con, spec["responses"])
    con.close()
    if "queries" in spec:
        bad["queries"] = oracle.query_mismatches(spec["star"], spec["queries"])
    return bad


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    # SIGTERM unwinds through the finally blocks that stop the measured
    # process and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    deadline = t_start + TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, "huracan_spark")):
        print(f"perfbench: no huracan_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    bench = _load_benchmark_json()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        generate(args.workload, args.seed, args.seconds, bool(args.trace), work,
                 SIZES[args.size])
        gen_s = time.time() - t
        res = measure(args.workload, work, args.seconds, bool(args.trace), deadline)
        bad = check(work)
        if args.trace:
            # the traced run's spans outlive its work directory
            os.replace(os.path.join(work, "out", "spans.json"), os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"] + sum(1 for v in bad.values() if v)
    lat = [s[2] for s in res["samples"]]
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "gen_s": gen_s, "wall_s": time.time() - t_start,
        "oracle_mismatches": bad,
        "env": {k: v for k, v in pinned_env(bool(args.trace)).items()
                if k.startswith("SPARK_GRAFT") or k == "PYSPARK_PYTHON"},
        "host": {k: res[k] for k in ("host.steal_pct", "host.calib_ms",
                                     "host.calib_before_ms", "host.calib_after_ms")},
        "setups_s": res["setups_s"], "n_ops": len(lat), "p50_ms": statistics.median(lat) if lat else None,
        "latencies_ms": lat, "timed_s": res["timed_s"], "post_s": res["post_s"],
        "session.start_s": res["session.start_s"],
        "session.warmup_s": res["session.warmup_s"], "cpu_per_op": res["cpu_per_op"],
        "cpu_s": res["cpu_s"], "changes": res["changes"],
        **res["report"],
    }
    print(json.dumps(report, default=str), file=sys.stderr)

    if args.trace:
        metrics = dict(res["per_layer"])
        metrics.update({
            "session.start_s": res["session.start_s"],
            "session.warmup_s": res["session.warmup_s"],
            "host.steal_pct": res["host.steal_pct"],
            "host.calib_ms": res["host.calib_ms"],
            "gen.lateness_p99_ms": res["report"].get("gen.lateness_p99_ms", 0.0),
        })
        wanted = bench["per_layer"]
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "cpu_ms_per_change": (1000.0 * res["cpu_s"] / res["changes"]
                                  if res["changes"] else 0.0),
        }
        wanted = bench["end_to_end"]
    out = {
        "correct": failed == 0 and bool(lat),
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
