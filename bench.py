"""Benchmark runner: all registered queries at $SPARK_GRAFT_SF_DIR.

Prints the full result JSON line (queries + groups maps) first, then a
COMPACT summary as the FINAL stdout line:
  {"metric": ..., "value": total_sec, "unit": "sec", "n_queries": N,
   "n_groups": G, "queries_total": Q, "groups_total": B, "sf": ...,
   "cpus": C, "detail": "BENCH_DETAIL.json"}
The full per-query/per-group maps are also written to the sidecar file
``BENCH_DETAIL.json`` next to this script.  Rationale: the driver's
bench capture keeps only a 2000-char stdout tail — a ~218-entry query
map overflows it and the official record parsed as null for six
straight rounds.  The compact last line always fits the tail; the
sidecar (committed with the round) carries the machine-readable detail.
Only the committed configuration, 32 cores at sf0.1, writes
``BENCH_DETAIL.json``; any other writes ``BENCH_DETAIL_c{cpus}_sf{sf}.json``
so a side run never overwrites the committed artifact, and
``SPARK_GRAFT_BENCH_DETAIL_OUT`` names the file explicitly.  ``cpus`` is
the Spark session's default parallelism.

Each query is fully executed (count + collect of a bounded head) so
lazy plans can't cheat; per-query wall time includes planning +
execution.

``SPARK_GRAFT_BENCH_REPEAT=N`` (default 2 since round 8 — r7 VERDICT:
a single pass left 11 queries reading >2x their floor on pure GC
scatter; per-query minima kill that class at the source for ~3 extra
minutes) runs the whole suite N times in one JVM and reports each
query's MINIMUM — the BASELINE.md floor-measurement methodology (GC
stalls land on random queries, so per-query minima over repeats are
the stable signal; a single-run total scatters with ambient load).
``value`` is then the sum of minima and the line carries "repeat": N.
Caveat (BASELINE.md): shared (app, sf) materializations amortize
across in-JVM repeats, so group builds are still the first pass's —
true first-consumer floors need separate processes.

Shared-materialization attribution: pipelines built ONCE per (app,
sf_dir) — dedup label tables, silver on-disk drives, the streaming
staging run — report their one-time build cost under ``groups``
(first-consumer attribution via ``queries/matcost.py``), and the
member queries' numbers are the steady cached-read costs.  Without
this, whichever member ran first absorbed the whole build in its
number while the published floor (a warm-cache minimum) didn't, and
every bench diff flagged phantom ">100x" regressions on it.
``value`` = sum of per-query times + sum of group build costs.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = max(int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2")), 1)
    from huracan_spark.queries.registry import REGISTRY, spark_queries
    from huracan_spark.session import get_spark

    spark_queries()
    spark = get_spark("huracan-bench")
    # r8 ADVICE: the repeat default changed 1 -> 2 (per-query minima);
    # announce the effective value up front so older tooling comparing
    # wall-clock totals sees why the suite runs ~2x longer
    print(
        f"[bench] sf_dir={sf_dir} repeat={repeat} "
        "(per-query minima over repeats; SPARK_GRAFT_BENCH_REPEAT overrides)",
        flush=True,
    )

    # measurement methodology (warm-up, noop sink, group attribution,
    # min fold, cache hygiene) lives in benchlib so the scale rehearsal
    # measures IDENTICALLY — exponents stay comparable to these floors
    from huracan_spark.benchlib import measure_queries

    per_query, groups = measure_queries(
        spark, sf_dir, sorted(REGISTRY), repeat=repeat
    )
    total = round(sum(per_query.values()) + sum(groups.values()), 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = spark.sparkContext.defaultParallelism
    out = {
        "metric": "huracan_spark_query_suite",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "groups": groups,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    if repeat > 1:
        out["repeat"] = repeat
    print(json.dumps(out))

    # sidecar with the full maps + compact FINAL line (see module doc).
    # The sidecar write must NEVER prevent the final summary line — a
    # disk-full/read-only failure here would reproduce the exact
    # truncated-record problem the summary line exists to fix.
    # Only the committed configuration (32 cores, sf0.1) writes
    # BENCH_DETAIL.json: an 8-core run overwrote it in r10.
    detail_name = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL_OUT",
        "BENCH_DETAIL.json"
        if (cpus, out["sf"]) == (32, 0.1)
        else f"BENCH_DETAIL_c{cpus}_sf{sf}.json",
    )
    try:
        detail_path = (
            detail_name
            if os.path.isabs(detail_name)
            else os.path.join(
                os.path.dirname(os.path.abspath(__file__)), detail_name
            )
        )
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError as e:
        detail_name = f"UNWRITABLE ({e})"
    summary = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "n_queries": len(per_query),
        "n_groups": len(groups),
        "queries_total": round(sum(per_query.values()), 4),
        "groups_total": round(sum(groups.values()), 4),
        "sf": out["sf"],
        "cpus": cpus,
        "detail": detail_name,
    }
    if repeat > 1:
        summary["repeat"] = repeat
    print(json.dumps(summary))


if __name__ == "__main__":
    sys.exit(main())
