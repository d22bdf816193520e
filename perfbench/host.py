"""Host and process probes: CPU steal, a calibration loop, CPU time of
this Python process, the JVM and the Python workers, and Spark job counts.

Steal and the calibration loop are reported with every run but are not
end-to-end metrics: they show whether a spread between runs comes from
the host (steal rises, the calibration loop slows) or from the program.
"""

from __future__ import annotations

import json
import os
import time
from urllib.request import urlopen

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def calibrate_ms(iters: int = 1_000_000) -> float:
    """Wall ms of a fixed single-thread Python loop."""
    t = time.perf_counter()
    x = 0
    for i in range(iters):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1000.0


def _proc_cpu_s(pid: int) -> tuple[float, int]:
    """(user+system seconds incl. reaped children, ppid) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK, int(fields[1])


def process_cpu(jvm_pid: int) -> dict[str, float]:
    """CPU seconds of this Python process, the JVM, and the JVM's descendant
    processes (the Python workers)."""
    t = os.times()
    procs: dict[int, tuple[float, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _proc_cpu_s(int(d))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                pass
    workers = 0.0
    for pid, (cpu, ppid) in procs.items():
        p = ppid
        while p > 1 and p != jvm_pid:
            p = procs.get(p, (0.0, 0))[1]
        if p == jvm_pid and pid != jvm_pid:
            workers += cpu
    return {
        "driver_py": t.user + t.system,
        "jvm": procs.get(jvm_pid, (0.0, 0))[0],
        "workers_py": workers,
    }


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def rest_jobs(spark) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the UI's REST API; UI must be on."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urlopen(f"{base}/jobs") as r:
        jobs = json.load(r)
    with urlopen(f"{base}/stages") as r:
        stages = {s["stageId"]: s for s in json.load(r)}
    return jobs, stages


def job_counts(jobs: list[dict], stages: dict[int, dict], groups) -> dict[str, float]:
    """Jobs, stages, tasks and shuffle-write bytes of the jobs whose
    group is in ``groups`` (skipped stages are not counted)."""
    groups = set(groups)
    sel = [j for j in jobs if j.get("jobGroup") in groups]
    n_stages = n_tasks = shuffle = 0
    for j in sel:
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or st.get("status") == "SKIPPED":
                continue
            n_stages += 1
            n_tasks += st.get("numTasks", 0)
            shuffle += st.get("shuffleWriteBytes", 0)
    return {"jobs": len(sel), "stages": n_stages, "tasks": n_tasks, "shuffle_bytes": shuffle}
