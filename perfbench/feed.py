"""Open-loop feed generator for the live_ingest workload.

Runs as its own process, so a stalled pipeline cannot slow it down.
It stamps each pre-built checkpoint file with its scheduled drop time,
stages all of them before the first is due, then renames file ``i``
into the feed directory at ``t0 + i * period``.  The rename is atomic,
so the stream never lists a half-written file.

    python3 perfbench/feed.py TEMPLATE_DIR STAGE_DIR FEED_DIR T0 PERIOD OUT_JSON

``ts_first_seen`` in a template holds each row's offset in ms from the
drop time; the stamped file carries ``drop_ms + offset``.  OUT_JSON gets
``[[file, scheduled_s, renamed_s], ...]``.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def main(template_dir: str, stage_dir: str, feed_dir: str, t0: float,
         period: float, out_json: str) -> None:
    names = sorted(os.listdir(template_dir))
    os.makedirs(stage_dir, exist_ok=True)
    os.makedirs(feed_dir, exist_ok=True)
    for i, name in enumerate(names):
        tbl = pq.read_table(os.path.join(template_dir, name))
        drop_ms = int((t0 + i * period) * 1000)
        col = tbl.schema.get_field_index("ts_first_seen")
        stamped = pc.add(tbl["ts_first_seen"], pa.scalar(drop_ms, pa.int64()))
        tbl = tbl.set_column(col, tbl.schema.field(col), stamped)
        pq.write_table(tbl, os.path.join(stage_dir, name), compression="zstd")
    log = []
    for i, name in enumerate(names):
        due = t0 + i * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(stage_dir, name), os.path.join(feed_dir, name))
        log.append([name, due, time.time()])
    with open(out_json, "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    a = sys.argv[1:]
    main(a[0], a[1], a[2], float(a[3]), float(a[4]), a[5])
