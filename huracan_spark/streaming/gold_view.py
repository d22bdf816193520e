"""Gold-layer aggregate maintained from the silver CDF STREAM.

The medallion pattern's last hop, and the one maintainer of the gold
view: a downstream consumer — decoupled from the ingest process —
subscribes to the silver table's change feed
(``sources/silver_cdf_source.py``, preimages on) and folds each
micro-batch into a persisted grouped aggregate.  It needs NOTHING but
the feed: preimage and ``drop`` rows carry the old payload for the
-old adjustment, postimage rows the +new — so the view refresh is
|groups| + |delta| rows of pure stream input, and the gold job can run
on a different schedule, cluster, or team than the ingest.  The sign
rule and re-aggregate are ``pipeline/incr_view.py::fold_changes``.

Replay safety: foreachBatch can re-deliver a committed batch after a
restart; a batch-id marker makes the fold idempotent (the standard
exactly-once foreachBatch pattern).  The refreshed view is written to
a sibling dir and swapped in (the lineage reads the live dir, so an
in-place overwrite would race it — see CLAUDE.md; the swap replaces
the old localCheckpoint-then-overwrite pair, saving one job and one
full view materialization per trigger).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from huracan_spark.pipeline.incr_view import fold_changes

__all__ = ["run_gold_view", "read_gold_view"]


def run_gold_view(
    spark: SparkSession,
    table_path: str,
    view_dir: str,
    group_col: str,
    value_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    from huracan_spark.sources.silver_cdf_source import (
        register_silver_cdf_source,
    )

    register_silver_cdf_source(spark)
    os.makedirs(view_dir, exist_ok=True)
    feed = (
        spark.readStream.format("silver_cdf")
        .option("path", table_path)
        .option("starting", "earliest")
        .option("preimages", "true")
        .load()
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # ONE job per trigger (r11, guide §1.4): batch_df is referenced
        # exactly once (the adjustment aggregate), so no persist is
        # needed (the r5 multi-action re-evaluation hazard only exists
        # with >1 reference); the refreshed view writes to a sibling
        # dir swapped in afterwards, so the lineage never reads the dir
        # being replaced — the old localCheckpoint-then-overwrite pair
        # cost a second job and a full extra materialization of the
        # view per trigger.
        import shutil

        marker = os.path.join(view_dir, "_LAST_BATCH")
        last = -1
        if os.path.exists(marker):
            with open(marker) as f:
                last = json.load(f)["batch_id"]
        if batch_id <= last:
            return  # replayed batch after restart — already folded
        data_dir = os.path.join(view_dir, "data")
        old = data_dir + ".old"
        if not os.path.isdir(data_dir) and os.path.isdir(old):
            os.rename(old, data_dir)  # crashed mid-swap: recover
        folded = fold_changes(None, batch_df, group_col, value_col)
        if os.path.isdir(data_dir):
            # the view's schema is the fold's output schema, known from
            # analysis alone: reading with it skips the 1-task parquet
            # schema-inference job per trigger
            view = batch_df.sparkSession.read.schema(folded.schema).parquet(
                data_dir
            )
            folded = fold_changes(view, batch_df, group_col, value_col)
        tmp = data_dir + ".tmp"
        folded.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(data_dir):
            os.rename(data_dir, old)
        os.rename(tmp, data_dir)
        shutil.rmtree(old, ignore_errors=True)
        with open(marker + ".tmp", "w") as f:
            json.dump({"batch_id": batch_id}, f)
        os.replace(marker + ".tmp", marker)

    writer = (
        feed.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime="1 second")
    )
    return writer.start()


def read_gold_view(spark: SparkSession, view_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(view_dir, "data"))
