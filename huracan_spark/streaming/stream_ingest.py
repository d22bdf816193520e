"""Structured Streaming ingest driver (S1/M1/M2 -> K1..K7).

The reference's livescan pipeline (etl.rs §3.1) as one streaming query:

    readStream(change feed)               # S1 poll / S2 livescan
      -> unionByName(second feed)         # M1 poll+livescan merge
      -> watermark + dropDuplicatesWithinWatermark   # M2/M3
      -> foreachBatch:                    # the pipeline tail
           enrich join (S6/P2/P3/P4)
           versioned MERGE into silver (K1/K2)
           DLQ append (K7)
           completed-checkpoint append (K5/K6)

The gold view is not maintained here: ``streaming/gold_view.py``
folds the silver change feed downstream, as a stream of its own.

Everything inside foreachBatch reuses the SAME batch transform chain
(pipeline/ingest.py) — one code path, two drivers, mirroring the
reference's shared tail between livescan and backfill
(etl.rs:93-98 vs 102+).

Exactly-once: the MERGE is idempotent and order-independent (K1), so
micro-batch replays after failure/restart converge — the reference's
explicit design stance (etl.rs:1245-1247 tolerates at-least-once).

Scale notes: the file source here stands in for Kafka/Kinesis; state
for dedup is bounded by the watermark horizon (the 120-checkpoint GC
analog, etl.rs:306); per-micro-batch work is the batch pipeline, so
all its partitioning properties carry over.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from huracan_spark.pipeline.ingest import (
    build_silver_batch,
    checkpoint_completion,
    enrich,
    parse_changes,
)
from huracan_spark.pipeline.silver import SilverTable
from huracan_spark.schemas import OBJECT_CHANGE_SCHEMA

__all__ = ["StreamConfig", "changes_file_stream", "run_stream"]


# Dedup-state horizon: the reference GCs its digest-reconciliation map
# after 120 checkpoints (etl.rs:306); with ~1 cp/s that's ~2 minutes.
DEDUP_WATERMARK = "120 seconds"


@dataclass
class StreamConfig:
    checkpoint_dir: str
    dlq_dir: str | None = None
    completed_dir: str | None = None
    max_files_per_trigger: int | None = None
    whitelist: list[str] | None = None
    blacklist: list[str] | None = None
    available_now: bool = True  # False => continuous micro-batches
    trigger_interval: str = "100 milliseconds"  # pollintervalms analog
    extra_sources: list[DataFrame] = field(default_factory=list)
    # True => applyInPandasWithState per-id version high-water mark
    # (corrected etl.rs:967-969 semantics) instead of watermark dedup
    version_aware_dedup: bool = False
    # CHECK-constraint disposition for each micro-batch MERGE (DLT
    # expectations in the loop): "fail" stops the stream on a bad row,
    # "drop" discards violations, "quarantine" routes them to the
    # table-local quarantine for replay/audit (K7 at the sink edge)
    merge_on_violation: str = "fail"
    # auto-OPTIMIZE: when the manifest references more than this many
    # generations, compact + vacuum inside the loop (bounds read
    # fan-in and disk growth on a continuous stream).  None = never.
    # Caveat: vacuum trims time-travel depth to vacuum's keep window.
    auto_compact_refs: int | None = None
    # physical MERGE strategy per micro-batch: "cow" rewrites touched
    # buckets (reads stay reconciliation-free); "mor" appends the
    # batch as per-bucket delta layers — O(batch) write IO, the right
    # trade for high-frequency small batches.  Pair "mor" with
    # auto_compact_refs so reconciliation depth stays bounded.
    merge_write_mode: str = "cow"


def changes_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1/S2 source: a directory of parquet change files as a stream.
    In production this is Kafka; the schema contract is identical."""
    reader = spark.readStream.schema(OBJECT_CHANGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_stream(
    spark: SparkSession,
    changes: DataFrame,
    content: DataFrame,
    silver: SilverTable,
    cfg: StreamConfig,
) -> StreamingQuery:
    """Wire the full streaming pipeline and start it."""
    merged = changes
    for extra in cfg.extra_sources:  # M1: poll + livescan union
        merged = merged.unionByName(extra)

    if cfg.version_aware_dedup:
        # M3 corrected semantics (streaming/stateful.py): per-object
        # version high-water mark across micro-batches — subsumes
        # exact-duplicate dropping AND sheds stale versions before the
        # sink, cutting MERGE input at the cost of per-id state.
        from huracan_spark.streaming.stateful import dedup_latest_version_stream

        # P1 triage MUST precede version dedup here: if an object's
        # highest version is a wrapped/transferred/published change,
        # the high-water mark would otherwise swallow its keepable
        # lower-version changes and the object would never land.
        # state GC only for continuous mode; with availableNow a
        # pending timeout would keep the drain loop alive forever
        from huracan_spark.schemas import KEPT_CHANGE_TYPES

        deduped = dedup_latest_version_stream(
            merged.filter(F.col("change_type").isin(*KEPT_CHANGE_TYPES)),
            state_timeout_ms=None if cfg.available_now else 3_600_000,
        )
    else:
        # M2/M3: watermarked dedup on the logical change key.  Event
        # time is ingest time (ts_first_seen, epoch ms).
        deduped = (
            merged.withColumn(
                "_event_time", F.timestamp_millis(F.col("ts_first_seen"))
            )
            .withWatermark("_event_time", DEDUP_WATERMARK)
            .dropDuplicatesWithinWatermark(["object_id", "version", "change_type"])
            .drop("_event_time")
        )

    def _process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # materialize the micro-batch ONCE: the tail runs several
        # actions (merge, DLQ, completion) and re-evaluating the input
        # would re-execute upstream stateful operators against
        # already-advanced state (crashes the pandas-with-state path,
        # and triple-reads the source on the watermark path)
        batch_df = batch_df.persist()
        res = None
        try:
            parsed = parse_changes(batch_df)
            # cache_join: merge / DLQ / completion are separate actions
            # over the same enrichment join — one pass per trigger
            res = enrich(
                parsed, content, cfg.whitelist, cfg.blacklist,
                cache_join=True,
            )
            silver.merge(
                build_silver_batch(res.enriched),
                on_violation=cfg.merge_on_violation,
                write_mode=cfg.merge_write_mode,
            )
            if cfg.auto_compact_refs is not None:
                silver.maybe_optimize(cfg.auto_compact_refs)
            if cfg.dlq_dir:
                res.dlq.write.mode("append").parquet(cfg.dlq_dir)
            if cfg.completed_dir:
                # pre-triage batch_df, not parsed: all-dropped cps
                # still complete (version_aware mode triages upstream
                # of the micro-batch, so there batch_df is the best
                # observable input)
                done = checkpoint_completion(batch_df, res.dlq)
                done.write.mode("append").parquet(cfg.completed_dir)
        finally:
            if res is not None and res.cached is not None:
                res.cached.unpersist()
            batch_df.unpersist()

    writer = (
        deduped.writeStream.foreachBatch(_process_batch)
        .option("checkpointLocation", cfg.checkpoint_dir)
        # the stateful high-water-mark op declares append semantics;
        # foreachBatch itself is mode-agnostic
        .outputMode("append" if cfg.version_aware_dedup else "update")
    )
    if cfg.available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=cfg.trigger_interval)
    return writer.start()
