"""Incremental view maintenance over the silver table's change feed.

A downstream aggregate (per-group COUNT / SUM over the silver current
state) stays correct WITHOUT rescanning the table: each commit's change
rows are folded into the materialized view as +new/-old adjustments.
This is the lakehouse "materialized view maintained from CDF" pattern
(the reference recomputes its stats queries from scratch each call —
SURVEY §2.6); at 100 TB the full-state rollup is a one-time backfill
and every subsequent refresh touches only changed buckets.

``fold_changes`` is the one fold.  It takes change rows in the CDF
stream's vocabulary (``sources/silver_cdf_source.py``, preimages on)
and signs each row's payload:

- ``insert`` / ``update_postimage``              -> +1 row, +value
- ``update_preimage`` / ``delete_preimage`` / ``drop`` (the vanished
  key's old payload, e.g. after a RESTORE)      -> -1 row, -value
- ``delete`` (tombstone postimage)              -> 0

Tombstone payloads carry no live mass and are filtered first.  The
gold stream (``streaming/gold_view.py``) folds its micro-batches with
it; ``refresh_view`` folds ``SilverTable.changes`` between two
generations — the batch twin of the stream's rows — with it.  The view
is itself a tiny grouped table, so a refresh is a join-free union +
re-aggregate over |groups| + |delta| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from huracan_spark.pipeline.silver import SilverTable

__all__ = ["fold_changes", "grouped_view", "refresh_view"]


def grouped_view(state: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Full recompute of the aggregate view (the backfill path, and the
    convergence oracle for the incremental path).  Tombstones carry no
    live payload and are excluded."""
    return (
        state.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(value_col).alias("sum_value"),
        )
    )


def fold_changes(
    view: DataFrame | None,
    changes: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """``view`` (None = empty) plus the signed live payloads of the
    ``changes`` rows (``_change_type``, ``deleted``, group and value
    columns), re-aggregated per group; groups whose count reaches zero
    are removed."""
    ct = F.col("_change_type")
    sign = (
        F.when(ct.isin("insert", "update_postimage"), F.lit(1))
        .when(ct.isin("update_preimage", "delete_preimage", "drop"), F.lit(-1))
        .cast("long")
    )
    adj = (
        changes.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
        .select(group_col, sign.alias("n_rows"), value_col)
        .filter(F.col("n_rows").isNotNull())
        .select(
            group_col,
            "n_rows",
            (F.col(value_col) * F.col("n_rows")).alias("sum_value"),
        )
    )
    if view is not None:
        adj = view.select(group_col, "n_rows", "sum_value").unionByName(adj)
    return (
        adj.groupBy(group_col)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_value").alias("sum_value"),
        )
        .filter(F.col("n_rows") > 0)
    )


def refresh_view(
    view: DataFrame,
    silver: SilverTable,
    gen_old: str,
    gen_new: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Fold the gen_old -> gen_new change rows (``SilverTable.changes``,
    which reads only the changed buckets, each side once) into
    ``view`` — never a table scan."""
    changes = silver.changes(gen_old, gen_new)
    if changes is None:
        return view
    return fold_changes(view, changes, group_col, value_col)
