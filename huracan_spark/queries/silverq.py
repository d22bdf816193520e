"""Driver-visible exercise of the silver MERGE / change-feed / IVM path.

The r4 round's only bug hid exactly here (equal-version tie-break +
CDF blindness to tombstone flips), and the path had zero CORRECTNESS
exposure — pytest only.  This query closes that gap: it derives a
deterministic two-batch change stream from the ``events`` fixture,
drives the REAL on-disk machinery (``SilverTable.merge`` twice ->
``refresh_view`` folding ``SilverTable.changes`` between the two
generations into the batch-1 materialized view), and returns the
incrementally-maintained grouped view.  The DuckDB oracle computes the
same result declaratively — final state per key via the documented
total order ``(version, tombstone-precedence, stored-precedence)``,
then a plain grouped aggregate — so a parity hash proves
incremental == recompute end-to-end, including K1/K2 tie semantics
(reference contract: main/src/etl.rs:1238-1267).

Change-stream derivation (all arithmetic identical on both engines):

- ``_id``      = 'u' || user_id                  (one key per user)
- ``version_`` = event_id % 7                    (dense -> many ties)
- ``deleted``  = event_id % 11 = 0               (tombstones, incl.
                                                  same-version flips)
- ``grp``/``v``= event_type / round(value, 6), nulled on tombstones
                 (K2 payload shape)
- batch split  = event_id % 2 (batch 0 merged first = stored side)

Each batch is pre-reduced to one row per (_id, version_) by max
event_id — the unique tie-break the ``latest_state`` contract
requires WITHIN a version — after which every remaining tie crosses
versions or sides and is resolved by the deterministic MERGE order.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from huracan_spark.queries.matcost import close_span, open_span
from huracan_spark.queries.registry import register
from huracan_spark.sources.tables import load_table

# one silver build per (applicationId, sf_dir) — repeated calls (plan
# tests, harness, bench) reuse the finished view
_SF_MATERIALIZED: dict[tuple[str, str], DataFrame] = {}

_CDF_VIEW_ORACLE = """
WITH raw AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS _id,
         event_id % 7 AS version_,
         (event_id % 11 = 0) AS deleted,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS grp,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE round(value, 6) END AS v,
         event_id % 2 AS batch,
         event_id
  FROM events
),
prereduced AS (
  SELECT _id, version_, deleted, grp, v, batch FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id, batch, version_ ORDER BY event_id DESC
    ) AS rn FROM raw
  ) WHERE rn = 1
),
final AS (
  SELECT _id, deleted, grp, v FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id
      ORDER BY version_ DESC, CAST(deleted AS INT) DESC, batch ASC
    ) AS rn2 FROM prereduced
  ) WHERE rn2 = 1
)
SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(v), 4) AS sum_value
FROM final WHERE NOT deleted GROUP BY grp
"""


@register(
    "silver_cdf_view",
    _CDF_VIEW_ORACLE,
    doc="silver MERGE x2 -> generation diff (CDF) -> incremental view "
    "refresh, vs a declarative final-state recompute: proves the "
    "change feed and IVM fold reproduce the batch aggregate exactly, "
    "tie-break semantics included (K1/K2; etl.rs:1238-1267)",
)
def q_silver_cdf_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _SF_MATERIALIZED.get(key)
    if cached is not None:
        return cached
    _span = open_span("silver:cdf_view")

    from huracan_spark.pipeline.incr_view import grouped_view, refresh_view
    from huracan_spark.pipeline.silver import SilverTable

    dead = F.col("event_id") % 11 == 0
    raw = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("_id"),
        (F.col("event_id") % 7).alias("version_"),
        dead.alias("deleted"),
        F.when(dead, F.lit(None)).otherwise(F.col("event_type")).alias("grp"),
        F.when(dead, F.lit(None)).otherwise(F.round("value", 6)).alias("v"),
        (F.col("event_id") % 2).alias("batch"),
        F.col("event_id"),
    )
    pre = (
        raw.groupBy("_id", "batch", "version_")
        .agg(
            F.max_by(
                F.struct("deleted", "grp", "v"), F.col("event_id")
            ).alias("_w")
        )
        .select(
            "_id",
            "batch",
            "version_",
            F.col("_w.deleted").alias("deleted"),
            F.col("_w.grp").alias("grp"),
            F.col("_w.v").alias("v"),
        )
    )
    b0 = pre.filter(F.col("batch") == 0).drop("batch")
    b1 = pre.filter(F.col("batch") == 1).drop("batch")

    silver = SilverTable(
        spark, tempfile.mkdtemp(prefix="hs_silver_cdf_"), n_buckets=8
    )
    silver.merge(b0)
    gen1 = silver.current_generation()
    view = grouped_view(silver.read(), "grp", "v")
    silver.merge(b1)
    gen2 = silver.current_generation()
    refreshed = refresh_view(view, silver, gen1, gen2, "grp", "v")
    out = refreshed.select(
        "grp",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("sum_value", 4).alias("sum_value"),
    ).localCheckpoint()
    # first-consumer attribution: the on-disk drive runs once per
    # (app, sf); bench charges it to the group, not to whoever ran first
    close_span(_span)
    _SF_MATERIALIZED[key] = out
    return out


_MOR_ORACLE = """
WITH raw AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS _id,
         event_id % 7 AS version_,
         (event_id % 11 = 0) AS deleted,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS grp,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE round(value, 6) END AS v,
         event_id % 3 AS batch,
         event_id
  FROM events
),
prereduced AS (
  SELECT _id, version_, deleted, grp, v, batch FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id, batch, version_ ORDER BY event_id DESC
    ) AS rn FROM raw
  ) WHERE rn = 1
),
final AS (
  SELECT _id, version_, deleted, grp, v FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id
      ORDER BY version_ DESC, CAST(deleted AS INT) DESC, batch ASC
    ) AS rn2 FROM prereduced
  ) WHERE rn2 = 1
)
SELECT grp, CAST(count(*) AS BIGINT) AS n_live,
       CAST(max(version_) AS BIGINT) AS max_version,
       round(sum(v), 4) AS sum_value
FROM final WHERE NOT deleted GROUP BY grp
"""


@register(
    "silver_mor_state",
    _MOR_ORACLE,
    doc="merge-on-read driven on disk (COW seed + two MOR delta "
    "commits) then read back through layer reconciliation, vs a "
    "declarative final-state recompute with the same total order "
    "(version, tombstone-prec, earliest-commit-wins) — proves the "
    "delta-layer read path reproduces the batch state exactly",
)
def q_silver_mor_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, "mor")
    cached = _SF_MATERIALIZED.get(key)
    if cached is not None:
        return cached
    _span = open_span("silver:mor_state")

    from huracan_spark.pipeline.silver import SilverTable

    dead = F.col("event_id") % 11 == 0
    raw = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("_id"),
        (F.col("event_id") % 7).alias("version_"),
        dead.alias("deleted"),
        F.when(dead, F.lit(None)).otherwise(F.col("event_type")).alias("grp"),
        F.when(dead, F.lit(None)).otherwise(F.round("value", 6)).alias("v"),
        (F.col("event_id") % 3).alias("batch"),
        F.col("event_id"),
    )
    pre = (
        raw.groupBy("_id", "batch", "version_")
        .agg(
            F.max_by(
                F.struct("deleted", "grp", "v"), F.col("event_id")
            ).alias("_w")
        )
        .select(
            "_id",
            "batch",
            "version_",
            F.col("_w.deleted").alias("deleted"),
            F.col("_w.grp").alias("grp"),
            F.col("_w.v").alias("v"),
        )
    )
    silver = SilverTable(
        spark, tempfile.mkdtemp(prefix="hs_silver_mor_"), n_buckets=8
    )
    for i, mode in enumerate(("cow", "mor", "mor")):
        silver.merge(
            pre.filter(F.col("batch") == i).drop("batch"), write_mode=mode
        )
    live = silver.read().filter(~F.col("deleted"))
    out = (
        live.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_live"),
            F.max("version_").cast("long").alias("max_version"),
            F.round(F.sum("v"), 4).alias("sum_value"),
        )
        .localCheckpoint()
    )
    close_span(_span)
    _SF_MATERIALIZED[key] = out
    return out


_EVOLUTION_ORACLE = """
WITH raw AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS _id,
         event_id % 7 AS version_,
         (event_id % 11 = 0) AS deleted,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS seg,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE round(value, 6) END AS amount,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE event_id % 4 END AS aux2,
         event_id % 3 AS batch,
         event_id
  FROM events
),
prereduced AS (
  SELECT _id, version_, deleted, seg, amount, aux2, batch FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id, batch, version_ ORDER BY event_id DESC
    ) AS rn FROM raw
  ) WHERE rn = 1
),
state01 AS (
  SELECT _id, version_, deleted, seg, amount FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id
      ORDER BY version_ DESC, CAST(deleted AS INT) DESC, batch ASC
    ) AS rn2 FROM prereduced WHERE batch < 2
  ) WHERE rn2 = 1
),
after_delete AS (
  SELECT _id,
         CASE WHEN NOT deleted AND amount < 30.0
              THEN version_ + 1 ELSE version_ END AS version_,
         (deleted OR (NOT deleted AND amount < 30.0)) AS deleted,
         seg, amount,
         CAST(NULL AS BIGINT) AS aux, 0 AS side
  FROM state01
),
b2 AS (
  SELECT _id, version_, deleted, seg, amount, aux2 AS aux, 1 AS side
  FROM prereduced WHERE batch = 2
),
final AS (
  SELECT _id, version_, deleted, seg, amount, aux FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id
      ORDER BY version_ DESC, CAST(deleted AS INT) DESC, side ASC
    ) AS rn3 FROM (
      SELECT * FROM after_delete UNION ALL SELECT * FROM b2
    )
  ) WHERE rn3 = 1
)
SELECT seg, CAST(count(*) AS BIGINT) AS n_live,
       CAST(max(version_) AS BIGINT) AS max_version,
       round(sum(amount), 4) AS sum_amount,
       CAST(sum(aux) AS BIGINT) AS sum_aux
FROM final WHERE NOT deleted GROUP BY seg
"""


@register(
    "silver_evolution_state",
    _EVOLUTION_ORACLE,
    doc="schema + layout evolution driven on disk: merge -> RENAME "
    "COLUMN x2 (metadata-only, column mapping) -> merge under the new "
    "names -> DROP COLUMN -> DELETE WHERE -> re-bucketing OPTIMIZE "
    "(4->16 buckets) -> merge re-adding the dropped logical name, then "
    "read back, vs a declarative recompute.  Proves renamed columns "
    "keep their data, dropped values never resurface (fresh physical "
    "binding), DML composes with the mapped world, and the re-bucketed "
    "layout reads identically",
)
def q_silver_evolution_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, "evolution")
    cached = _SF_MATERIALIZED.get(key)
    if cached is not None:
        return cached
    _span = open_span("silver:evolution_state")

    from huracan_spark.pipeline.silver import SilverTable

    dead = F.col("event_id") % 11 == 0
    raw = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("_id"),
        (F.col("event_id") % 7).alias("version_"),
        dead.alias("deleted"),
        F.when(dead, F.lit(None)).otherwise(F.col("event_type")).alias("grp"),
        F.when(dead, F.lit(None)).otherwise(F.round("value", 6)).alias("v"),
        F.when(dead, F.lit(None).cast("long"))
        .otherwise(F.col("event_id") % 5)
        .alias("aux"),
        F.when(dead, F.lit(None).cast("long"))
        .otherwise(F.col("event_id") % 4)
        .alias("aux2"),
        (F.col("event_id") % 3).alias("batch"),
        F.col("event_id"),
    )
    pre = (
        raw.groupBy("_id", "batch", "version_")
        .agg(
            F.max_by(
                F.struct("deleted", "grp", "v", "aux", "aux2"),
                F.col("event_id"),
            ).alias("_w")
        )
        .select(
            "_id",
            "batch",
            "version_",
            F.col("_w.deleted").alias("deleted"),
            F.col("_w.grp").alias("grp"),
            F.col("_w.v").alias("v"),
            F.col("_w.aux").alias("aux"),
            F.col("_w.aux2").alias("aux2"),
        )
        .persist()
    )
    silver = SilverTable(
        spark, tempfile.mkdtemp(prefix="hs_silver_evo_"), n_buckets=4
    )
    # batch 0 under the ORIGINAL names, carrying the doomed aux column
    silver.merge(
        pre.filter(F.col("batch") == 0).select(
            "_id", "version_", "deleted", "grp", "v", "aux"
        )
    )
    # metadata-only renames: no data file rewrites
    silver.rename_column("grp", "seg")
    silver.rename_column("v", "amount")
    # batch 1 arrives under the NEW logical names (physical stays put)
    silver.merge(
        pre.filter(F.col("batch") == 1).select(
            "_id",
            "version_",
            "deleted",
            F.col("grp").alias("seg"),
            F.col("v").alias("amount"),
            "aux",
        )
    )
    # retire aux; its physical column must never be read again
    silver.drop_column("aux")
    # DML through the mapped world (stats-pruned scan on "amount")
    silver.delete_where([("amount", "<", 30.0)])
    # partition evolution: rewrite 4 -> 16 buckets
    silver.compact(n_buckets=16)
    # batch 2 re-adds the dropped logical name with NEW values: it must
    # bind a FRESH physical column — old aux values never resurface
    silver.merge(
        pre.filter(F.col("batch") == 2).select(
            "_id",
            "version_",
            "deleted",
            F.col("grp").alias("seg"),
            F.col("v").alias("amount"),
            F.col("aux2").alias("aux"),
        )
    )
    live = silver.read().filter(~F.col("deleted"))
    out = (
        live.groupBy("seg")
        .agg(
            F.count("*").cast("long").alias("n_live"),
            F.max("version_").cast("long").alias("max_version"),
            F.round(F.sum("amount"), 4).alias("sum_amount"),
            F.sum("aux").cast("long").alias("sum_aux"),
        )
        .localCheckpoint()
    )
    pre.unpersist()
    close_span(_span)
    _SF_MATERIALIZED[key] = out
    return out


_DV_ORACLE = """
WITH raw AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS _id,
         event_id % 7 AS version_,
         (event_id % 11 = 0) AS deleted,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS grp,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE round(value, 6) END AS v,
         event_id % 3 AS batch,
         event_id
  FROM events
),
prereduced AS (
  SELECT _id, version_, deleted, grp, v, batch FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id, batch, version_ ORDER BY event_id DESC
    ) AS rn FROM raw
  ) WHERE rn = 1
),
state01 AS (
  SELECT _id, version_, deleted, grp, v FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id
      ORDER BY version_ DESC, CAST(deleted AS INT) DESC, batch ASC
    ) AS rn2 FROM prereduced WHERE batch < 2
  ) WHERE rn2 = 1
),
after_dv AS (
  -- the deletion-vector overlay: a marked position reads back as the
  -- version+1 tombstone of the stored row, PAYLOAD KEPT (the overlay
  -- flips deleted/version_ only) -- identical to the cow DELETE image
  SELECT _id,
         CASE WHEN NOT deleted AND v < 30.0
              THEN version_ + 1 ELSE version_ END AS version_,
         (deleted OR (NOT deleted AND v < 30.0)) AS deleted,
         grp, v, 0 AS side
  FROM state01
),
b2 AS (
  SELECT _id, version_, deleted, grp, v, 1 AS side
  FROM prereduced WHERE batch = 2
),
final AS (
  SELECT _id, version_, deleted, grp, v FROM (
    SELECT *, row_number() OVER (
      PARTITION BY _id
      ORDER BY version_ DESC, CAST(deleted AS INT) DESC, side ASC
    ) AS rn3 FROM (
      SELECT * FROM after_dv UNION ALL SELECT * FROM b2
    )
  ) WHERE rn3 = 1
)
SELECT grp,
       CAST(count(*) FILTER (WHERE NOT deleted) AS BIGINT) AS n_live,
       CAST(count(*) FILTER (WHERE deleted) AS BIGINT) AS n_dead,
       CAST(max(version_) AS BIGINT) AS max_version,
       round(sum(CASE WHEN NOT deleted THEN v END), 4) AS sum_value
FROM final GROUP BY grp
"""


@register(
    "silver_dv_state",
    _DV_ORACLE,
    doc="deletion vectors driven on disk: COW seed + MOR delta commit, "
    "then DELETE WHERE in write_mode='dv' (a metadata-only commit "
    "recording (file, row position) marks -- no data file written), "
    "then a COW merge that absorbs the vectors of its touched buckets "
    "while untouched buckets keep overlaying at read time, then read "
    "back.  The DuckDB oracle recomputes the final state declaratively "
    "with the DV image step explicit (marked rows become version+1 "
    "tombstones, payload kept), proving the broadcast position-overlay "
    "read is bit-identical to the copy-on-write delete it replaces "
    "(reference contract: main/src/etl.rs:1238-1247, delete is final)",
)
def q_silver_dv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, "dv")
    cached = _SF_MATERIALIZED.get(key)
    if cached is not None:
        return cached
    _span = open_span("silver:dv_state")

    from huracan_spark.pipeline.silver import SilverTable

    dead = F.col("event_id") % 11 == 0
    raw = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("_id"),
        (F.col("event_id") % 7).alias("version_"),
        dead.alias("deleted"),
        F.when(dead, F.lit(None)).otherwise(F.col("event_type")).alias("grp"),
        F.when(dead, F.lit(None)).otherwise(F.round("value", 6)).alias("v"),
        (F.col("event_id") % 3).alias("batch"),
        F.col("event_id"),
    )
    pre = (
        raw.groupBy("_id", "batch", "version_")
        .agg(
            F.max_by(
                F.struct("deleted", "grp", "v"), F.col("event_id")
            ).alias("_w")
        )
        .select(
            "_id",
            "batch",
            "version_",
            F.col("_w.deleted").alias("deleted"),
            F.col("_w.grp").alias("grp"),
            F.col("_w.v").alias("v"),
        )
        .persist()
    )
    silver = SilverTable(
        spark, tempfile.mkdtemp(prefix="hs_silver_dv_"), n_buckets=8
    )
    silver.merge(pre.filter(F.col("batch") == 0).drop("batch"))
    silver.merge(
        pre.filter(F.col("batch") == 1).drop("batch"), write_mode="mor"
    )
    # metadata-only DELETE: positions recorded, zero data files written
    silver.delete_where([("v", "<", 30.0)], write_mode="dv")
    # the COW merge absorbs the vectors of buckets it touches; the rest
    # keep overlaying at read time -- the read below exercises both
    silver.merge(pre.filter(F.col("batch") == 2).drop("batch"))
    st = silver.read()
    out = (
        st.groupBy("grp")
        .agg(
            F.count(F.when(~F.col("deleted"), 1)).cast("long").alias("n_live"),
            F.count(F.when(F.col("deleted"), 1)).cast("long").alias("n_dead"),
            F.max("version_").cast("long").alias("max_version"),
            F.round(
                F.sum(F.when(~F.col("deleted"), F.col("v"))), 4
            ).alias("sum_value"),
        )
        .localCheckpoint()
    )
    pre.unpersist()
    close_span(_span)
    _SF_MATERIALIZED[key] = out
    return out


_DLQ_REPLAY_ORACLE = """
WITH ch AS (
  SELECT CASE WHEN event_id % 13 = 0 THEN 'deleted'
              WHEN event_id % 17 = 0 THEN 'wrapped'
              WHEN event_id % 2 = 0 THEN 'created'
              ELSE 'mutated' END AS change_type,
         'o' || CAST(user_id AS VARCHAR) AS object_id,
         user_id,
         event_id % 7 AS version,
         event_id AS ts_first_seen
  FROM events
),
kept AS (
  SELECT *, change_type = 'deleted' AS deletion FROM ch
  WHERE change_type IN ('created', 'mutated', 'deleted')
),
reduced AS (
  SELECT object_id, user_id, version, deletion FROM (
    SELECT *, row_number() OVER (
      PARTITION BY object_id
      ORDER BY version DESC, CAST(deletion AS INT) DESC,
               ts_first_seen DESC
    ) AS rn FROM kept
  ) WHERE rn = 1
)
SELECT CASE WHEN deletion THEN NULL
            ELSE 'ty' || CAST((user_id + version) % 5 AS VARCHAR)
       END AS object_type,
       CAST(count(*) AS BIGINT) AS n_objects,
       CAST(max(version) AS BIGINT) AS max_version
FROM reduced
GROUP BY 1
"""


@register(
    "dlq_replay_state",
    _DLQ_REPLAY_ORACLE,
    doc="K7 retry-DLQ driven END-TO-END on disk: a derived change "
    "stream enriches against a content table with missing rows -> "
    "failures land in the JSONL DLQ (sources/dlq.py) while successes "
    "MERGE into silver -> the content gap is fixed -> replay_dlq "
    "re-runs the failed rows through parse/enrich/merge -> the final "
    "silver state must equal the no-failure single-pass golden "
    "(reference contract: Pulsar retry topic, main/src/pulsar.rs:10-20, "
    "consumed at main/src/etl.rs:480-488).  Triage precedes version "
    "dedup, so a DLQ'd high version never suppresses its own retry.",
)
def q_dlq_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, "dlq_replay")
    cached = _SF_MATERIALIZED.get(key)
    if cached is not None:
        return cached
    _span = open_span("silver:dlq_replay")

    import os

    from huracan_spark.pipeline.ingest import (
        build_silver_batch,
        enrich,
        parse_changes,
    )
    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.sources.dlq import replay_dlq, write_dlq

    ev = load_table(spark, sf_dir, "events")
    ch_type = (
        F.when(F.col("event_id") % 13 == 0, F.lit("deleted"))
        .when(F.col("event_id") % 17 == 0, F.lit("wrapped"))
        .when(F.col("event_id") % 2 == 0, F.lit("created"))
        .otherwise(F.lit("mutated"))
    )
    changes = ev.select(
        (F.col("event_id") % 5).alias("cp"),
        F.concat(F.lit("tx"), F.col("event_id")).alias("tx_digest"),
        ch_type.alias("change_type"),
        F.concat(F.lit("o"), F.col("user_id").cast("string")).alias(
            "object_id"
        ),
        (F.col("event_id") % 7).alias("version"),
        F.lit(None).cast("long").alias("ts_sui"),
        F.col("event_id").alias("ts_first_seen"),
        F.lit("poll").alias("ingested_via"),
    )
    # deterministic content table over every (object, version) pair the
    # stream can reference — payload arithmetic mirrored in the oracle
    pairs = (
        ev.select(
            F.col("user_id"), (F.col("event_id") % 7).alias("version")
        )
        .distinct()
    )
    content_full = pairs.select(
        F.concat(F.lit("o"), F.col("user_id").cast("string")).alias(
            "object_id"
        ),
        "version",
        F.concat(
            F.lit("ty"), ((F.col("user_id") + F.col("version")) % 5)
        ).alias("object_type"),
        F.lit("address").alias("owner_kind"),
        F.concat(F.lit("addr"), (F.col("user_id") % 97)).alias(
            "owner_address"
        ),
        F.lit(None).cast("long").alias("initial_shared_version"),
        F.concat(
            F.lit("dg"), F.col("user_id"), F.lit("_"), F.col("version")
        ).alias("digest"),
        F.lit(None).cast("string").alias("previous_transaction"),
        F.lit("0").alias("storage_rebate"),
        F.lit(True).alias("has_public_transfer"),
        F.lit(None).cast("string").alias("fields_json"),
        F.lit(None).cast("string").alias("bcs_b64"),
        F.lit(None).cast("string").alias("rpc_error"),
    )
    # first fetch: versions {2, 5} missing -> their live changes DLQ
    content_partial = content_full.filter(F.col("version") % 3 != 2)

    root = tempfile.mkdtemp(prefix="hs_dlq_replay_")
    dlq_path = os.path.join(root, "dlq")
    silver = SilverTable(
        spark, os.path.join(root, "silver"), n_buckets=8
    )
    parsed = parse_changes(changes)
    # cache_join: the merge and the DLQ write are separate actions over
    # the same enrichment join — one pass instead of two (r11)
    res = enrich(parsed, content_partial, cache_join=True)
    silver.merge(build_silver_batch(res.enriched))
    write_dlq(res.dlq, dlq_path)
    if res.cached is not None:
        res.cached.unpersist()
    # the gap is fixed upstream; the retry consumer re-runs the chain
    replay_dlq(spark, dlq_path, content_full, silver)

    out = (
        silver.read()
        .groupBy("object_type")
        .agg(
            F.count("*").cast("long").alias("n_objects"),
            F.max("version_").cast("long").alias("max_version"),
        )
        .localCheckpoint()
    )
    close_span(_span)
    _SF_MATERIALIZED[key] = out
    return out
