"""Physical-plan regression tests: the scale properties we rely on
(pushdown, broadcast, partial aggregation, no accidental cartesian
products) must survive refactors — these are the 100 TB guarantees."""

from __future__ import annotations

import pytest

from huracan_spark.queries.registry import REGISTRY, spark_queries

spark_queries()


def _plan(spark, sf_dir, name: str) -> str:
    return REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "type_prefix_filter")
    assert "StringStartsWith(event_type,p)" in p  # pushed, not post-filtered
    p = _plan(spark, sf_dir, "point_lookup")
    assert "EqualTo(event_id,42)" in p


def test_column_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "count_per_type")
    # only event_type should be read for a per-type count
    assert "ReadSchema: struct<event_type:string>" in p


@pytest.mark.parametrize("name", ["tpch_q3", "tpch_q5", "dynamic_field_join"])
def test_dim_joins_are_broadcast(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_asof_join_is_window_not_rangejoin(spark, sf_dir):
    """The as-of operator must never plan a range cross-join."""
    p = _plan(spark, sf_dir, "asof_join_purchases")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_latest_state_partial_aggregation(spark, sf_dir):
    """K1 compaction must partially aggregate map-side so only one
    candidate row per key crosses the shuffle."""
    p = _plan(spark, sf_dir, "latest_state")
    assert "partial_max_by" in p
    assert p.index("partial_max_by") > p.index("Exchange")  # partial below exchange


def test_lsh_signature_is_shuffle_free_per_row(spark, sf_dir):
    """ann_lsh signatures: one scan, no explode/shuffle before groupBy."""
    p = _plan(spark, sf_dir, "ann_lsh_buckets")
    assert "Generate" not in p  # no explode
    assert p.count("Exchange") == 1  # only the final groupBy(sig)


@pytest.mark.parametrize(
    "name, semi, anti",
    [
        ("tpch_q4", True, False),     # EXISTS -> semi
        ("tpch_q20", True, False),    # nested IN -> stacked semis
        ("tpch_q21", True, True),     # EXISTS + NOT EXISTS
        ("anti_join_no_orders", False, True),
    ],
)
def test_subquery_shapes_plan_as_semi_anti_joins(spark, sf_dir, name, semi, anti):
    """Correlated-subquery shapes must plan as (semi/anti) hash joins,
    never as per-row subquery re-execution or a cartesian product."""
    p = _plan(spark, sf_dir, name)
    if semi:
        assert "LeftSemi" in p
    if anti:
        assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_range_join_query_is_hash_join(spark, sf_dir):
    """range_join_windows must ride the bucket equi-key, not a
    BroadcastNestedLoopJoin over the raw interval predicate."""
    p = _plan(spark, sf_dir, "range_join_windows")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q19_part_side_broadcast(spark, sf_dir):
    """Q19's dim join must broadcast part; the OR-of-AND predicate
    must not force a nested loop."""
    p = _plan(spark, sf_dir, "tpch_q19")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_jaccard_hot_shingle_cap_is_broadcast_anti_join(spark, sf_dir):
    """The df-cap winnowing must subtract the (tiny) hot-shingle list
    via a broadcast anti-join — never a shuffled one.  Checked on the
    canonical ``jaccard_pairs`` pipeline directly: the registered query
    reads the per-(app, sf_dir) materialization of the same pipeline,
    whose plan is an ExistingRDD scan after first build."""
    from huracan_spark.queries.dedup import _docs, _shingles, jaccard_pairs

    df = jaccard_pairs(_shingles(_docs(spark, sf_dir)))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_corpus_clean_no_cartesian(spark, sf_dir):
    """The end-to-end cleaning pipeline composes joins over cluster
    labels; none of them may degrade to nested-loop/cartesian."""
    p = _plan(spark, sf_dir, "corpus_clean")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_connected_components_round_partial_agg(spark):
    """One propagation round = edges join + min-agg; the min must
    partially aggregate map-side (only one candidate label per node
    crosses the shuffle) and the join must stay an equi-join."""
    from pyspark.sql import functions as F

    edges = spark.range(0, 1000).select(
        F.col("id").alias("a"), (F.col("id") % 97).alias("b")
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    rnd = (
        edges.alias("e")
        .join(labels.alias("l"), F.col("e.b") == F.col("l.node"))
        .groupBy(F.col("e.a").alias("node"))
        .agg(F.min("l.label").alias("label"))
    )
    p = rnd._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ivf_search_no_corpus_window(spark, sf_dir):
    """IVF search must assign corpus cells via partial-agg max_by, not
    a corpus-sized window shuffle; the final top-k window partitions
    by the N_QUERIES probe ids only."""
    p = _plan(spark, sf_dir, "ivf_search")
    assert "partial_max_by" in p
    assert "CartesianProduct" not in p
    # exactly the probe-side windows survive: cell choice + final top-k
    assert p.count("RunningWindowFunction") <= 2 or p.count("Window") <= 2


def test_q8_dims_broadcast_fact_never_shuffles_for_dims(spark, sf_dir):
    """Q8's 8-way star join: every dim side must be a BroadcastHashJoin;
    the only sort-merge allowed is the fact-fact lineitem-orders join."""
    p = _plan(spark, sf_dir, "tpch_q8")
    assert p.count("BroadcastHashJoin") >= 3  # part, customer-bundle, supplier-bundle
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_doc_repetition_single_scan_no_join(spark, sf_dir):
    """Repetition signals: one documents scan, explode + two linear
    aggregations — per-doc scalars ride the grouping keys, so there is
    no join back and no second scan."""
    p = _plan(spark, sf_dir, "doc_repetition")
    assert p.count("Scan parquet") == 1
    assert "Join" not in p
    assert "Generate" in p  # the explode is the linear path, not a self-join


def test_pii_scrub_single_scan_pushdown(spark, sf_dir):
    p = _plan(spark, sf_dir, "doc_pii_scrub")
    assert p.count("Scan parquet") == 1
    assert "Join" not in p


def test_ann_recall_no_cartesian_corpus(spark, sf_dir):
    """Recall eval composes the exact panel + ivf_search: the only
    cross product allowed is probe-broadcast x corpus — never corpus x
    corpus.  The exact leg moved into the shared `knn:exact` build
    (r10), so its census is pinned on the BUILD plan (the pq:encode
    precedent); the registered plan must stay cartesian-free itself."""
    from huracan_spark.queries.similarity import _emb, _knn_from, _normalized

    n = _normalized(_emb(spark, sf_dir)).select("vec_id", "nemb")
    bp = _knn_from(n)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in bp
    # the probe side broadcasts into the non-equi self-pair join; the
    # corpus side must never be the build side of anything
    assert "BroadcastNestedLoopJoin" in bp
    p = _plan(spark, sf_dir, "ann_recall_eval")
    assert "CartesianProduct" not in p


def test_pq_encode_partial_agg_no_window(spark, sf_dir):
    """PQ encoding: codebook broadcast, argmin via partial-agg min_by —
    the corpus must never pass through a window or cartesian.  The
    encode pass moved into the shared `pq:encode` build (r10), so the
    invariant is pinned on the BUILD plan (the semdedup precedent);
    the registered plan folds over the checkpointed code table and
    must stay window/cartesian-free itself."""
    from huracan_spark.queries.pq import _encoded
    from huracan_spark.queries.similarity import _emb, _normalized
    from pyspark.sql import functions as F

    n = _normalized(_emb(spark, sf_dir)).select("vec_id", "nemb")
    bp = _encoded(n)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bp
    assert "partial_min_by" in bp
    assert "Window" not in bp
    assert "CartesianProduct" not in bp
    assert "BroadcastNestedLoopJoin" not in bp
    p = _plan(spark, sf_dir, "pq_encode")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_adc_lut_broadcast(spark, sf_dir):
    """ADC search: the (query x subspace x codeword) LUT joins the
    corpus codes as a broadcast — the only window is over the final
    per-query candidate rows, and the distance sum partial-aggregates."""
    p = _plan(spark, sf_dir, "pq_adc_topk")
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p or "partial_finalmerge_sum" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_stats_joins_broadcast(spark, sf_dir):
    """BM25: df/avgdl statistics must broadcast — the corpus-sized tf
    table never shuffles on the (Zipf-skewed) token key."""
    p = _plan(spark, sf_dir, "bm25_scores")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_bigram_pmi_unigram_joins_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "bigram_pmi")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_kmv_window_is_partitioned(spark, sf_dir):
    """KMV sketch: every window runs per event_type (no global funnel)
    and the distinct pre-agg partially aggregates map-side."""
    p = _plan(spark, sf_dir, "kmv_distinct_users")
    for frag in p.split("windowspecdefinition(")[1:]:
        assert frag.split(",")[0].strip().startswith("event_type"), frag[:80]


def test_salted_join_no_broadcast_nested_loop(spark, sf_dir):
    p = _plan(spark, sf_dir, "salted_join_events_by_nation")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_funnel_is_hash_join_not_nested_loop(spark, sf_dir):
    """The attribution-window join must ride the (user, bucket)
    compound equi-key — never a time-range nested loop."""
    p = _plan(spark, sf_dir, "click_purchase_funnel")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_pca_matvec_is_one_scan_no_corpus_shuffle(spark, sf_dir):
    """Each power-iteration pass must be ONE corpus scan: the per-row
    dot folds inline against the broadcast vector row, then a 64-group
    partial agg — no exchange is keyed by the corpus.  The r10 long
    form cost two scans + an n-row groupBy(vec_id) exchange + an n·64
    join per pass; this pins that they never come back.
    (The registered queries eagerly checkpoint each 64-row vector to
    stop broadcast-exchange races from duplicating passes, which
    truncates their final plan — so the shape is asserted on the
    matvec building block itself.)  The invariants are asserted, not a
    count of bounded exchanges: ``_cent_arr`` is cached, and once an
    earlier test has materialized it the cached subtree prints twice
    (final and initial AQE plan), doubling every count inside it."""
    from pyspark.sql import functions as F

    from huracan_spark.queries import linalg

    cent = linalg._cent_arr(spark, sf_dir)
    v_row = spark.range(1).select(
        F.array(*([F.lit(0.125)] * linalg.DIM)).alias("varr")
    )
    p = (
        linalg._matvec_arr(cent, v_row)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_sum" in p  # 64-group agg combines map-side
    # no corpus-keyed shuffle: every exchange is a 64-group agg on pos
    # (the 1-row vector rides a broadcast)
    assert "hashpartitioning(vec_id" not in p, p
    assert "SortMergeJoin" not in p  # no corpus-sized join, ever
    assert "ShuffledHashJoin" not in p
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_jl_probe_filter_pushed_to_scan(spark, sf_dir):
    """The JL distortion audit reads only the probe subset: the
    vec_id bound must reach the parquet scan on BOTH join legs."""
    p = _plan(spark, sf_dir, "jl_projection_distortion")
    assert "LessThan(vec_id,40)" in p
    assert "CartesianProduct" not in p


def test_int8_quant_scale_join_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "embedding_int8_quant")
    assert "BroadcastHashJoin" in p
    assert "partial_max" in p  # scale pass is map-side combined


def test_psi_grid_folds_are_hash_aggs(spark, sf_dir):
    """PSI must fold over the bounded (type x bin) grid with hash
    aggregation — no windows, no cartesian on the corpus side (the
    1-row bounds crossJoin plans as BNLJ and is allowed)."""
    p = _plan(spark, sf_dir, "psi_value_drift")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_sum" in p


def test_completed_ranges_no_single_partition_window(spark, sf_dir):
    """A7 gaps-and-islands must row-number via the distributed prefix
    sum — a checkpoint log that outgrows one partition would otherwise
    funnel through Exchange SinglePartition (the r4 verdict's last
    single-partition window)."""
    p = _plan(spark, sf_dir, "completed_ranges")
    assert "SinglePartition" not in p
    # the island row-number window must be partitioned (by _pid)
    for frag in p.split("windowspecdefinition(")[1:]:
        assert frag.split(",")[0].strip().startswith("_pid"), frag[:80]
