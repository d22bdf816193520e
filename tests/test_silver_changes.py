"""``SilverTable.changes`` is the batch twin of the ``silver_cdf``
stream: the one place the batch side builds change rows (``diff``,
``table_changes`` and ``refresh_view`` all read it).

- A hypothesis property drives random sequences of copy-on-write and
  merge-on-read merges, deletion-vector DELETEs, RESTOREs and clustered
  OPTIMIZEs, then checks that the stream with preimages on emits exactly
  the multiset of per-commit ``changes`` rows, stamped with the same
  ``_commit_generation``.  The stream still classifies rows with its own
  pure-Python loaders, so this keeps the two implementations in step.
- ``refresh_view`` reads each side of a commit once: its Spark job count
  over one commit is pinned.
"""

from __future__ import annotations

import itertools
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from huracan_spark.pipeline.incr_view import grouped_view, refresh_view
from huracan_spark.pipeline.silver import SilverTable
from huracan_spark.sources.silver_cdf_source import register_silver_cdf_source

SCHEMA = "_id string, version_ long, deleted boolean, grp string, val long"
COLS = ["_id", "version_", "deleted", "grp", "val", "_change_type", "_old_version"]

_OP = st.one_of(
    st.tuples(
        st.just("merge"),
        st.sampled_from(["cow", "mor"]),
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),  # key
                st.integers(min_value=1, max_value=4),  # version
                st.booleans(),  # tombstone
                st.integers(min_value=0, max_value=99),  # payload
            ),
            min_size=1,
            max_size=4,
        ),
    ),
    st.tuples(st.just("dv_delete"), st.integers(min_value=0, max_value=100)),
    st.tuples(st.just("restore"), st.integers(min_value=0, max_value=1000)),
    st.tuples(st.just("optimize"), st.just(None)),
)

_queries = itertools.count()


def _rows(spark, batch):
    # one row per (key, version): equal-version duplicates with
    # different payloads have no defined in-batch winner
    batch = {(k, v): (k, v, d, x) for (k, v, d, x) in batch}.values()
    return spark.createDataFrame(
        [(f"k{k}", v, d, f"g{x % 3}", x) for (k, v, d, x) in batch], SCHEMA
    )


@settings(
    deadline=None,
    max_examples=4,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_OP, min_size=3, max_size=6))
def test_cdf_stream_emits_exactly_the_changes_rows(spark, tmp_path_factory, ops):
    register_silver_cdf_source(spark)
    root = tmp_path_factory.mktemp("changes")
    t = SilverTable(spark, str(root / "t"), n_buckets=2)
    t.merge(_rows(spark, [(k, 1, False, 10 * k) for k in range(4)]))
    first = t.current_generation()
    for op, *arg in ops:
        if op == "merge":
            mode, batch = arg
            t.merge(_rows(spark, batch), write_mode=mode)
        elif op == "dv_delete":
            t.delete_where([("val", "<", arg[0])], write_mode="dv")
        elif op == "restore":
            gens = t.generations()
            t.restore(gens[arg[0] % len(gens)])
        else:
            t.compact(max_records_per_file=2, cluster_by=["version_"])

    gens = t.generations()
    gens = gens[gens.index(first) :]
    want = Counter()
    for prev, cur in zip(gens, gens[1:]):
        ch = t.changes(prev, cur)
        if ch is not None:
            want.update(tuple(r) + (cur,) for r in ch.select(*COLS).collect())

    name = f"changes_twin_{next(_queries)}"
    q = (
        spark.readStream.format("silver_cdf")
        .option("path", t.path)
        .option("starting", first)
        .option("preimages", "true")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = Counter(
        tuple(r)
        for r in spark.table(name)
        .select(*COLS, "_commit_generation")
        .collect()
    )
    spark.catalog.dropTempView(name)
    assert got == want


def test_refresh_view_reads_each_side_of_a_commit_once(spark, tmp_path):
    """8 buckets, 2k keys, one commit: the fold over ``changes`` runs 3
    Spark jobs (one shuffle of both sides, the re-aggregate, the
    result).  Re-labelling ``diff``'s keys against a second read of
    both states ran 6."""
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=8)
    schema = "_id string, version_ long, deleted boolean, grp string, v double"
    t.merge(
        spark.createDataFrame(
            [(f"k{i}", 1, False, f"g{i % 5}", float(i)) for i in range(2000)],
            schema,
        )
    )
    g1 = t.current_generation()
    view = grouped_view(t.read(), "grp", "v").localCheckpoint(eager=True)
    t.merge(
        spark.createDataFrame(
            [
                (f"k{i}", 2, i % 7 == 0, f"g{i % 3}", 2.0 * i)
                for i in range(0, 2000, 97)
            ]
            + [("new1", 1, False, "g1", 5.0)],
            schema,
        )
    )
    g2 = t.current_generation()
    sc = spark.sparkContext
    sc.setJobGroup("refresh_view_jobs", "refresh_view over one commit")
    try:
        got = refresh_view(view, t, g1, g2, "grp", "v").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("refresh_view_jobs")
    assert len(jobs) <= 3, jobs

    def _snap(rows):
        return sorted((r.grp, r.n_rows, round(r.sum_value, 6)) for r in rows)

    assert _snap(got) == _snap(grouped_view(t.read(), "grp", "v").collect())
