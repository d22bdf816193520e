"""The benchmark's own tests: every workload at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run starts its own Spark session, so the module takes a few
minutes.  Not part of the repository's tier-1 suite (``tests/``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, stargen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT, env: dict | None = None):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "4", "--trace", str(trace), "--size", "small"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
        env={**os.environ, **(env or {})},
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted_with_its_unit(workload, trace):
    rc, out, err = _run(workload, trace)
    assert rc == 0, err[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert out["failed"] == 0
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_counts_repeat_for_a_seed():
    def counts():
        metrics = _run("backfill", 1)[1]["metrics"]
        return {k: metrics[k]["value"] for k in (
            "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
            "silver.merge_jobs", "silver.touched_buckets", "silver.files_written",
            "silver.generations", "api.jobs_per_request")}

    assert counts() == counts()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_silver_table_fails_the_check(workload):
    rc, out, err = _run(workload, 0, env={"PERFBENCH_CORRUPT_SILVER": "1"})
    assert rc == 1, err[-3000:]
    assert out["correct"] is False and out["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, _ = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert rc != 0 and out is None


def test_generator_is_seeded_and_keeps_exact_types():
    a = gen.make_history(5, 300, 20)
    b = gen.make_history(5, 300, 20)
    assert a.changes.equals(b.changes) and a.content.equals(b.content)
    assert not a.changes.equals(gen.make_history(6, 300, 20).changes)
    assert a.changes.schema == gen.CHANGE_SCHEMA
    assert a.content.schema == gen.CONTENT_SCHEMA
    assert a.changes.schema.field("ts_sui").type == pa.int64()
    assert a.changes["ts_sui"].null_count > 0  # nullable stays BIGINT
    kinds = set(a.changes["change_type"].to_pylist())
    assert {"created", "mutated", "deleted"} <= kinds
    assert kinds & {"wrapped", "transferred", "published"}  # P1-dropped noise
    assert a.content["rpc_error"].null_count < a.content.num_rows  # some RPC errors


def test_oracle_flags_a_changed_row(tmp_path):
    h = gen.make_history(7, 400, 20)
    changes = gen.write(h.changes, str(tmp_path / "changes.parquet"))
    content = gen.write(h.content, str(tmp_path / "content.parquet"))
    con = oracle.connect([changes], content)
    good, bad = tmp_path / "good", tmp_path / "bad"
    good.mkdir()
    bad.mkdir()
    con.execute(f"COPY exp TO '{good}/part.parquet' (FORMAT parquet)")
    con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN _id = (SELECT min(_id) FROM exp)
                    THEN version_ + 1 ELSE version_ END AS version_) FROM exp)
                    TO '{bad}/part.parquet' (FORMAT parquet)""")
    assert oracle.state_mismatches(con, str(good)) == 0
    assert oracle.state_mismatches(con, str(bad)) == 1


def test_star_sample_is_seeded(tmp_path):
    a, b, c = stargen.make_tables(5), stargen.make_tables(5), stargen.make_tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in stargen.ROWS} == stargen.ROWS
    assert len(set(a["documents"]["text"].to_pylist())) == stargen.ROWS["documents"]


def test_query_oracle_flags_a_changed_row(tmp_path):
    import duckdb

    star = stargen.write_tables(5, str(tmp_path / "star"))
    sql = ("SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS s "
           "FROM lineitem GROUP BY l_returnflag")
    pdf = duckdb.sql(sql.replace("lineitem", f"read_parquet('{star}/lineitem.parquet')")).df()
    good = {"name": "q", "sql": sql, **oracle.frame_rows(pdf)}
    assert oracle.query_mismatches(star, [good]) == 0
    ulp = pdf.copy()
    ulp.loc[0, "s"] = round(ulp.loc[0, "s"] + 0.01, 2)  # one unit in the last decimal
    assert oracle.query_mismatches(star, [{**good, **oracle.frame_rows(ulp)}]) == 0
    for col, delta in (("n", 1), ("s", 0.02)):
        bad = pdf.copy()
        bad.loc[0, col] = round(bad.loc[0, col] + delta, 2)
        assert oracle.query_mismatches(star, [{**good, **oracle.frame_rows(bad)}]) == 1
    as_float = pdf.astype({"n": "float64"})  # 6194.0 is not 6194
    assert oracle.query_mismatches(star, [{**good, **oracle.frame_rows(as_float)}]) == 1

    def same(a, b):
        return oracle.rows_match({"cols": ["x"], "rows": [[a]]}, {"cols": ["x"], "rows": [[b]]})

    assert same(0.18007, 0.180069) and same(428689.12, 428689.13)
    assert not same(428689.12, 428689.14) and not same(6194.0, 6194.1)
