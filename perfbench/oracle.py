"""Independent correctness oracle in DuckDB.

The expected silver state is recomputed from the generated inputs
alone (FIXTURES.md §4, the K1 convergence property): keep created /
mutated / deleted changes, drop live changes whose content fetch
failed (RPC error) or is missing (DLQ), and per object keep the row
with the highest ``(version, deleted)`` via ``arg_max``.  The gold view
and the API responses are checked against that same state.  The
sampled registry queries are checked against their oracle SQL, run by
DuckDB over the same generated star-schema sample.  Nothing here
imports Spark or the program's transforms.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import sys

import duckdb

PAYLOAD = [
    "object_type", "owner_kind", "owner_address", "initial_shared_version",
    "digest", "previous_transaction", "storage_rebate", "fields_json", "bcs_b64",
]
COMPARED = ["version_", "version_hex", "deleted", *PAYLOAD]
DYNFIELD_PREFIX = "0x2::dynamic_field::Field<"


def _plist(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def connect(change_files: list[str], content_file: str) -> duckdb.DuckDBPyConnection:
    """A connection holding the expected state as table ``exp``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    payload = ", ".join(f"c.{c}" for c in PAYLOAD)
    nulls = ", ".join(f"NULL AS {c}" for c in PAYLOAD)
    con.execute(f"""
        CREATE TABLE exp AS
        WITH kept AS (
            SELECT DISTINCT object_id, version, change_type = 'deleted' AS deleted
            FROM read_parquet({_plist(change_files)})
            WHERE change_type IN ('created', 'mutated', 'deleted')
        ),
        cand AS (
            SELECT k.object_id, k.version, false AS deleted, {payload}
            FROM kept k
            JOIN read_parquet('{content_file}') c USING (object_id, version)
            WHERE NOT k.deleted AND c.rpc_error IS NULL AND c.object_type IS NOT NULL
            UNION ALL
            SELECT object_id, version, true AS deleted, {nulls}
            FROM kept WHERE deleted
        ),
        best AS (
            SELECT object_id,
                   arg_max(cand, version * 2 + deleted::BIGINT) AS r
            FROM cand GROUP BY object_id
        )
        SELECT object_id AS _id, r.version AS version_,
               '0x' || lower(hex(r.version)) AS version_hex, r.deleted AS deleted,
               {", ".join(f"r.{c} AS {c}" for c in PAYLOAD)}
        FROM best
    """)
    return con


def state_mismatches(con, silver_dump: str) -> int:
    """Rows of the dumped silver table that differ from ``exp`` (missing,
    extra, or any compared column distinct)."""
    diff = " OR ".join(f"e.{c} IS DISTINCT FROM g.{c}" for c in COMPARED)
    return con.execute(f"""
        SELECT count(*) FROM exp e
        FULL OUTER JOIN read_parquet('{silver_dump}/*.parquet') g USING (_id)
        WHERE e._id IS NULL OR g._id IS NULL OR {diff}
    """).fetchone()[0]


def view_mismatches(con, view_dump: str, group_col: str, value_col: str) -> int:
    """Groups of the dumped gold view that differ from the grouped
    expected state (``incr_view.grouped_view`` semantics)."""
    return con.execute(f"""
        WITH want AS (
            SELECT {group_col} AS g, count(*) AS n_rows, sum({value_col}) AS sum_value
            FROM exp WHERE NOT deleted GROUP BY {group_col}
        ),
        got AS (SELECT {group_col} AS g, n_rows, sum_value
                FROM read_parquet('{view_dump}/*.parquet'))
        SELECT count(*) FROM want w FULL OUTER JOIN got USING (g)
        WHERE w.g IS NULL OR got.g IS NULL
           OR w.n_rows IS DISTINCT FROM got.n_rows
           OR w.sum_value IS DISTINCT FROM got.sum_value
    """).fetchone()[0]


def digest(rows) -> str:
    """Order-insensitive digest of a response's (key, version) rows."""
    h = hashlib.sha1()
    for r in sorted(f"{a}|{b}" for a, b in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _in(vals) -> str:
    return "(" + ", ".join("'" + str(v).replace("'", "''") + "'" for v in vals) + ")"


def expected_rows(con, kind: str, arg):
    """The (key, version) rows a request of ``kind`` should return."""
    live = "NOT deleted"
    owned = "owner_kind IN ('AddressOwner', 'ObjectOwner')"
    page = "ORDER BY _id LIMIT 50"
    if kind == "object":
        sql = f"SELECT _id, version_ FROM exp WHERE {live} AND _id = '{arg}' LIMIT 1"
    elif kind == "objects_ids":
        sql = f"SELECT _id, version_ FROM exp WHERE {live} AND _id IN {_in(arg)} {page}"
    elif kind == "read_key_bucket":
        sql = f"SELECT _id, version_ FROM exp WHERE _id = '{arg}'"
    elif kind == "owner":
        sql = (f"SELECT _id, version_ FROM exp WHERE {live} AND {owned} "
               f"AND owner_address = '{arg}' {page}")
    elif kind == "owners":
        sql = (f"SELECT _id, version_ FROM exp WHERE {live} AND {owned} "
               f"AND owner_address IN {_in(arg)} {page}")
    elif kind == "type":
        sql = (f"SELECT _id, version_ FROM exp WHERE {live} "
               f"AND starts_with(object_type, '{arg}') {page}")
    elif kind == "types":
        pred = " OR ".join(f"starts_with(object_type, '{t}')" for t in arg)
        sql = f"SELECT _id, version_ FROM exp WHERE {live} AND ({pred}) {page}"
    elif kind == "dynamic_field_value":
        sql = f"""
            SELECT p._id, p.version_ FROM exp f JOIN exp p ON f.owner_address = p._id
            WHERE NOT f.deleted AND NOT p.deleted
              AND starts_with(f.object_type, '{DYNFIELD_PREFIX}')
              AND json_extract_string(f.fields_json, '$.value') = '{arg}'
            ORDER BY p._id LIMIT 50"""
    elif kind == "dynamic_fields":
        sql = f"""
            SELECT owner_address, _id FROM exp
            WHERE {live} AND starts_with(object_type, '{DYNFIELD_PREFIX}')
              AND owner_address IN {_in(arg)}
            ORDER BY owner_address, _id LIMIT 50"""
    elif kind == "read_where":
        kind_val, min_version = arg
        sql = (f"SELECT _id, version_ FROM exp WHERE owner_kind = '{kind_val}' "
               f"AND version_ >= {int(min_version)}")
    else:
        raise ValueError(f"unknown request kind {kind!r}")
    return con.execute(sql).fetchall()


def response_mismatches(con, responses: list[dict]) -> int:
    """Requests whose recorded (row count, digest) differs from the oracle."""
    cache: dict[tuple, tuple[int, str]] = {}
    bad = 0
    for r in responses:
        key = (r["kind"], repr(r["arg"]))
        if key not in cache:
            rows = expected_rows(con, r["kind"], r["arg"])
            cache[key] = (len(rows), digest(rows))
        if (r["n"], r["digest"]) != cache[key]:
            bad += 1
    return bad


def _cell(v):
    """One value as the query check compares it: floats stay floats
    (an integral float is still a float, so 6194.0 and 6194 differ);
    NULL, NaN and timestamps (ISO form) become strings."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0  # + 0.0 folds -0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v if isinstance(v, (bool, int)) else str(v)


def frame_rows(pdf) -> dict:
    """Column names and rows of a pandas frame, columns in name order."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {"cols": sorted(cols),
            "rows": [[_cell(r[i]) for i in order]
                     for r in pdf.itertuples(index=False, name=None)]}


def _decimals(x: float) -> int:
    """Decimals ``repr`` prints; 17 (exact) for an integral value, whose
    rounding, if any, cannot be told from the value."""
    r = repr(x)
    if x == int(x) or "e" in r:
        return 17
    return len(r) - r.index(".") - 1


def _same(a, b) -> bool:
    """Equal, except that two floats may differ by one unit in the last
    decimal either prints: a sum of doubles rounded to a fixed number of
    decimals can land on either side of a rounding boundary, depending
    on the order the engine adds in."""
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1.5 * 10.0 ** -max(_decimals(a), _decimals(b))
    return type(a) is type(b) and a == b


def _sort_key(row: list):
    # exact cells first, so float noise cannot reorder the rows
    return ([repr(c) for c in row if not isinstance(c, float)],
            [c for c in row if isinstance(c, float)])


def rows_match(got: dict, want: dict) -> bool:
    if got["cols"] != want["cols"] or len(got["rows"]) != len(want["rows"]):
        return False
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(sorted(got["rows"], key=_sort_key),
                               sorted(want["rows"], key=_sort_key)))


def query_mismatches(star_dir: str, results: list[dict]) -> int:
    """Sampled queries whose rows differ from their registry oracle SQL
    run by DuckDB over the same star-schema sample."""
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{star_dir}.duckdb'")
    for p in sorted(glob.glob(os.path.join(star_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = 0
    for r in results:
        if not rows_match(r, frame_rows(con.execute(r["sql"]).df())):
            print(f"[perfbench] query {r['name']} differs from its oracle",
                  file=sys.stderr)
            bad += 1
    con.close()
    return bad
