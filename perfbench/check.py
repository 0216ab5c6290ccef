"""Correctness checks, run once per benchmark run, untimed, in DuckDB.

Each check returns a list of (name, ok, detail); every failed check counts
as a failed operation.  Spark outputs are compared with the registry's
oracle SQL by the repository's own comparator, tools/check.py: schema
first, then values, columns sorted by name, rows sorted.
"""
import glob
import importlib.util
import json
import os
import re

import duckdb
import pyarrow.parquet as pq

_spec = importlib.util.spec_from_file_location(
    "graft_oracle_check",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check.py"))
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)


def compare(name, spark_t, oracle_t):
    """tools/check.py's verdict on one output: None when equal."""
    return (oracle_check.schema_diff(spark_t, oracle_t)
            or oracle_check.compare(name, oracle_check.to_pandas_num(spark_t),
                                    oracle_check.to_pandas_num(oracle_t)))


def _connect(work):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{work}/duckdb_tmp'")
    return con


def _views(con, data_dir):
    for f in glob.glob(f"{data_dir}/*.parquet"):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{f}')")


def oracle_outputs(work, data_dir, rewrite=lambda sql: sql):
    """Every Spark output under work/out against its oracle SQL."""
    con = _connect(work)
    _views(con, data_dir)
    oracle = json.load(open(f"{work}/oracle.json"))
    results = []
    for name, sql in sorted(oracle.items()):
        out = f"{work}/out/{name}"
        if not sql:
            results.append((name, False, "no oracle SQL in the registry"))
            continue
        if not glob.glob(f"{out}/*.parquet"):
            results.append((name, False, "no Spark output"))
            continue
        try:
            diff = compare(name, pq.read_table(out), con.execute(rewrite(sql)).fetch_arrow_table())
        except Exception as e:  # an oracle error is a failed check
            diff = f"oracle error: {e}"
        results.append((name, diff is None, diff or ""))
    return results


def river_index(work, index_dir, landing_dir):
    """The final index equals last-write-wins per key over every landed
    slice: the latest (ts, event_id) per user_id, computed with DuckDB
    arg_max, row for row."""
    con = _connect(work)
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{landing_dir}/*.parquet')")
    con.execute(f"CREATE VIEW idx AS SELECT * EXCLUDE (kbucket) FROM "
                f"read_parquet('{index_dir}/*/*.parquet', hive_partitioning = true)")
    # order key (ts, event_id) packed into one HUGEINT; event ids < 2^40
    ref = ("SELECT user_id, arg_max(event_id, epoch_us(ts)::HUGEINT * 1099511627776 + event_id)"
           " AS event_id FROM src GROUP BY user_id")
    n_idx, n_keys = con.execute("SELECT count(*), count(DISTINCT user_id) FROM idx").fetchone()
    n_ref = con.execute(f"SELECT count(*) FROM ({ref})").fetchone()[0]
    wrong_winner = con.execute(
        f"SELECT count(*) FROM ({ref}) r FULL JOIN idx i USING (user_id) "
        f"WHERE r.event_id IS DISTINCT FROM i.event_id").fetchone()[0]
    wrong_row = con.execute(
        "SELECT count(*) FROM idx i LEFT JOIN src s USING (event_id) "
        "WHERE s.event_id IS NULL OR i.user_id != s.user_id OR i.ts != s.ts "
        "OR i.value != s.value OR i.event_type != s.event_type OR i.props != s.props").fetchone()[0]
    ok = n_idx == n_keys == n_ref and wrong_winner == 0 and wrong_row == 0
    detail = (f"index rows={n_idx} keys={n_keys} reference keys={n_ref} "
              f"wrong winners={wrong_winner} wrong rows={wrong_row}")
    return [("river_last_write_wins", ok, detail)], n_keys


def _cte_span(sql, name):
    """(start, end) of `name AS (...)` in a WITH clause, parentheses
    balanced; None if absent."""
    m = re.search(rf"(?<![\w]){name} AS \(", sql)
    if not m:
        return None
    depth = 0
    for i in range(m.end() - 1, len(sql)):
        depth += {"(": 1, ")": -1}.get(sql[i], 0)
        if depth == 0:
            return m.start(), i + 1
    return None


# The manifest oracle's string near-dup stage compares all pairs of
# documents with list_intersect, and DuckDB re-evaluates an unmaterialised
# CTE at every reference (the recursive cluster step references it once
# per round): minutes at two thousand documents.  The check runs the
# registry's SQL with every CTE materialised and that one stage in an
# equivalent inverted-index form: the same pairs (a pair sharing no
# shingle has Jaccard 0), the same Jaccard expression.
PAIRS_BY_SHARED_SHINGLE = """pr AS (SELECT c.a_id, c.b_id FROM (
         SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter
         FROM (SELECT doc_id, unnest(sh) AS s FROM sh) x
         JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) y ON x.s = y.s AND x.doc_id < y.doc_id
         GROUP BY 1, 2) c
       JOIN sh a ON a.doc_id = c.a_id JOIN sh b2 ON b2.doc_id = c.b_id
       WHERE CAST(c.inter AS DOUBLE) / (len(a.sh) + len(b2.sh) - c.inter) >= 0.8)"""


def affordable_manifest_sql(sql):
    span = _cte_span(sql, "pr")
    if span is None or "list_intersect(a.sh, b2.sh)" not in sql[span[0]:span[1]]:
        raise ValueError("the manifest oracle no longer has the expected pair stage")
    sql = sql[:span[0]] + PAIRS_BY_SHARED_SHINGLE + sql[span[1]:]
    return re.sub(r"(^|,\s*|WITH RECURSIVE\s+)(\w+) AS \(",
                  lambda x: f"{x.group(1)}{x.group(2)} AS MATERIALIZED (", sql)


def release(work, data_dir, planted):
    """Oracle equality of the manifest plus two direct invariants: no
    two released docs share a fingerprint, and no planted contamination
    ships."""
    results = oracle_outputs(work, data_dir, affordable_manifest_sql)
    con = _connect(work)
    _views(con, data_dir)
    out = f"{work}/out/pipe_release_manifest_v3"
    con.execute(f"CREATE VIEW rel AS SELECT * FROM read_parquet('{out}/*.parquet')")
    # the registry entry's fixed PII strings, then the pipeline's fingerprint
    dup = con.execute(r"""
        WITH p AS (SELECT doc_id, text
            || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
            || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS text FROM documents)
        SELECT count(*) - count(DISTINCT md5(array_to_string(list_sort(list_distinct(
            string_split_regex(lower(text), '\s+'))), ' ')))
        FROM p JOIN rel USING (doc_id)""").fetchone()[0]
    results.append(("release_unique_fingerprints", dup == 0, f"{dup} released duplicates"))
    released = {r[0] for r in con.execute("SELECT doc_id FROM rel").fetchall()}
    leaked = sorted(released & set(planted["contam"]))
    results.append(("release_no_planted_contamination", not leaked,
                    f"{len(leaked)} contaminated docs shipped {leaked[:5]}"))
    return results, len(released)
