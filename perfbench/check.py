"""Output check. Each operation's result is reduced to a row count and an
order-independent digest, with dev/check.py's comparison rules: column
names compared as a set, values exact (floats bit for bit), rows as a
multiset. Spark's outputs (parquet written on the verification pass) and the
expected relations are both read through DuckDB and reduced by the same
code.

Query workloads compare against expected/<fixture>.json, computed once
from SparkEntry.oracleSql (see expected.py). lake_lifecycle compares its
reads and its final snapshot against a relational replay, in DuckDB, of
the same seeded operation list."""
import datetime
import glob
import hashlib
import os


def norm(v):
    """dev/check.py's value normalisation, plus: timezone-aware timestamps
    become naive UTC (Spark writes UTC-adjusted timestamps) and maps and
    structs compare by sorted items."""
    if isinstance(v, float):
        return ("f", "nan") if v != v else ("f", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((str(k), norm(x)) for k, x in v.items())))
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return (type(v).__name__, v)


def digest(con, sql):
    """(row count, hex digest) of a relation: the digest sums a hash of
    each row, so row order does not matter but duplicates do."""
    rel = con.sql(sql)
    cols = rel.columns
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    total = int.from_bytes(hashlib.sha1(
        repr(sorted(cols)).encode()).digest()[:8], "big")
    n = 0
    for row in rel.fetchall():
        h = hashlib.sha1(repr(tuple(norm(row[i]) for i in idx)).encode())
        total = (total + int.from_bytes(h.digest()[:8], "big")) % (1 << 64)
        n += 1
    return n, f"{total:016x}"


def output_sql(verify_dir, op_id):
    files = glob.glob(os.path.join(verify_dir, str(op_id), "*.parquet"))
    if not files:
        return None
    return f"SELECT * FROM read_parquet('{verify_dir}/{op_id}/*.parquet')"


def compare(con, verify_dir, op, want):
    """None if the output matches `want`, else a one-line reason."""
    sql = output_sql(verify_dir, op["id"])
    if sql is None:
        return None if want["rows"] == 0 else "no output written"
    rows, dig = digest(con, sql)
    if rows != want["rows"]:
        return f"rows {rows} != expected {want['rows']}"
    if not want.get("rows_only") and dig != want["digest"]:
        return f"digest {dig} != expected {want['digest']}"
    return None


def check_queries(con, verify_dir, ops, expected):
    """Mismatches of query outputs against expected[fixture][name], by op id."""
    bad = {}
    for op in ops:
        want = expected[op["fixture"]].get(op["name"])
        if want is None:
            bad[op["id"]] = "no expected value"
            continue
        reason = compare(con, verify_dir, op, want)
        if reason:
            bad[op["id"]] = reason
    return bad


def replay_lake(con, ops):
    """Relational replay of a lake_lifecycle pass over the same input files.
    Returns the expected (rows, digest) of every operation that outputs
    rows; leaves the final table in `t`."""
    def load(op):
        a = op["args"]
        cols = ", ".join(f'CAST("{d}" AS {a["casts"][c]}) AS {c}' if c in a["casts"]
                         else f'"{d}" AS {c}' for d, c in a["rename"].items())
        return f"SELECT {cols} FROM read_parquet('{a['path']}')"

    snap_needed = {op["args"][k] for op in ops
                   for k in ("at_op", "after_op") if k in op["args"]}
    expected, appended, tailed = {}, [], 0

    def union(sqls):
        return " UNION ALL ".join(sqls) if sqls else "SELECT * FROM t LIMIT 0"

    for op in ops:
        k, a = op["kind"], op["args"]
        if k == "create":
            con.execute(f"CREATE OR REPLACE TABLE t AS {load(op)} LIMIT 0")
        elif k == "append":
            con.execute(f"INSERT INTO t {load(op)}")
            appended.append(op)
        elif k == "delete":
            con.execute(f"DELETE FROM t WHERE {a['pred']}")
        elif k == "update":
            sets = ", ".join(f"{c} = {e}" for c, e in a["set"].items())
            con.execute(f"UPDATE t SET {sets} WHERE {a['pred']}")
        elif k == "merge":
            src = f"read_parquet('{a['path']}')"
            on = " AND ".join(f"s.{c} = t.{c}" for c in a["key"])
            con.execute(f"DELETE FROM t WHERE EXISTS (SELECT 1 FROM {src} s WHERE {on})")
            con.execute(f"INSERT INTO t BY NAME SELECT * FROM {src}")
        elif k == "read":
            where = f" WHERE {a['pred']}" if "pred" in a else ""
            expected[op["id"]] = digest(con, f"SELECT * FROM t{where}")
        elif k == "time_travel":
            expected[op["id"]] = digest(con, f"SELECT * FROM snap_{a['at_op']}")
        elif k == "changes":
            expected[op["id"]] = digest(con, union(
                [load(o) for o in appended if a["after_op"] < o["id"] <= a["to_op"]]))
        elif k == "tail":
            expected[op["id"]] = digest(con, union([load(o) for o in appended[tailed:]]))
            tailed = len(appended)
        if op["id"] in snap_needed:
            con.execute(f"CREATE OR REPLACE TABLE snap_{op['id']} AS SELECT * FROM t")
    return expected


def check_lake(con, verify_dir, ops):
    """Mismatches of the lake reads against the replay, by op id."""
    want = replay_lake(con, ops)
    bad = {}
    for op in ops:
        if op["id"] in want:
            rows, dig = want[op["id"]]
            reason = compare(con, verify_dir, op, {"rows": rows, "digest": dig})
            if reason:
                bad[op["id"]] = reason
    return bad


def plain_bytes(con, table, path):
    """Bytes of a DuckDB table written once as plain parquet."""
    con.execute(f"COPY {table} TO '{path}' (FORMAT PARQUET)")
    return os.path.getsize(path)
