"""Output checks that need DuckDB, run after the JVM exits (outside the
timed region). Each returns {op index: error} for the ops it fails.

- etl_mapping: one SQL template per rule feature over the same CSV
  sheets; the first Output of each rule table is compared row for row,
  and every op's Output digest must equal that verified copy's.
- battery_multiaction: each query's result is hash-compared with
  `SparkEntry.oracleSql` the way the repository's oracle gate hashes,
  and every op's row count must equal the oracle's.
"""
import csv
import decimal
import glob
import hashlib
import io
import math
import os


def line_digest(lines):
    """Order-independent digest: sum of each line's leading 8 SHA-256
    bytes (big-endian), mod 2**64 -- the JVM side computes the same."""
    s = 0
    for line in lines:
        s += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")
    return s % (1 << 64)


def read_output(dirpath):
    """(header, data lines) of a Spark CSV output directory."""
    header, lines = None, []
    for p in sorted(glob.glob(os.path.join(dirpath, "part-*.csv"))):
        with open(p, encoding="utf-8", newline="") as f:
            ls = f.read().split("\n")
        if ls and ls[-1] == "":
            ls.pop()
        if ls:
            header = header or ls[0]
            lines.extend(ls[1:])
    return header, lines


ETL_SQL = {
    "plain": """SELECT l_orderkey AS OrderKey, l_linenumber AS Line,
        l_quantity AS Qty, l_returnflag AS Flag, '{tag}' AS Tag
        FROM src WHERE TRY_CAST(l_quantity AS DOUBLE) >= {q}
        OR l_returnflag = '{flag}'""",
    "join": """SELECT l_orderkey AS OrderKey, l_linenumber AS Line,
        o_orderstatus AS Status, o_totalprice AS Price
        FROM src JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = '{status}'""",
    # self[Bal] is output column C; A1 rows count from 2 (header row)
    "self": """SELECT l_orderkey AS OrderKey, l_linenumber AS Line,
        '=' || l_extendedprice || '*2' AS Bal,
        '=C' || CAST(rn + 1 AS VARCHAR) || '&"!"' AS Ref
        FROM (SELECT *, row_number() OVER (ORDER BY
                CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INT)) AS rn
              FROM src WHERE TRY_CAST(l_quantity AS DOUBLE) >= {q}
              OR l_returnflag = '{flag}')""",
}
ETL_SQL["type"] = ETL_SQL["plain"]


def check_etl(inputs, checks, ops, plan):
    import duckdb
    con = duckdb.connect()
    sheets = os.path.join(inputs, "sheets")
    for view, name in (("src", "Source"), ("orders", "Orders")):
        con.execute(f"CREATE TABLE {view} AS SELECT * FROM read_csv("
                    f"'{sheets}/{name}.csv', header=true, all_varchar=true)")
    verified, errors, expect_rows = {}, {}, {}
    for m in sorted(os.listdir(checks)) if os.path.isdir(checks) else []:
        spec = plan["maps"][m]
        res = con.execute(ETL_SQL[spec["feature"]].format(**spec))
        cols = [d[0] for d in res.description]
        want = sorted(tuple("" if v is None else v for v in r)
                      for r in res.fetchall())
        header, lines = read_output(os.path.join(checks, m))
        got = sorted(tuple(r) for r in csv.reader(io.StringIO("\n".join(lines))))
        if header != ",".join(cols) or got != want:
            verified[m] = None
            errors[m] = (f"{m}: Output differs from the DuckDB oracle "
                         f"({len(got)} vs {len(want)} rows)")
        else:
            verified[m] = line_digest(lines)
        expect_rows[m] = len(want)
    failed = {}
    for op in ops:
        m = plan["ops"][op["i"] % len(plan["ops"])]["map"]
        f = op.get("facts", {})
        digest = (int(f.get("digest_hi", -1)) << 32) | int(f.get("digest_lo", 0))
        if m not in verified:
            failed[op["i"]] = f"{m}: no verified Output copy"
        elif verified[m] is None:
            failed[op["i"]] = errors[m]
        elif op["rows"] != expect_rows[m] or digest != verified[m]:
            failed[op["i"]] = f"{m}: Output differs from the verified copy"
    return failed


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v)) + ".0"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in sorted(tuple(canon(r[i]) for i in order) for r in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check_battery(inputs, results, ops, plan):
    import duckdb
    import json
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "tables", "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad, rows = {}, {}
    for q, sql in oracles.items():
        try:
            t = pq.read_table(os.path.join(results, q))
            s_cols = list(t.column_names)
            s_rows = list(zip(*[t.column(i).to_pylist()
                                for i in range(t.num_columns)]))
            if sql is None:
                bad[q] = f"{q}: no oracle SQL"
                continue
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            at = res.arrow()
            d_rows = list(zip(*[at.column(i).to_pylist()
                                for i in range(at.num_columns)]))
        except Exception as e:  # a broken result or oracle fails the query
            bad[q] = f"{q}: {type(e).__name__}: {str(e)[:200]}"
            continue
        rows[q] = len(d_rows)
        if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows) \
                or fingerprint(s_cols, s_rows) != fingerprint(d_cols, d_rows):
            bad[q] = f"{q}: result differs from the DuckDB oracle"
    failed = {}
    for op in ops:
        q = op["kind"]
        if q in bad:
            failed[op["i"]] = bad[q]
        elif op["rows"] != rows.get(q):
            failed[op["i"]] = f"{q}: count {op['rows']} != oracle {rows.get(q)}"
    return failed


CHECKS = {"etl_mapping": check_etl, "battery_multiaction": check_battery}


def check(workload, inputs, checks, ops, plan):
    """`checks` holds the outputs the JVM kept for these checks."""
    fn = CHECKS.get(workload)
    return fn(inputs, checks, ops, plan) if fn else {}
