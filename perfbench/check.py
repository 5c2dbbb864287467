"""Output checks for the benchmark, computed apart from graft in DuckDB.

`canon` is the row canonicaliser of tools/local_check.py: columns sorted
by name, each cell printed the same way on both sides, rows sorted, then
hashed; floats compare to six significant digits. The only addition is
Decimal cells (Derby DECIMAL read back through Spark), printed as floats.
"""
import decimal
import hashlib
import os

import duckdb
import pandas as pd

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
ORACLES = os.path.join(BENCH_DIR, "oracles.json")


def kind(col):
    s = str(col.dtype)
    if "int" in s:
        return "int"
    if "float" in s or "double" in s:
        return "float"
    if "bool" in s:
        return "bool"
    if "datetime" in s:
        return "date"
    nn = col.dropna()
    if len(nn):
        v = nn.iloc[0]
        t = type(v).__name__
        if t in ("date", "Timestamp", "datetime"):
            return "date"
        if t in ("int", "int64"):
            return "int"
        if t in ("float", "float64", "Decimal"):
            return "float"
        if t == "bool":
            return "bool"
        if isinstance(v, (list, tuple)) or "ndarray" in t:
            return "list"
    return "obj"


def cell(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, (float, decimal.Decimal)):
        return f"{float(v):.6g}"
    if type(v).__name__ in ("date", "Timestamp", "datetime"):
        return str(pd.to_datetime(v))
    if isinstance(v, (list, tuple)) or "ndarray" in type(v).__name__:
        return str(list(v))
    return str(v)


def cells(col):
    """`cell` of every value, computed once per distinct value."""
    obj = col.astype(object)
    try:
        nulls = obj.isna()
        memo = {v: cell(v) for v in pd.unique(obj[~nulls])}
    except TypeError:  # unhashable cells (lists)
        return obj.map(cell)
    return obj.where(nulls, obj.map(memo)).where(~nulls, "NULL")


def canon(df):
    """(sorted columns, row count, md5 of the sorted row strings, type
    classes) of a frame, independent of row and column order."""
    df = df.reindex(sorted(df.columns), axis=1)
    tsig = [kind(df[c]) if len(df) else "any" for c in df.columns]
    cols = [cells(df[c]) for c in df.columns]
    joined = cols[0] if cols else pd.Series([""] * len(df), dtype=object)
    for c in cols[1:]:
        joined = joined + "|" + c
    rows = sorted(joined.tolist())
    return {"columns": sorted(df.columns), "rows": len(rows),
            "md5": hashlib.md5("\n".join(rows).encode()).hexdigest(),
            "types": tsig}


def connect(table_dir):
    """DuckDB with one view per parquet table in `table_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(table_dir, f)}/**/*.parquet')"
                        if os.path.isdir(os.path.join(table_dir, f)) else
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(table_dir, f)}')")
    return con


def input_digest(table_dir):
    """Row count and an order-independent hash of every input table."""
    con = connect(table_dir)
    out = {}
    for (name,) in con.execute(
            "SELECT view_name FROM duckdb_views() WHERE NOT internal "
            "ORDER BY view_name").fetchall():
        n, h = con.execute(
            f"SELECT count(*), sum(hash(CAST(t AS VARCHAR))) FROM {name} t").fetchone()
        out[name] = f"{n}:{h}"
    return out


# The migration's rules, restated in SQL: lookups as left joins, range
# rules as CASE, skip rules as filters (config/tables/*.yaml).
MIGRATE_SQL = {
    "dim_nation": """
        SELECT n_nationkey AS nation_key, lower(n_name) AS nation_name,
               n_regionkey AS region_key
        FROM nation""",
    "dim_customer": """
        SELECT c.c_custkey AS cust_key, upper(c.c_name) AS cust_name,
               n.nation_name,
               CASE WHEN c.c_acctbal IS NULL
                      OR (c.c_acctbal >= 0 AND c.c_acctbal <= 10000)
                    THEN c.c_acctbal ELSE 0 END AS acct_bal,
               lower(c.c_mktsegment) AS segment
        FROM customer c LEFT JOIN dim_nation n ON c.c_nationkey = n.nation_key""",
    "fact_orders": """
        SELECT o_orderkey AS order_key, o_custkey AS cust_key,
               lower(o_orderstatus) AS status, o_totalprice AS total_price,
               CAST(o_orderdate AS DATE) AS order_date,
               regexp_replace(o_orderpriority, '^\\s+|\\s+$', '', 'g') AS priority
        FROM orders
        WHERE (o_custkey IS NULL
               OR CAST(o_custkey AS VARCHAR) IN
                  (SELECT CAST(cust_key AS VARCHAR) FROM dim_customer))
          AND (o_totalprice IS NULL OR o_totalprice >= 5000)""",
    "fact_lineitem": """
        SELECT l_orderkey AS order_key, l_linenumber AS line_number,
               l_quantity AS quantity, l_extendedprice AS extended_price,
               CASE WHEN l_discount IS NULL
                      OR (l_discount >= 0 AND l_discount <= 0.08::DOUBLE)
                    THEN l_discount ELSE 0 END AS discount,
               l_tax AS tax, lower(l_returnflag) AS return_flag,
               l_linestatus AS line_status, CAST(l_shipdate AS DATE) AS ship_date
        FROM lineitem
        WHERE (l_orderkey IS NULL
               OR CAST(l_orderkey AS VARCHAR) IN
                  (SELECT CAST(order_key AS VARCHAR) FROM fact_orders))
          AND (l_quantity IS NULL OR (l_quantity >= 1 AND l_quantity <= 45))""",
}


def check_migrate(out_dir, facts):
    """Derby targets against the DuckDB tables, plus the two properties
    of the method: written + skipped = source rows, and rejects = skipped."""
    errors = []
    con = connect(DATA_DIR)
    # the never-firing error rule must indeed never fire
    if con.execute("SELECT count(*) FROM nation "
                   "WHERE n_regionkey < 0 OR n_regionkey > 4").fetchone()[0]:
        errors.append("dim_nation: the abort rule should have fired")
    for name, sql in MIGRATE_SQL.items():
        con.execute(f"CREATE TABLE {name} AS {sql}")
        want = canon(con.execute(f"SELECT * FROM {name}").fetchdf())
        got = canon(pd.read_parquet(os.path.join(out_dir, name)))
        if got != want:
            errors.append(f"{name}: target {got['rows']} rows {got['md5']} "
                          f"{got['types']}, expected {want['rows']} rows "
                          f"{want['md5']} {want['types']}")
    tables = facts.get("tables", [])
    if sorted(t["table"] for t in tables) != sorted(MIGRATE_SQL):
        errors.append(f"migration report covers {[t['table'] for t in tables]}")
    for t in tables:
        if t["written"] + t["skipped"] != t["source_rows"]:
            errors.append(f"{t['table']}: {t['written']} written + {t['skipped']} "
                          f"skipped != {t['source_rows']} source rows")
        if t["rejects"] != t["skipped"]:
            errors.append(f"{t['table']}: {t['rejects']} quarantined rejects != "
                          f"{t['skipped']} skipped")
    return errors


def check_register(workload, out_dir, query_dir, rows, oracles):
    """Each row's output against its DuckDB oracle; the forced row count
    of the timed passes against the checked output."""
    errors = []
    want = oracles.get(workload)
    if want is None:
        return [f"no oracles for {workload}; run make_oracles.py"]
    digest = input_digest(query_dir)
    if digest != want["inputs"]:
        return [f"staged inputs {digest} differ from the oracles' {want['inputs']}"]
    for q, exp in sorted(want["rows"].items()):
        got = canon(pd.read_parquet(os.path.join(out_dir, q)))
        if got != exp:
            errors.append(f"{q}: output {got['rows']} rows {got['md5']} "
                          f"{got['types']}, oracle {exp['rows']} rows "
                          f"{exp['md5']} {exp['types']}")
        if rows.get(q) != got["rows"]:
            errors.append(f"{q}: timed passes produced {rows.get(q)} rows, "
                          f"checked output has {got['rows']}")
    return errors
