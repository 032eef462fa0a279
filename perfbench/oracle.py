"""DuckDB recomputation of what the program wrote, for the correctness checks.

The SQL restates the library's semantics independently: cleaning drops rows
with a null in any output column, then exact duplicates; sums of prices are
exact DECIMAL(18,2) sums cast to DOUBLE.
"""

import math
import os

import duckdb

FACT_DAILY = """
SELECT DISTINCT * FROM (
  SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
         l_partkey, l_suppkey, COUNT(*) AS inventory_count
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY ALL)
WHERE date_id IS NOT NULL AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL"""

FACT_MONTHLY = """
SELECT DISTINCT * FROM (
  SELECT o_custkey, o_orderkey,
         CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100 + 1 AS INTEGER) AS date_id,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monthly_payment_total
  FROM orders GROUP BY 1, 2, 3)
WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL AND date_id IS NOT NULL
  AND monthly_payment_total IS NOT NULL"""


def _dim(table, cols):
    return (f"SELECT DISTINCT {', '.join(cols)} FROM {table} WHERE "
            + " AND ".join(f"{c} IS NOT NULL" for c in cols))


WAREHOUSE = {
    "dim_customer": _dim("customer", ["c_custkey", "c_name", "c_nationkey"]),
    "dim_supplier": _dim("supplier", ["s_suppkey", "s_name", "s_nationkey"]),
    "dim_part": _dim("part", ["p_partkey", "p_name", "p_brand", "p_type"]),
    "dim_order": _dim("orders", ["o_orderkey", "o_orderdate", "o_custkey"]),
    "dim_date": """
      SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_id, CAST(d AS DATE) AS full_date,
             CAST(month(d) AS INTEGER) AS month, CAST(year(d) AS INTEGER) AS year
      FROM generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY) AS t(d)""",
    "fact_daily_inventory": FACT_DAILY,
    "fact_monthly_payment": FACT_MONTHLY,
}


def dashboard_sql(template, p):
    """The DuckDB twin of one dashboard query template with parameter p."""
    day = "CAST(strptime(CAST(date_id AS VARCHAR), '%Y%m%d') AS DATE)"
    dec = "CAST(o_totalprice AS DECIMAL(18,2))"
    return {
        "q1": f"""WITH f AS ({FACT_MONTHLY})
            SELECT {day} AS month_start,
                   CAST(SUM(CAST(monthly_payment_total AS DECIMAL(18,2))) AS DOUBLE) AS monthly_revenue
            FROM f GROUP BY 1""",
        "q2": f"""WITH f AS ({FACT_DAILY})
            SELECT p_name, CAST(SUM(inventory_count) AS BIGINT) AS total_inventory
            FROM f JOIN part ON l_partkey = p_partkey GROUP BY p_name
            ORDER BY total_inventory DESC, p_name ASC NULLS FIRST LIMIT {int(p)}""",
        "q3": f"""WITH f AS ({FACT_DAILY})
            SELECT {day} AS date, CAST(SUM(inventory_count) AS BIGINT) AS inventory_count
            FROM f WHERE l_suppkey = {int(p)} GROUP BY 1""",
        "top_customers": f"""WITH spend AS (
              SELECT o_custkey, CAST(SUM({dec}) AS DOUBLE) AS total_spend FROM orders
              GROUP BY o_custkey ORDER BY total_spend DESC, o_custkey ASC NULLS FIRST LIMIT {int(p)})
            SELECT o_custkey, c_name, total_spend FROM spend JOIN customer ON o_custkey = c_custkey""",
        "rollup": f"""SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
                   CAST(SUM({dec}) AS DOUBLE) AS revenue
            FROM orders GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))""",
        "trailing7": f"""WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS order_day, SUM({dec}) AS rev FROM orders GROUP BY 1)
            SELECT order_day, CAST(rev AS DOUBLE) AS daily_revenue,
                   CAST(SUM(rev) OVER (ORDER BY order_day
                        RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d
            FROM daily""",
        "gapfill": f"""WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_suppkey = {int(p)} GROUP BY 1),
            spine AS (
              SELECT CAST(unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) AS DATE) AS d
              FROM daily)
            SELECT spine.d AS order_day, n AS n_items,
                   last_value(n IGNORE NULLS) OVER (ORDER BY spine.d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_items_filled
            FROM spine LEFT JOIN daily USING (d)""",
    }[template]


def connect(data, tables):
    """DuckDB connection with a view per input table directory."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    return con


def checksum(con, relation, cols):
    """(row count, order-independent checksum) of `cols` of a relation."""
    args = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return tuple(con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(CAST(hash({args}) AS HUGEINT)), 0) FROM ({relation})"
    ).fetchone())


def check_warehouse(data, warehouse):
    """Per warehouse table: (ok, detail). The program's output must have the
    row count and checksum of the DuckDB recomputation over the same input."""
    con = connect(data, ["customer", "supplier", "part", "orders", "lineitem"])
    out = {}
    for name, sql in WAREHOUSE.items():
        cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
        want = checksum(con, sql, cols)
        files = f"{warehouse}/{name}/**/*.parquet"
        got = checksum(con, f"SELECT * FROM read_parquet('{files}', hive_partitioning = true)", cols)
        out[name] = (got == want, f"program {got} vs duckdb {want}")
    con.close()
    return out


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return float(v)
    return str(v)


def _sort_key(row):
    return tuple((0, "") if v is None else (1, f"{v:.6e}") if isinstance(v, float) else (2, v)
                 for v in row)


def same_rows(got, want):
    """Multiset equality of two row lists; floats compare to 1e-9 relative."""
    if len(got) != len(want):
        return False
    g = sorted(([_norm(v) for v in r] for r in got), key=_sort_key)
    w = sorted(([_norm(v) for v in r] for r in want), key=_sort_key)
    for rg, rw in zip(g, w):
        for a, b in zip(rg, rw):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def check_dashboard(data, captured):
    """Per captured `template:param`: (ok, detail) against DuckDB."""
    con = connect(data, ["customer", "part", "orders", "lineitem"])
    out = {}
    for key, res in captured.items():
        template, p = key.split(":")
        cur = con.execute(dashboard_sql(template, p))
        cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        if cols != list(res["columns"]):
            out[key] = (False, f"columns {res['columns']} vs duckdb {cols}")
            continue
        ok = same_rows(res["rows"], want)
        out[key] = (ok, f"{len(res['rows'])} rows vs duckdb {len(want)}")
    con.close()
    return out


def corpus_ids(corpus_dir):
    if not os.path.isdir(corpus_dir):
        return set()
    con = duckdb.connect()
    ids = {r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{corpus_dir}/*.parquet')").fetchall()}
    con.close()
    return ids
