"""Expected outputs, computed in DuckDB from the generated files once
per seed, outside timing."""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import duckdb

import gen


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for fname in sorted(os.listdir(data_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(data_dir, fname)
            con.execute(f"CREATE VIEW {fname[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def query_counts(data_dir: str, specs: dict) -> dict[str, int]:
    """Row count of every query's oracle SQL on the generated tables
    (queries without an oracle are left out)."""
    con = _connect(data_dir)
    try:
        return {
            name: con.execute(f"SELECT count(*) FROM ({spec.oracle})").fetchone()[0]
            for name, spec in specs.items()
            if spec.oracle is not None
        }
    finally:
        con.close()


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, decimal.Decimal):
        return f"{v:.2f}"
    return str(v)


def rows_hash(rows: list[dict]) -> str:
    """Order-insensitive content hash: canonical rows, sorted."""
    lines = sorted("|".join(f"{k}={_canon(r[k])}" for k in sorted(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


#: the tenant_elt models, recomputed over the source files
_MART_SQL = {
    "fct_orders": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, updated_at FROM orders_now
    """,
    "mart_customer_revenue": """
        SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS n_orders,
               coalesce(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 0) AS revenue
        FROM customer_now c LEFT JOIN orders_now o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_mktsegment
    """,
}


def elt_expected(stage_dir: str, cycle: int, tenants: tuple[str, ...]) -> dict:
    """Per tenant after ``cycle``'s run: the row count of every raw
    table and model, and the content hash of every mart."""
    con = duckdb.connect()
    out = {}
    try:
        for t in tenants:
            for tbl in gen.ELT_TABLES:
                files = ", ".join(
                    f"'{os.path.join(stage_dir, str(k), tbl + '.parquet')}'"
                    for k in range(cycle + 1)
                )
                src = f"SELECT * FROM read_parquet([{files}]) WHERE tenant = '{t}'"
                if tbl == "orders":  # the latest version of each key wins
                    src = (
                        "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
                        f"(PARTITION BY o_orderkey ORDER BY updated_at DESC) AS rn FROM ({src})) "
                        "WHERE rn = 1"
                    )
                con.execute(f"CREATE OR REPLACE VIEW {tbl}_now AS {src}")
            counts = {
                tbl: con.execute(f"SELECT count(*) FROM {tbl}_now").fetchone()[0]
                for tbl in gen.ELT_TABLES
            }
            hashes = {}
            for mart, sql in _MART_SQL.items():
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                rows = [dict(zip(cols, r)) for r in cur.fetchall()]
                hashes[mart] = rows_hash(rows)
                counts[mart] = len(rows)
            counts["stg_orders"] = counts["orders"]
            out[t] = {"counts": counts, "hashes": hashes}
    finally:
        con.close()
    return out
