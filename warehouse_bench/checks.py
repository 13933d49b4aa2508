"""Output checks, run outside every timed region.

- OLAP results against the package's DuckDB oracles, values compared
  to 17 significant digits after sorting columns by name and rows by
  value (the same rule as the repository's oracle harness).
- The ETL warehouse: ``sales_fact`` holds each distinct valid
  transaction exactly once, and the served quarterly aggregate equals
  both a grouped sum over the committed ``sales_fact`` and the
  generator's own reference sums, exact in integer mills.
"""

from __future__ import annotations

import math

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_val(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.17g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    return v


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_val(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(normed, key=repr)


def oracle_answer(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return normalize([d[0] for d in res.description], res.fetchall())


def mismatch(expected, cols: list[str], rows: list[tuple]) -> str | None:
    """None when ``(cols, rows)`` equals the normalized oracle answer."""
    got_cols, got = normalize(cols, rows)
    exp_cols, exp = expected
    if got_cols != exp_cols:
        return f"columns {got_cols} != {exp_cols}"
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    bad = sum(1 for a, b in zip(got, exp) if a != b)
    return f"{bad} rows differ" if bad else None


def served_mills(rows) -> dict:
    """quarterly_sales_serve rows -> (store_id, quarter, year) -> (mills, qty)."""
    return {
        (r["store_id"], int(r["quarter"]), int(r["year"])): (
            int(round(r["total_quarterly_revenue"] * 1000)),
            int(r["total_quarterly_quantity"]),
        )
        for r in rows
    }


def fact_mills(fact) -> dict:
    """The same grouping recomputed from the committed ``sales_fact``."""
    from pyspark.sql import functions as F

    rows = (
        fact.groupBy(
            "store_id",
            F.expr("(month + 2) div 3").cast("int").alias("quarter"),
            F.col("year").cast("int").alias("year"),
        )
        .agg(
            F.sum(F.round(F.col("total_revenue") * 1000, 0).cast("long")).alias("m"),
            F.sum(F.col("quantity_ordered").cast("long")).alias("q"),
        )
        .collect()
    )
    return {(r["store_id"], r["quarter"], r["year"]): (r["m"], r["q"]) for r in rows}


def warehouse_errors(wh, served_rows, expected_rows: int, expected_agg: dict) -> list[str]:
    """Every check of a drained warehouse; an empty list means all hold."""
    errors = []
    fact = wh.read("sales_fact")
    n = fact.count() if fact is not None else 0
    if n != expected_rows:
        errors.append(f"sales_fact holds {n} rows, expected {expected_rows}")
    served = served_mills(served_rows)
    if fact is not None and served != fact_mills(fact):
        errors.append("served aggregate != grouped sum over sales_fact")
    if served != expected_agg:
        errors.append("served aggregate != generator reference sums")
    return errors
