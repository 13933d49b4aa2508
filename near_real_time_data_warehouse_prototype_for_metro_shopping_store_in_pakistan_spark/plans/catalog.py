"""Durable catalog surface — V1/V2 parity with the reference's MySQL
catalog.

The reference persists its star schema DDL
(SQL/Star_Schema_Metro.sql:1-85) and the STORE_QUARTERLY_SALES view
(SQL/OLAP Queries - Metro.sql:276-288) in MySQL's catalog: any later
connection resolves them by name. The Spark twin is a
warehouse-dir-backed metastore (``session.get_spark(catalog_dir=...)``
— Hive/Derby locally, a shared metastore service on a cluster):
``publish_star_schema`` writes the dims + fact as managed parquet
tables and defines the view OVER THE CATALOG TABLES, so a fresh
session pointed at the same catalog dir — days later, different
process — runs ``SELECT ... FROM metro.store_quarterly_sales``
without re-deriving anything.

Scale notes: the fact table is written partitioned by (year, month) —
the same layout ``operators.etl.DeltaWarehouse`` uses — so
catalog-table scans partition-prune exactly like path-based reads of
a Delta warehouse (the manifest warehouse prunes by order_date zone
maps instead).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import star

# The view text mirrors plans.sql_queries' q10 (same integer-cents
# money math); it references the CATALOG tables so the definition
# survives the session that created it.
STORE_QUARTERLY_SALES_VIEW = """
    SELECT /*+ BROADCAST(s) */ store_id, store_name, quarter, year,
           SUM(revenue_cents) / 100.0D AS total_quarterly_revenue,
           SUM(quantity_ordered) AS total_quarterly_quantity
    FROM {db}.sales_fact f JOIN {db}.stores s USING (store_id)
    GROUP BY store_id, store_name, quarter, year
"""


# Join-key (and grouping) columns per catalog table: the FOR COLUMNS
# list ANALYZE publishes NDV/min/max for — what the cost-based
# optimizer uses to estimate join cardinalities and pick build sides.
ANALYZE_COLUMNS: dict[str, list[str]] = {
    "sales_fact": ["product_id", "supplier_id", "store_id", "customer_id"],
    "products": ["product_id"],
    "suppliers": ["supplier_id", "store_id"],
    "stores": ["store_id"],
    "customers_dim": ["customer_id"],
}


def analyze_tables(
    spark: SparkSession,
    database: str = "metro",
    columns: dict[str, list[str]] | None = None,
) -> None:
    """Publish row-count/size statistics (the ANALYZE TABLE
    equivalent) for every table in ``database``, plus column NDV/
    min/max for the configured join keys.

    Why this matters at scale: without catalog statistics Catalyst
    estimates a table's size from raw FILE bytes — compressed parquet
    under-estimates in-memory size ~2-5×, and a dimension that has
    outgrown ``spark.sql.autoBroadcastJoinThreshold`` (10 MB default)
    on disk-but-not-logically (or vice versa) gets the wrong join
    strategy silently. With stats, broadcast decisions and CBO join
    reordering (``spark.sql.cbo.enabled``) run off true row counts —
    the knob a 100 TB deployment must turn after every large load,
    exactly like the reference's MySQL optimizer re-planning off
    ``ANALYZE TABLE`` statistics. Partitioned tables get per-partition
    stats too (``PARTITION`` clause unnecessary — Spark's ANALYZE on
    the table covers the union)."""
    columns = ANALYZE_COLUMNS if columns is None else columns
    for row in spark.sql(f"SHOW TABLES IN {database}").collect():
        if row["isTemporary"]:
            continue
        name = row["tableName"]
        try:
            spark.sql(
                f"ANALYZE TABLE {database}.{name} COMPUTE STATISTICS"
            )
        except Exception:
            continue  # views appear in SHOW TABLES on some catalogs
        cols = columns.get(name)
        if cols:
            spark.sql(
                f"ANALYZE TABLE {database}.{name} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(cols)}"
            )


def publish_star_schema(
    spark: SparkSession,
    sf_dir: str,
    database: str = "metro",
    analyze: bool = True,
) -> None:
    """Persist the star schema + STORE_QUARTERLY_SALES into the
    session catalog (durable iff the session has a metastore-backed
    catalog — see module docstring). ``analyze=True`` (default)
    publishes table/column statistics afterwards (``analyze_tables``)
    so later sessions' broadcast/CBO decisions run off true sizes."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    (
        star.sales_fact(spark, sf_dir)
        .write.mode("overwrite")
        .partitionBy("year", "month")
        .saveAsTable(f"{database}.sales_fact")
    )
    dims = {
        "products": star.products_dim,
        "suppliers": star.supplier_dim,
        "stores": star.store_dim,
        "customers_dim": star.customers_dim,
    }
    for name, build in dims.items():
        build(spark, sf_dir).write.mode("overwrite").saveAsTable(
            f"{database}.{name}"
        )
    if analyze:
        analyze_tables(spark, database)
    spark.sql(
        f"CREATE OR REPLACE VIEW {database}.store_quarterly_sales AS "
        + STORE_QUARTERLY_SALES_VIEW.format(db=database)
    )


def publish_bucketed_baskets(
    spark: SparkSession,
    sf_dir: str,
    database: str = "metro",
    n_buckets: int = 16,
) -> None:
    """Co-located join layout for the basket workload: the fact's
    (order_id, product_id) projection written ``bucketBy(order_id)``
    + ``sortBy`` as a managed table.

    Bucketing is the cluster answer to a hot repeated join key — every
    order's rows land in the same bucket file, so any equi-join on
    order_id between co-bucketed tables (including the market-basket
    THETA SELF-JOIN, J7) is satisfied by zipping bucket pairs: no
    exchange before the join at ANY scale, where the path-based plan
    re-shuffles both sides of the self-join every run. The shuffle is
    paid ONCE, at write time.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    fact = star.sales_fact(spark, sf_dir, time_attrs=False).select(
        "order_id", "product_id"
    )
    (
        fact.write.mode("overwrite")
        .bucketBy(n_buckets, "order_id")
        .sortBy("order_id")
        .saveAsTable(f"{database}.basket_lines")
    )


def market_basket_from_bucketed(
    spark: SparkSession, database: str = "metro", k: int = 5
):
    """Q6 (market-basket affinity) over the bucketed catalog table —
    same rows as plans.queries.q06_market_basket, but the self-join
    reads co-located buckets (zero pre-join exchange; the only
    shuffle left is the post-join pair aggregation). Requires
    ``publish_bucketed_baskets`` and ``publish_star_schema`` (for
    product names) to have run against ``database``."""
    from pyspark.sql import functions as F

    fact = spark.table(f"{database}.basket_lines")
    names = spark.table(f"{database}.products").select(
        "product_id", "product_name"
    )
    f1 = fact.alias("f1")
    f2 = fact.alias("f2")
    pairs = f1.join(
        f2,
        (F.col("f1.order_id") == F.col("f2.order_id"))
        & (F.col("f1.product_id") < F.col("f2.product_id")),
    )
    return (
        pairs.join(
            F.broadcast(names.alias("p1")),
            F.col("f1.product_id") == F.col("p1.product_id"),
        )
        .join(
            F.broadcast(names.alias("p2")),
            F.col("f2.product_id") == F.col("p2.product_id"),
        )
        .groupBy(
            F.col("p1.product_name").alias("product_1"),
            F.col("p2.product_name").alias("product_2"),
        )
        .agg(F.count(F.lit(1)).alias("frequency"))
        .orderBy(F.desc("frequency"), "product_1", "product_2")
        .limit(k)
    )
