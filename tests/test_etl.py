"""Batch ETL tests on reference-shaped CSV fixtures (SURVEY §1.3):
join-path precedence (J1/J2), validity filters, dedup, dimension
normalization, measure rounding, idempotent insert-if-absent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
    build_fact,
    normalize_dimensions,
    warehouse_for,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.csv_inputs import (
    read_customers_master,
    read_products_master,
    read_transactions,
)

PRODUCTS_CSV = """Product_ID,Product_Name,Price,Supplier_ID,Supplier_Name,Store_ID,Store_Name
P1,Widget,10.50,S1,SupplierOne,ST1,"Store, One"
P2,Gadget,5.25,S2,SupplierTwo,ST2,StoreTwo
P1,Widget,10.50,S1,SupplierOne,ST1,"Store, One"
P3,Gizmo,notanumber,S3,SupThree,ST3,StoreThree
"""

CUSTOMERS_CSV = """Customer_ID,Customer_Name,Gender
C1,Alice,F
C2,Bob,M
C2,Bob,M
"""

TRANSACTIONS_CSV = """Order_ID,Order_Date,Product_ID,Quantity,Customer_ID,Time_ID
O1,2019-01-05 10:30:00,P1,2,C1,T1
O1,2019-01-05 10:30:00,P1,2,C1,T1
O2,2019-01-07 9:00:00,P9,1,C2,T2
O3,2019-02-01 12:00:00,P9,4,C9,T3
O4,garbage,P2,3,C1,T4
O5,2019-03-03 08:00:00,P2,x,C2,T5
O6,2019-12-25 00:00:00,P2,10,C9,T6
"""


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("etl_fixtures")
    (d / "products.csv").write_text(PRODUCTS_CSV)
    (d / "customers.csv").write_text(CUSTOMERS_CSV)
    (d / "transactions.csv").write_text(TRANSACTIONS_CSV)
    return d


@pytest.fixture(scope="module")
def masters(spark, fixture_paths):
    return (
        read_products_master(spark, str(fixture_paths / "products.csv")),
        read_customers_master(spark, str(fixture_paths / "customers.csv")),
    )


def test_master_validity_filters(masters):
    products, customers = masters
    rows = {r.product_id for r in products.collect()}
    assert rows == {"P1", "P2"}  # P3 (unparsable price) dropped
    assert {r.customer_id for r in customers.collect()} == {"C1", "C2"}


def test_dimension_normalization(masters):
    dims = normalize_dimensions(*masters)
    assert {r.product_id for r in dims["products"].collect()} == {"P1", "P2"}
    assert {r.supplier_id for r in dims["supplier"].collect()} == {"S1", "S2"}
    stores = {r.store_id: r.store_name for r in dims["store"].collect()}
    # proper CSV quote handling: embedded comma preserved (the
    # reference's sanitizer strips it — documented deviation §1.3)
    assert stores == {"ST1": "Store, One", "ST2": "StoreTwo"}
    assert dims["customers"].count() == 2


def test_transaction_validity_filters(spark, fixture_paths):
    tx = read_transactions(spark, str(fixture_paths / "transactions.csv"))
    # O4 (bad date) and O5 (bad quantity) dropped; O1 dup line still 2
    # raw rows (dedup happens at fact build)
    assert {r.order_id for r in tx.collect()} == {"O1", "O2", "O3", "O6"}


def test_fact_join_precedence_and_measures(spark, fixture_paths, masters):
    tx = read_transactions(spark, str(fixture_paths / "transactions.csv"))
    fact = build_fact(tx, *masters)
    rows = {r.order_id: r for r in fact.collect()}
    # O1: product+customer match; O2: customer-only (product unknown ->
    # null product attrs, no revenue); O6: product-only; O3: neither -> dropped
    assert set(rows) == {"O1", "O2", "O6"}
    assert rows["O1"].total_revenue == 21.0  # 2 * 10.50
    assert rows["O1"].total_units_sold == 2
    assert rows["O2"].total_revenue is None
    assert rows["O2"].price is None
    assert rows["O6"].total_revenue == 52.5  # 10 * 5.25
    # time attributes (F1-F8): 2019-01-05 is a Saturday
    assert rows["O1"].is_weekend is True
    assert rows["O1"].day_name == "SATURDAY"
    assert rows["O1"].year == 2019 and rows["O1"].month == 1
    assert rows["O6"].is_weekend is False
    assert rows["O1"].week == 1


def test_one_fact_row_per_order(spark, fixture_paths, masters):
    tx = read_transactions(spark, str(fixture_paths / "transactions.csv"))
    fact = build_fact(tx, *masters)
    per_key = fact.groupBy("order_id").count().filter(F.col("count") > 1)
    assert per_key.count() == 0


def test_measure_rounding_half_up(spark, masters):
    # round(qty * price, 3) HALF_UP (src/Meshjoin.java:724-725)
    tx = spark.createDataFrame(
        [("OX", "2019-06-01 00:00:00", "P1", 3, "C1", "T9")],
        "order_id string, order_date_raw string, product_id string,"
        "quantity_ordered int, customer_id string, time_id string",
    ).select(
        "order_id",
        F.to_timestamp("order_date_raw").alias("order_date"),
        "product_id", "quantity_ordered", "customer_id", "time_id",
    )
    fact = build_fact(tx, *masters)
    assert fact.collect()[0].total_revenue == 31.5


def test_warehouse_idempotent_upsert(spark, fixture_paths, masters, tmp_path):
    tx = read_transactions(spark, str(fixture_paths / "transactions.csv"))
    wh = warehouse_for(spark, str(tmp_path / "wh"))
    wh.load_batch(tx, *masters)
    first = sorted(map(tuple, wh.read("sales_fact").collect()))
    # replay the identical batch: nothing new may appear (ST3)
    wh.load_batch(tx, *masters)
    second = sorted(map(tuple, wh.read("sales_fact").collect()))
    assert first == second
    assert wh.read("time_dimension").groupBy("time_id").count().filter(
        F.col("count") > 1
    ).count() == 0
    totals = wh.totals().collect()[0]
    assert totals.tot_revenue == 21.0 + 52.5


def test_time_id_stream_passthrough(spark, fixture_paths, masters, tmp_path):
    """Parity mode carries the stream-supplied Time_ID into the time
    dimension (src/GenerateStream.java:23-29) instead of deriving it."""
    tx = read_transactions(spark, str(fixture_paths / "transactions.csv"))
    wh = warehouse_for(spark, str(tmp_path / "wh_tid"))
    wh.load_batch(tx, *masters, time_id_source="stream")
    td = {r.time_id: r for r in wh.read("time_dimension").collect()}
    # fact keeps O1 (T1), O2 (T2), O6 (T6) — their source ids land as-is
    assert set(td) == {"T1", "T2", "T6"}
    assert td["T1"].year == 2019 and td["T1"].is_weekend is True


def test_upsert_mixed_replay_and_new_partitions(spark, fixture_paths, masters, tmp_path):
    """A later batch mixing replayed rows (an existing month) and
    brand-new rows (a new month) dedupes the replays and appends the
    new rows exactly once."""
    tx = read_transactions(spark, str(fixture_paths / "transactions.csv"))
    wh = warehouse_for(spark, str(tmp_path / "wh"))
    wh.load_batch(tx, *masters)
    base = wh.read("sales_fact").count()

    extra = spark.createDataFrame(
        [
            ("O1", "2019-01-05 10:30:00", "P1", 2, "C1", "T1"),  # replay (2019-01)
            ("O7", "2020-07-07 07:00:00", "P2", 1, "C1", "T7"),  # new month
        ],
        "order_id string, order_date_raw string, product_id string,"
        "quantity_ordered int, customer_id string, time_id string",
    ).select(
        "order_id",
        F.to_timestamp("order_date_raw").alias("order_date"),
        "product_id", "quantity_ordered", "customer_id", "time_id",
    )
    wh.load_batch(extra, *masters)
    fact = wh.read("sales_fact")
    assert fact.count() == base + 1
    assert fact.groupBy("order_id").count().filter(F.col("count") > 1).count() == 0
    assert {r.order_id for r in fact.filter("year = 2020").collect()} == {"O7"}
