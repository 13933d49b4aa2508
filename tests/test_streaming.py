"""Streaming ETL tests: streaming ≡ batch equivalence and idempotency
under replay (SURVEY §5.2, ST1-ST5)."""

from __future__ import annotations

import pytest

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
    warehouse_for,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.csv_inputs import (
    read_customers_master,
    read_products_master,
    read_transactions,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.pipeline import (
    stream_etl,
)

from .test_etl import CUSTOMERS_CSV, PRODUCTS_CSV, TRANSACTIONS_CSV

HEADER = "Order_ID,Order_Date,Product_ID,Quantity,Customer_ID,Time_ID\n"


@pytest.fixture(scope="module")
def stream_env(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    (d / "masters").mkdir()
    (d / "tx").mkdir()
    (d / "products.csv").write_text(PRODUCTS_CSV)
    (d / "customers.csv").write_text(CUSTOMERS_CSV)
    lines = TRANSACTIONS_CSV.strip().splitlines()[1:]
    mid = len(lines) // 2
    (d / "tx" / "part1.csv").write_text(HEADER + "\n".join(lines[:mid]) + "\n")
    (d / "tx" / "part2.csv").write_text(HEADER + "\n".join(lines[mid:]) + "\n")
    (d / "tx_full.csv").write_text(TRANSACTIONS_CSV)
    return d


def _fact_rows(spark, root):
    # batch and stream warehouses share the manifest default
    df = warehouse_for(spark, root).read("sales_fact")
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_streaming_equals_batch(spark, stream_env):
    products = read_products_master(spark, str(stream_env / "products.csv"))
    customers = read_customers_master(spark, str(stream_env / "customers.csv"))

    q = stream_etl(
        spark,
        str(stream_env / "tx"),
        str(stream_env / "wh_stream"),
        str(stream_env / "ckpt1"),
        products,
        customers,
    )
    q.awaitTermination(120)

    batch_wh = warehouse_for(spark, str(stream_env / "wh_batch"))
    tx = read_transactions(spark, str(stream_env / "tx_full.csv"))
    batch_wh.load_batch(tx, products, customers)

    assert _fact_rows(spark, str(stream_env / "wh_stream")) == _fact_rows(
        spark, str(stream_env / "wh_batch")
    )


def test_streaming_checkpoint_resume_processes_only_new_files(
    spark, stream_env, tmp_path
):
    """Restarting with the SAME checkpoint after new files arrive must
    process only the unseen files (source offset tracking) and leave
    the warehouse equal to a full batch load."""
    products = read_products_master(spark, str(stream_env / "products.csv"))
    customers = read_customers_master(spark, str(stream_env / "customers.csv"))
    wh_root = str(tmp_path / "wh_resume")
    ckpt = str(tmp_path / "ckpt_resume")
    tx_dir = tmp_path / "tx_incremental"
    tx_dir.mkdir()
    part1 = (stream_env / "tx" / "part1.csv").read_text()
    part2 = (stream_env / "tx" / "part2.csv").read_text()

    (tx_dir / "part1.csv").write_text(part1)
    q = stream_etl(spark, str(tx_dir), wh_root, ckpt, products, customers)
    q.awaitTermination(120)
    rows_after_first = _fact_rows(spark, wh_root)

    (tx_dir / "part2.csv").write_text(part2)
    q = stream_etl(spark, str(tx_dir), wh_root, ckpt, products, customers)
    q.awaitTermination(120)
    rows_after_second = _fact_rows(spark, wh_root)

    assert len(rows_after_second) > len(rows_after_first)
    batch_wh = warehouse_for(spark, str(tmp_path / "wh_batch_resume"))
    tx = read_transactions(spark, str(stream_env / "tx_full.csv"))
    batch_wh.load_batch(tx, products, customers)
    assert rows_after_second == _fact_rows(spark, str(tmp_path / "wh_batch_resume"))


def test_streaming_replay_is_idempotent(spark, stream_env):
    products = read_products_master(spark, str(stream_env / "products.csv"))
    customers = read_customers_master(spark, str(stream_env / "customers.csv"))
    before = _fact_rows(spark, str(stream_env / "wh_stream"))

    # fresh checkpoint -> the source re-delivers every file (an
    # at-least-once replay); the key anti-join must filter all of it
    q = stream_etl(
        spark,
        str(stream_env / "tx"),
        str(stream_env / "wh_stream"),
        str(stream_env / "ckpt2"),
        products,
        customers,
    )
    q.awaitTermination(120)
    assert _fact_rows(spark, str(stream_env / "wh_stream")) == before
