"""``MetroWarehouse`` — the user-facing pipeline façade (SURVEY §3.2).

The reference's public surface is ``Meshjoin(BlockingQueue)`` +
``run()`` (src/Meshjoin.java:35,144): construct = connect + master
load + dimension seed; run = the consume-join-load loop. This class is
that surface re-expressed for Spark: construct with a warehouse root,
seed dimensions from the master CSVs, then either load transaction
CSVs as batches or attach the Structured Streaming ETL. Every method
delegates to the tested building blocks (``sources.csv_inputs``,
``operators.etl``, ``streaming.pipeline``) — the façade adds no
semantics of its own.

Typical session::

    wh = MetroWarehouse(spark, "/data/metro")
    wh.load_dimensions(products_csv, customers_csv)
    wh.load_transactions(tx_csv)               # batch, or:
    q = wh.run_stream(tx_dir, checkpoint_dir)  # streaming twin
    q.awaitTermination()
    wh.table("sales_fact").count()
    wh.totals().show()
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .operators.etl import DEFAULT_FACT_KEY, normalize_dimensions, warehouse_for
from .sources.csv_inputs import (
    read_customers_master,
    read_products_master,
    read_transactions,
)
from .streaming.pipeline import stream_etl


class MetroWarehouse:
    """Batch + streaming ETL over one idempotent warehouse (the
    manifest sink backend by default, or delta — operators.sinks)."""

    def __init__(
        self, spark: SparkSession, warehouse_root: str,
        backend: str = "manifest",
    ) -> None:
        self.spark = spark
        self.backend = backend
        self.warehouse = warehouse_for(spark, warehouse_root, backend)
        self._products: DataFrame | None = None
        self._customers: DataFrame | None = None

    # -- master data ----------------------------------------------------
    def load_dimensions(self, products_csv: str, customers_csv: str) -> None:
        """Seed the four dimensions from the master CSVs (the
        reference's ``Insert_Dimensions``, src/Meshjoin.java:170-239)
        and retain the masters for the stream-static joins."""
        self._products = read_products_master(self.spark, products_csv)
        self._customers = read_customers_master(self.spark, customers_csv)
        for name, df in normalize_dimensions(
            self._products, self._customers
        ).items():
            self.warehouse.insert_if_absent(name, df)

    def _masters(self) -> tuple[DataFrame, DataFrame]:
        if self._products is None or self._customers is None:
            raise RuntimeError("call load_dimensions() before loading facts")
        return self._products, self._customers

    # -- batch path -----------------------------------------------------
    def load_transactions(
        self,
        transactions_csv: str,
        fact_key: tuple[str, ...] = DEFAULT_FACT_KEY,
        time_id_source: str | None = None,
    ) -> None:
        """One transactions CSV through the full ETL (validity filters,
        broadcast master joins, measure derivation, idempotent
        upserts) — the whole MESHJOIN consumer loop as one batch."""
        products, customers = self._masters()
        tx = read_transactions(self.spark, transactions_csv)
        self.warehouse.load_batch(
            tx, products, customers, fact_key, time_id_source=time_id_source
        )

    # -- streaming path -------------------------------------------------
    def run_stream(
        self,
        tx_dir: str,
        checkpoint_dir: str,
        fact_key: tuple[str, ...] = DEFAULT_FACT_KEY,
        available_now: bool = True,
    ) -> StreamingQuery:
        """Attach the Structured Streaming ETL to a transactions
        directory; same sink, same idempotency, replayable via the
        checkpoint (the reference's while(true) consumer,
        src/Meshjoin.java:144-168)."""
        products, customers = self._masters()
        return stream_etl(
            self.spark,
            tx_dir,
            self.warehouse.root,
            checkpoint_dir,
            products,
            customers,
            fact_key=fact_key,
            available_now=available_now,
            backend=self.backend,
        )

    # -- reads ----------------------------------------------------------
    def table(self, name: str) -> DataFrame | None:
        return self.warehouse.read(name)

    def totals(self) -> DataFrame:
        return self.warehouse.totals()
