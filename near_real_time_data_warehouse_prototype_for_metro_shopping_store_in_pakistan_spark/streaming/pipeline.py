"""Structured Streaming ETL: the reference's producer/consumer pipeline
(src/Main.java:9-19) as readStream -> foreachBatch.

Reference model: a producer thread reads the transactions CSV, dedups
exact duplicate lines, emits 50-record micro-batches into a bounded
queue; a consumer joins each batch against memory-resident master data
and upserts MySQL (SURVEY §2.9). Spark equivalents:

- CSV directory stream source with an explicit schema (ST1); batch
  size is an engine concern (``maxFilesPerTrigger`` / trigger), not
  semantics.
- Exact-duplicate source dedup (ST4) -> ``build_fact``'s one-row-per-
  fact-key window inside each micro-batch (exact-duplicate lines share
  their key, so no separate dedup shuffle) + the key-based anti-join in
  the sink (cross-batch).
- Stream-static join (ST2) -> ``build_fact`` against broadcast master
  lookups, derived and pinned once per stream.
- Idempotent exactly-once effect (ST3) -> warehouse insert-if-absent
  (the manifest backend by default) + checkpointing; replays are
  filtered by key.

Per-micro-batch cost on the default manifest backend (12 Spark jobs
in steady state with the maintained aggregate on): the batch is typed
in one projection and one filter; the fact joins the pinned master
lookups (no master-side shuffle) and is built once and persisted for
its two inserts (time dimension, fact); the fact lands as ONE
unpartitioned segment with order_date zone maps (a few files, not one
per month the batch spans); every table read takes its schema from the
segment manifests (no inference job); and the maintained aggregate's
partials are shuffled once and committed with their fold horizon in
the aggregate's own commit, skipping the seen-side anti-join while no
other refresh has moved the horizon (``insert_with_horizon``).
Micro-batch freshness is bounded by this fixed cost, not by the file
arrival rate.

The reference has no watermarks or event-time windows (ST6) — state is
bounded by the sink's key sets, not by streaming state. For unbounded
cross-batch *exact-line* dedup one would add
``withWatermark + dropDuplicates``; here the fact key subsumes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.etl import DEFAULT_FACT_KEY, master_lookups, warehouse_for
from ..operators.sinks import resolve_auto_compact, resolve_backend
from ..sources.csv_inputs import TRANSACTIONS_SCHEMA
from ..functions.time import ORDER_DATE_FORMAT


def read_transaction_stream(
    spark: SparkSession, tx_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of transaction CSVs (S1/S2)."""
    reader = (
        spark.readStream.schema(TRANSACTIONS_SCHEMA)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(tx_dir)


def _typed(batch: DataFrame) -> DataFrame:
    """Trim, type and validate one raw transactions batch in one
    projection and one filter (this plan is rebuilt every micro-batch,
    and its plan-building cost grows with the DataFrame calls): lines
    without an order id, with an unparseable date or a non-integer
    quantity are dropped. Exact-duplicate lines are NOT removed here —
    they share their fact key, so ``build_fact``'s one-row-per-key
    window removes them (ST4) without a shuffle of its own."""
    from pyspark.sql import functions as F

    def raw(c: str):
        return F.trim(F.col(c))

    return batch.select(
        raw("order_id").alias("order_id"),
        F.try_to_timestamp(
            raw("order_date_raw"), F.lit(ORDER_DATE_FORMAT)
        ).alias("order_date"),
        raw("product_id").alias("product_id"),
        raw("quantity_ordered_raw").try_cast("int").alias("quantity_ordered"),
        raw("customer_id").alias("customer_id"),
        raw("time_id").alias("time_id"),
    ).where(
        F.col("order_id").isNotNull()
        & (F.col("order_id") != "")
        & F.col("order_date").isNotNull()
        & F.col("quantity_ordered").isNotNull()
    )


def stream_etl(
    spark: SparkSession,
    tx_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    products_master: DataFrame,
    customers_master: DataFrame,
    fact_key: tuple[str, ...] = DEFAULT_FACT_KEY,
    available_now: bool = True,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    maintain_quarterly_agg: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Run the streaming ETL; with ``available_now`` it drains pending
    files and stops (test/replay mode), otherwise it runs continuously
    like the reference's ``while(true)`` consumer loop
    (src/Meshjoin.java:144-168). ``backend`` selects the
    insert-if-absent sink implementation (operators.sinks); the
    default is the manifest backend — the same default as the batch
    warehouse (operators.etl.warehouse_for) — with inline
    auto-compaction (``"auto"`` = 8 live segments), so the segment
    count stays bounded at any micro-batch cadence.

    ``maintain_quarterly_agg`` (manifest backend only) folds each
    batch's admitted fact rows into the incrementally-maintained
    STORE_QUARTERLY_SALES partial-sum table after the load
    (operators.etl.refresh_quarterly_agg) — the near-real-time serving
    path ``quarterly_sales_serve`` reads instead of the fact."""
    from ..operators.etl import refresh_quarterly_agg

    backend = resolve_backend(backend)
    if maintain_quarterly_agg and backend != "manifest":
        raise ValueError(
            "maintain_quarterly_agg needs the manifest backend (the "
            f"snapshot diff drives the refresh); got {backend!r}"
        )
    warehouse = warehouse_for(
        spark,
        warehouse_root,
        backend,
        resolve_auto_compact(backend, auto_compact_segments),
    )
    stream = read_transaction_stream(spark, tx_dir, max_files_per_trigger)

    # Master data is static for the stream's lifetime (the reference
    # keeps it memory-resident, src/Meshjoin.java:22-23): materialize
    # each relation once so every micro-batch broadcasts from a pinned
    # local relation instead of re-running the master derivation
    # (parquet scan + joins) per trigger.
    # Cluster-mode caveat: localCheckpoint keeps the blocks on the
    # executors that computed them and truncates the lineage, so
    # losing one of those executors makes the masters unrecoverable
    # and fails every later micro-batch. On a cluster use a reliable
    # ``checkpoint()`` (with ``SparkContext.setCheckpointDir`` on
    # shared storage) or a replicated persist level instead; in local
    # mode one JVM runs every task, so nothing extra is lost.
    products_master = products_master.localCheckpoint(eager=True)
    customers_master = customers_master.localCheckpoint(eager=True)
    # build_fact's broadcast side (projected, deduplicated, flagged)
    # derives from the masters alone: pin it too, so no micro-batch
    # re-runs its two dedup shuffles
    lookups = tuple(
        df.localCheckpoint(eager=True)
        for df in master_lookups(products_master, customers_master)
    )

    # The four master dims derive solely from those static relations:
    # upsert them on the FIRST processed batch only (see
    # WarehouseOps.load_batch skip_dims) — per-batch re-upserts are
    # guaranteed no-ops that each cost an anti-join + commit. On
    # crash/replay the flag resets and the first replayed batch
    # re-upserts (no-op, insert-if-absent).
    dims_loaded = [False]

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        typed = _typed(batch)
        if typed.isEmpty():
            return
        warehouse.load_batch(
            typed,
            products_master,
            customers_master,
            fact_key,
            skip_dims=dims_loaded[0],
            lookups=lookups,
        )
        dims_loaded[0] = True
        if maintain_quarterly_agg:
            refresh_quarterly_agg(warehouse)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()
