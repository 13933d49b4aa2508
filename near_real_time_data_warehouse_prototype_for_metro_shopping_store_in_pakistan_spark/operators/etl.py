"""The reference's MESHJOIN ETL re-expressed as set-at-a-time Spark.

Reference pipeline (SURVEY §3.1; src/Meshjoin.java):
- ``Insert_Dimensions`` (src/Meshjoin.java:170-239): re-read the two
  master CSVs, normalize the denormalized product file into
  Products/Supplier/Store dims, insert-if-absent each row.
- ``performMeshJoin`` (src/Meshjoin.java:263-300): per stream record,
  derive time attributes, nested-loop match against the product buffer
  (J1, :343-399) then the customer buffer (J2, :401-457); insert a fact
  row for the *first* occurrence of each Order_ID only (:373,419);
  unmatched records are dropped (:295-298).
- ``CalculateMeasures`` (src/Meshjoin.java:705-753): re-join fact with
  products and set Total_Units_Sold / Total_Revenue =
  round(quantity * price, 3) per row (:724-725).

Spark mapping: the nested loops are one broadcast stream-static join
each; the per-row existence checks are a single left-anti join per
batch; measures fold into the load projection (no post-pass). The
MESHJOIN disk-partition-cycling algorithm itself is vestigial in the
reference (buffers registered but never used in the join —
src/Meshjoin.java:22-23,155 vs :343-457) and is superseded by the
broadcast join (SURVEY §4).

Scale notes: master data (products/customers) broadcasts from
``master_lookups`` (a streaming caller pins them once); the only
shuffle of the fact build is the one-row-per-key window, which at
100 TB rides the same hash partitioning the fact table is written
with.

Every table lands through one insert-if-absent sink
(``operators.sinks``): ``warehouse_for`` builds the star-schema
warehouse on the manifest backend by default (``ManifestWarehouse`` —
unpartitioned fact segments with order_date zone maps), or on Delta
(``DeltaWarehouse`` — fact partitioned by (year, month)).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import time_attribute_columns, time_dimension
from .sinks import (
    DeltaMergeSink,
    ManifestParquetSink,
    manifest_options,
    resolve_backend,
)

# The reference keeps only the first record per Order_ID even though a
# real order may hold many products (SURVEY §7 hard parts); the key is
# configurable so multi-line-per-order sources (e.g. lineitem) keep all
# lines.
DEFAULT_FACT_KEY = ("order_id",)


def normalize_dimensions(
    products_master: DataFrame, customers_master: DataFrame
) -> dict[str, DataFrame]:
    """Split the denormalized 7-column product master into
    Products/Supplier/Store dims + pass through Customers
    (= Insert_Dimensions, src/Meshjoin.java:170-239)."""
    products = products_master.select(
        "product_id", "product_name", "price", "supplier_id", "store_id"
    ).dropDuplicates(["product_id"])
    supplier = products_master.select("supplier_id", "supplier_name").dropDuplicates(
        ["supplier_id"]
    )
    store = products_master.select("store_id", "store_name").dropDuplicates(
        ["store_id"]
    )
    customers = customers_master.select(
        "customer_id", "customer_name", "gender"
    ).dropDuplicates(["customer_id"])
    return {
        "products": products,
        "supplier": supplier,
        "store": store,
        "customers": customers,
    }


def master_lookups(
    products_master: DataFrame, customers_master: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The broadcast side of ``build_fact``: (products, customers)
    projected to the columns the fact needs, deduplicated on their
    ids, each carrying its match flag (``_prod_matched`` /
    ``_cust_matched``, constant True — NULL after the left join means
    no match). Both derive from the masters alone, so a caller whose
    masters are static (the streaming consumer) builds and pins them
    once and passes them to every ``build_fact`` call; otherwise each
    call re-runs the two dedup shuffles."""
    prod = (
        products_master.select(
            "product_id", "price", "supplier_id", "store_id"
        )
        .dropDuplicates(["product_id"])
        .withColumn("_prod_matched", F.lit(True))
    )
    cust = (
        customers_master.select("customer_id")
        .dropDuplicates(["customer_id"])
        .withColumn("_cust_matched", F.lit(True))
    )
    return prod, cust


def build_fact(
    transactions: DataFrame,
    products_master: DataFrame,
    customers_master: DataFrame,
    fact_key: tuple[str, ...] = DEFAULT_FACT_KEY,
    observation=None,
    lookups: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Stream-batch × master-data join + measure derivation.

    Join semantics follow J1/J2 precedence (SURVEY §2.3): a record
    lands in the fact if its product matched (J1) OR its customer
    matched (J2); records matching neither are dropped
    (src/Meshjoin.java:295-298). Product-side attributes (store,
    supplier, price) resolve whenever the product matched — on the
    customer-only path they are the reference's point lookups
    (src/Meshjoin.java:428-429), which the single join already covers.

    ``lookups`` is ``master_lookups(products_master,
    customers_master)``, typically pinned by the caller; None derives
    it here (two dedup shuffles per call).

    One fact row per ``fact_key``: exact-duplicate input lines share
    their key, so the ``row_number`` below also removes them.

    Measures: Total_Units_Sold = quantity, Total_Revenue =
    round(quantity * price, 3) HALF_UP (src/Meshjoin.java:724-725).
    The time attributes and measures come out of ONE projection after
    the window (plan-building cost is per DataFrame call, and this
    runs once per micro-batch).
    """
    from pyspark.sql import Window

    prod, cust = lookups or master_lookups(products_master, customers_master)
    joined = transactions.join(
        F.broadcast(prod), "product_id", "left"
    ).join(F.broadcast(cust), "customer_id", "left")
    kept = F.col("_prod_matched").isNotNull() | F.col("_cust_matched").isNotNull()
    if observation is not None:
        # The reference only *logs* unmatched stream records before
        # dropping them (src/Meshjoin.java:295-298); ``observe`` is the
        # set-at-a-time equivalent — counters ride the job without a
        # second scan, in batch and foreachBatch alike.
        joined = joined.observe(
            observation,
            F.count(F.lit(1)).alias("n_input"),
            F.sum(kept.cast("long")).alias("n_matched"),
            F.sum((~kept).cast("long")).alias("n_dropped"),
        )
    cols = [
        c for c in joined.columns if c not in ("_prod_matched", "_cust_matched")
    ]
    # The reference keeps the first queue arrival per Order_ID
    # (src/Meshjoin.java:373,419); batch has no arrival order, so pick
    # the minimum over the remaining columns — deterministic under any
    # partitioning (plain dropDuplicates keeps an arbitrary row).
    w = Window.partitionBy(*fact_key).orderBy(
        *[F.col(c).asc_nulls_last() for c in cols if c not in fact_key]
    )
    ranked = joined.where(kept).select(
        *cols, F.row_number().over(w).alias("_rn")
    )
    derived = {
        **time_attribute_columns(F.col("order_date")),
        "total_units_sold": F.col("quantity_ordered"),
        "total_revenue": F.round(
            F.col("quantity_ordered") * F.col("price"), 3
        ),
    }
    # same columns, same order as appending each with withColumn: a
    # derived name already present is replaced in place
    out = [derived.pop(c).alias(c) if c in derived else c for c in cols]
    return ranked.where(F.col("_rn") == 1).select(
        *out, *[col.alias(name) for name, col in derived.items()]
    )


# The star-schema table registry: dedup keys per table, plus the
# fact's (year, month) hive partitioning — the Spark substitute for
# the reference's order_date secondary index
# (SQL/Star_Schema_Metro.sql:85).
WAREHOUSE_KEYS: dict[str, list[str]] = {
    "products": ["product_id"],
    "supplier": ["supplier_id"],
    "store": ["store_id"],
    "customers": ["customer_id"],
    "time_dimension": ["time_id"],
    "sales_fact": ["order_id"],
}
WAREHOUSE_PARTITIONING: dict[str, list[str]] = {
    "sales_fact": ["year", "month"]
}

# Incrementally-maintained STORE_QUARTERLY_SALES (the reference view,
# SQL/OLAP Queries - Metro.sql:276-288): per-snapshot PARTIAL sums
# keyed on (fact snapshot, group) — see MaintainedAggregate.
QUARTERLY_AGG_TABLE = "store_quarterly_agg"
QUARTERLY_AGG_KEYS = ["fact_snapshot", "store_id", "quarter", "year"]


def _fact_quarter(fact: DataFrame):
    """quarter from the fact's own columns: the OLAP fact carries
    ``quarter``; the ETL fact persists only (year, month) — derive."""
    if "quarter" in fact.columns:
        return F.col("quarter")
    return F.expr("(month + 2) div 3").cast("int")


def _fact_revenue_mills(fact: DataFrame):
    """Exact money in integer TENTH-OF-CENT units (mills): the OLAP
    fact carries integer cents (×10 is exact); the ETL fact stores
    total_revenue at 3 dp (the reference's round(q*price, 3),
    src/Meshjoin.java:724-725) — ×1000 + one half-up round recovers
    the integer mills exactly, so partial sums cancel bit-exact under
    deletion and never drift from SUM(total_revenue) (a CENTS round
    here would discard the 3-dp digit: up to $0.005/row drift)."""
    if "revenue_cents" in fact.columns:
        return (F.col("revenue_cents") * F.lit(10)).cast("long")
    return F.round(F.col("total_revenue") * 1000, 0).cast("long")


class MaintainedAggregate:
    """A grouped-SUM aggregate over a manifest-backed fact table,
    maintained INCREMENTALLY and DELETE-AWARE — the generalized form
    of the quarterly-sales serving story (the reference recomputes
    its views per query, SQL/OLAP Queries - Metro.sql:276-288; a
    MySQL DELETE reflects in the view by construction — this class
    reproduces that contract on the snapshot algebra).

    ``group_by`` maps output column name -> fn(fact_df) -> Column
    (derivation allowed: quarter from month); ``measures`` maps
    output column name -> fn(fact_df) -> Column, each SUMmed.
    Measures MUST be integer-typed: exact cancellation of negative
    partials under deletion relies on integer arithmetic (money goes
    in as mills — ``_fact_revenue_mills``; the serve wrapper divides
    back out).

    State: ONE manifest table, ``<agg>``, holding per-snapshot
    PARTIAL sums keyed (fact_snapshot, *group keys) plus an
    ``n_rows`` count measure. Positive partials fold the
    ``added_between`` insert diff; NEGATIVE partials fold the
    ``deleted_between`` tombstone diff (keyed at the hiding
    tombstone's snapshot — a snapshot that never holds a positive
    partial, so keys cannot collide). ``n_rows`` nets to zero for a
    fully-deleted group, which the serve path filters out — matching
    the recomputed view, which has no row for an empty group.

    The fold HORIZON (the fact snapshot folded to) lives in the
    table's own manifests: each refresh commits its partials with
    ``insert_with_horizon``, which records ``upto`` in that commit's
    manifest, and the horizon is the max ``upto`` over the committed
    manifests (``ManifestParquetSink.horizon`` — metadata only, no
    Spark job). Fold and horizon therefore land atomically, and
    covering commits (compaction, truncation) carry the max forward.
    It is deliberately NOT max(fact_snapshot) in the partials,
    because a REBASE refolds rows tagged with their original (old)
    snapshots and max(fact_snapshot) would then re-trigger the rebase
    forever. A table written before the horizon moved into the
    manifests reads as never folded: the first refresh refolds from
    the beginning and every partial it re-derives anti-joins away.

    Refresh algebra (all replay-safe: every commit is
    insert-if-absent of rows derived from immutable snapshot diffs,
    so a crashed/repeated refresh re-derives identical rows that
    anti-join away):

    1. ``redactions_between(fact, last, latest)`` non-empty — a
       rewrite-mode delete, a materializing compaction, or retention
       expiry rewrote history under the fold — REBASE: ``truncate``
       the agg (O(1) covering commit) and refold from the beginning.
       ``added_between`` post-redaction reflects the rewritten
       history, so the refold is exact by construction.
    2. Fold positives from ``added_between(last, latest)`` and
       negatives from ``deleted_between(last, latest)`` in one
       commit that also records ``upto = latest`` (a rebase that
       refolds nothing commits a zero-row segment carrying only the
       horizon).

    Cost at scale: a refresh with no deletes reads O(new segments)
    fact rows (one map-side-combinable groupBy), never the
    accumulated fact; a refresh over a window with tombstones pays
    one admissions pass with the tombstone keys broadcast (the same
    order as the read tax those tombstones already impose); a rebase
    costs one fact scan — the same order as the redacting rewrite
    that forced it. The serve scan reads O(snapshots x groups)
    partial rows and is guarded by tests to never touch the fact."""

    def __init__(
        self,
        sink,
        fact_table: str,
        agg_table: str,
        group_by: dict,
        measures: dict,
    ) -> None:
        if not isinstance(sink, ManifestParquetSink):
            raise ValueError(
                "MaintainedAggregate needs the manifest backend (the "
                f"snapshot surface); got {type(sink).__name__}"
            )
        self.sink = sink
        self.fact_table = fact_table
        self.agg_table = agg_table
        self.group_by = dict(group_by)
        self.measures = dict(measures)
        sink.keys.setdefault(
            agg_table, ["fact_snapshot", *self.group_by]
        )

    def _partial(self, diff: DataFrame, snap_col: str, sign: int):
        return diff.groupBy(
            F.col(snap_col).cast("long").alias("fact_snapshot"),
            *[
                fn(diff).alias(name)
                for name, fn in self.group_by.items()
            ],
        ).agg(
            *[
                (F.sum(fn(diff)) * F.lit(sign)).alias(name)
                for name, fn in self.measures.items()
            ],
            (F.count(F.lit(1)) * F.lit(sign)).alias("n_rows"),
        )

    def refresh(self) -> int | None:
        """Fold everything committed to the fact since the last
        refresh — inserts, tombstone deletes, and (via rebase)
        history rewrites. Returns the fact snapshot folded to, or
        None when there was nothing new."""
        sink = self.sink
        snaps = sink.snapshots(self.fact_table)
        if not snaps:
            return None
        latest = snaps[-1]
        last = sink.horizon(self.agg_table)
        if last is not None and last >= latest:
            return None
        rebase = bool(
            sink.redactions_between(self.fact_table, last, latest)
        )
        if rebase:
            sink.truncate(self.agg_table)
            last = None
        # Manifest-metadata fast path (no Spark action): a window that
        # admitted 0 rows — the all-replay case — skips building the
        # insert diff entirely; a window the manifests prove non-empty
        # skips the emptiness probe. Only a compaction overlapping the
        # window (rare; per-snapshot rows unknowable from metadata)
        # falls back to probing the diff relation itself.
        known_rows = sink.window_admission_rows(
            self.fact_table, last, latest
        )
        if known_rows == 0:
            pos = None
        else:
            pos = sink.added_between(self.fact_table, last, latest)
            if (
                known_rows is None
                and pos is not None
                and pos.isEmpty()
            ):
                pos = None
        neg = sink.deleted_between(self.fact_table, last, latest)
        if pos is None and neg is None and not rebase:
            # a replayed upstream batch commits a 0-row fact
            # snapshot: fold nothing and commit nothing — otherwise
            # every all-replay refresh would append useless empty
            # segments
            return None
        partial = None
        if pos is not None:
            partial = self._partial(pos, "_snapshot", 1)
        if neg is not None:
            n = self._partial(neg, "_deleted_at", -1)
            partial = n if partial is None else partial.unionByName(n)
        # unique on the table key by construction (see
        # insert_with_horizon); ``last`` lets the commit skip the
        # seen-side anti-join while no other refresh has moved the horizon
        sink.insert_with_horizon(self.agg_table, partial, latest, since=last)
        return latest

    def serve(self) -> DataFrame:
        """The aggregate, answered from the maintained partials only:
        one groupBy over O(snapshots x groups) rows, positives and
        negatives cancelling exactly; groups whose every row was
        deleted net to n_rows == 0 and are dropped (the recomputed
        view has no such group)."""
        agg = self.sink.read(self.agg_table)
        if agg is None:
            raise ValueError(
                f"no maintained aggregate {self.agg_table!r} under "
                f"{self.sink.root} — refresh after loading the fact"
            )
        return (
            agg.groupBy(*self.group_by)
            .agg(
                *[F.sum(m).alias(m) for m in self.measures],
                F.sum("n_rows").alias("n_rows"),
            )
            .filter(F.col("n_rows") > 0)
        )


def quarterly_maintained(
    sink, fact_table: str = "sales_fact",
    agg_table: str = QUARTERLY_AGG_TABLE,
) -> MaintainedAggregate:
    """The STORE_QUARTERLY_SALES instance of ``MaintainedAggregate``
    (grouping (store_id, quarter, year); measures revenue-in-mills +
    quantity), shared by ``refresh_quarterly_agg`` /
    ``quarterly_sales_serve`` and the streaming ETL."""
    return MaintainedAggregate(
        sink,
        fact_table,
        agg_table,
        group_by={
            "store_id": lambda df: F.col("store_id"),
            "quarter": _fact_quarter,
            "year": lambda df: F.col("year"),
        },
        measures={
            "revenue_mills": _fact_revenue_mills,
            "quantity": lambda df: F.col("quantity_ordered"),
        },
    )


def refresh_quarterly_agg(
    sink,
    fact_table: str = "sales_fact",
    agg_table: str = QUARTERLY_AGG_TABLE,
) -> int | None:
    """Incrementally maintain the STORE_QUARTERLY_SALES aggregate —
    see ``MaintainedAggregate`` for the algebra (including the
    delete-aware negative partials and the redaction rebase) and
    ``quarterly_sales_serve`` for the serve path."""
    return quarterly_maintained(sink, fact_table, agg_table).refresh()


def quarterly_sales_serve(
    sink,
    store_names: DataFrame | None = None,
    agg_table: str = QUARTERLY_AGG_TABLE,
) -> DataFrame:
    """STORE_QUARTERLY_SALES served from the MAINTAINED partial-sum
    table (see MaintainedAggregate) — the scan reads O(snapshots ×
    groups) partial rows, never the fact. Column names match the
    recomputed view (plans.queries.q10_store_quarterly_sales) exactly;
    pass the store dimension for the store_name join (broadcast — it
    is dimension-sized). Money: partials carry integer mills, so the
    division here is the only float step — sum(mills)/1000.0 is the
    same double as sum(cents)/100.0 for cents-grain facts."""
    ma = quarterly_maintained(sink, agg_table=agg_table)
    out = ma.serve().select(
        "store_id",
        "quarter",
        "year",
        (F.col("revenue_mills") / 1000.0).alias(
            "total_quarterly_revenue"
        ),
        F.col("quantity").alias("total_quarterly_quantity"),
    )
    if store_names is not None:
        out = out.join(F.broadcast(store_names), "store_id").select(
            "store_id",
            "store_name",
            "quarter",
            "year",
            "total_quarterly_revenue",
            "total_quarterly_quantity",
        )
        return out.orderBy("store_name", "year", "quarter")
    return out.orderBy("store_id", "year", "quarter")


class WarehouseOps:
    """Backend-independent star-schema warehouse operations, layered
    over any ``operators.sinks.MergeSink`` (the batch-load façade and
    the running totals the reference prints). Mixin: concrete
    warehouses combine this with a sink backend."""

    def load_batch(
        self,
        transactions: DataFrame,
        products_master: DataFrame,
        customers_master: DataFrame,
        fact_key: tuple[str, ...] = DEFAULT_FACT_KEY,
        time_id_source: str | None = None,
        skip_dims: bool = False,
        lookups: tuple[DataFrame, DataFrame] | None = None,
    ) -> None:
        """One micro-batch (or one full batch) through the whole ETL:
        dims -> time dimension -> fact, each insert-if-absent.

        ``time_id_source="stream"`` is parity mode: the stream's own
        Time_ID field keys the time dimension (the reference's
        contract, src/GenerateStream.java:23-29) instead of the
        timestamp-derived id.

        ``skip_dims=True`` skips the four master-data dimension
        upserts. The dims derive solely from the two master relations
        — when those are static (the streaming consumer's contract,
        like the reference's memory-resident masters), re-upserting
        them per batch is a guaranteed no-op that still pays four
        anti-join + commit round-trips; callers that already loaded
        them once skip straight to the per-batch tables (time
        dimension + fact). Replay-safe: a restarted stream passes
        False for its first batch and the upserts no-op.

        ``lookups`` is passed to ``build_fact``: the caller's pinned
        ``master_lookups(products_master, customers_master)``, or None
        to derive them from the masters in this batch's plan.
        """
        if not skip_dims:
            dims = normalize_dimensions(products_master, customers_master)
            for name, df in dims.items():
                self.insert_if_absent(name, df)
        # both inserts below derive from the fact: persist it so the
        # source batch is scanned and joined once, not once per insert
        fact = build_fact(
            transactions, products_master, customers_master, fact_key,
            lookups=lookups,
        ).persist()
        try:
            src = "time_id" if time_id_source == "stream" else None
            self.insert_if_absent(
                "time_dimension",
                time_dimension(fact, "order_date", source_col=src),
            )
            fact_cols = [
                "order_id", "order_date", "product_id", "customer_id",
                "supplier_id", "store_id", "quantity_ordered",
                "total_units_sold", "total_revenue", "year", "month",
            ]
            self.insert_if_absent("sales_fact", fact.select(*fact_cols))
        finally:
            fact.unpersist()

    def totals(self) -> DataFrame:
        """Running totals the reference prints after each batch
        (src/Meshjoin.java:745-746)."""
        fact = self.read("sales_fact")
        if fact is None:
            raise RuntimeError(
                "no sales_fact table yet — load a batch or run the "
                "stream before asking for totals"
            )
        return fact.agg(
            F.sum("total_revenue").alias("tot_revenue"),
            F.sum("total_units_sold").alias("total_quantity_sold"),
        )


@dataclass
class ManifestWarehouse(WarehouseOps, ManifestParquetSink):
    """The star-schema warehouse over manifest-committed segments:
    crash-atomic batch visibility on plain parquet, no optional
    dependency (see operators.sinks.ManifestParquetSink).

    Layout: ``sales_fact`` is NOT hive-partitioned here. Each
    micro-batch commits one unpartitioned segment (a few files,
    however many months it spans — a (year, month) split would write one
    tiny file per month per batch) with ``order_date`` zone maps in
    its manifest, so ``scan("sales_fact", {"order_date": (lo, hi)})``
    skips whole segments and files instead of month directories — the
    layout ``plans.fact_store`` uses. ``DeltaWarehouse`` keeps
    ``WAREHOUSE_PARTITIONING``."""

    keys: dict[str, list[str]] = field(
        default_factory=lambda: dict(WAREHOUSE_KEYS)
    )
    stats_cols: dict[str, list[str]] = field(
        default_factory=lambda: {"sales_fact": ["order_date"]}
    )


@dataclass
class DeltaWarehouse(WarehouseOps, DeltaMergeSink):
    """The same star-schema warehouse over atomic Delta MERGEs —
    the backend to deploy where concurrent readers/writers exist.
    Env-gated on delta-spark (construction raises ImportError when
    absent); semantics are asserted backend-identical by the shared
    contract tests."""

    keys: dict[str, list[str]] = field(
        default_factory=lambda: dict(WAREHOUSE_KEYS)
    )
    partitioning: dict[str, list[str]] = field(
        default_factory=lambda: dict(WAREHOUSE_PARTITIONING)
    )


def warehouse_for(
    spark,
    root: str,
    backend: str = "manifest",
    auto_compact_segments: int | None = None,
    sink_kwargs: dict | None = None,
):
    """Construct the star-schema warehouse on the requested sink
    backend: "manifest" (default), "delta", or "auto" (delta when
    importable, else manifest). ``auto_compact_segments`` and
    ``sink_kwargs`` are manifest-only options
    (``operators.sinks.MANIFEST_OPTIONS``, e.g. ``tier_factor``,
    ``stats_cols``, ``allow_schema_evolution``), validated by ``operators.sinks.manifest_options`` exactly as
    ``make_sink`` validates them."""
    backend = resolve_backend(backend)
    options = manifest_options(
        backend,
        {"auto_compact_segments": auto_compact_segments, **(sink_kwargs or {})},
    )
    cls = ManifestWarehouse if backend == "manifest" else DeltaWarehouse
    return cls(spark, root, **options)
