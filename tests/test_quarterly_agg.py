"""Incrementally-maintained STORE_QUARTERLY_SALES
(operators.etl.refresh_quarterly_agg / quarterly_sales_serve): chunked
refreshes must serve EXACTLY the recomputed view, replays and skipped
refreshes must heal to the same answer, and the serve plan must read
the maintained table — never the fact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
    QUARTERLY_AGG_TABLE,
    quarterly_sales_serve,
    refresh_quarterly_agg,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    MergeSink,
    make_sink,
)

FACT_SCHEMA = (
    "order_id long, line_no int, store_id int, quarter int, year int,"
    " quantity_ordered long, revenue_cents long"
)


def _fact(spark):
    rows = []
    for i in range(60):
        rows.append(
            (
                i // 2,            # two lines per order
                i % 2,
                i % 3,             # 3 stores
                1 + (i % 4),       # 4 quarters
                2019 + (i % 2),    # 2 years
                1 + i % 5,
                100 * (i + 1) + 7,
            )
        )
    return spark.createDataFrame(rows, FACT_SCHEMA)


def _recomputed(fact):
    return {
        (r.store_id, r.quarter, r.year): (
            r.rev,
            r.qty,
        )
        for r in fact.groupBy("store_id", "quarter", "year")
        .agg(
            (F.sum("revenue_cents") / 100.0).alias("rev"),
            F.sum("quantity_ordered").alias("qty"),
        )
        .collect()
    }


def _served(sink):
    return {
        (r.store_id, r.quarter, r.year): (
            r.total_quarterly_revenue,
            r.total_quarterly_quantity,
        )
        for r in quarterly_sales_serve(sink).collect()
    }


def _sink(spark, root):
    return make_sink(
        spark,
        str(root),
        keys={"sales_fact": ["order_id", "line_no"]},
        backend="manifest",
    )


def test_chunked_refresh_equals_recompute_and_replay_noop(spark, tmp_path):
    fact = _fact(spark)
    sink = _sink(spark, tmp_path)
    for b in range(3):
        sink.insert_if_absent(
            "sales_fact", fact.filter(F.col("order_id") % 3 == b)
        )
        got = refresh_quarterly_agg(sink)
        assert got is not None
    assert _served(sink) == _recomputed(fact)
    n_partials = sink.read(QUARTERLY_AGG_TABLE).count()
    # at-least-once replay: empty fact snapshot, refresh folds nothing
    sink.insert_if_absent(
        "sales_fact", fact.filter(F.col("order_id") % 3 == 1)
    )
    refresh_quarterly_agg(sink)
    assert _served(sink) == _recomputed(fact)
    assert sink.read(QUARTERLY_AGG_TABLE).count() == n_partials
    # refresh with nothing new at all: None, nothing committed
    assert refresh_quarterly_agg(sink) is None


def test_skipped_refresh_heals(spark, tmp_path):
    """A crash between the fact commit and its refresh loses nothing:
    the next refresh folds every unfolded snapshot."""
    fact = _fact(spark)
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", fact.filter("order_id % 3 = 0"))
    refresh_quarterly_agg(sink)
    # two commits with NO refresh in between (the crash window)
    sink.insert_if_absent("sales_fact", fact.filter("order_id % 3 = 1"))
    sink.insert_if_absent("sales_fact", fact.filter("order_id % 3 = 2"))
    refresh_quarterly_agg(sink)
    assert _served(sink) == _recomputed(fact)


def test_serve_plan_reads_agg_table_not_fact(spark, tmp_path):
    fact = _fact(spark)
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", fact)
    refresh_quarterly_agg(sink)
    plan = (
        quarterly_sales_serve(sink)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # plan file paths are truncated in toString(); the scan's
    # ReadSchema identifies the relation — the maintained partials
    # (revenue_mills, quantity, n_rows), never the fact's line-grain
    # columns
    assert "revenue_mills:bigint,quantity:bigint" in plan
    assert "sales_fact" not in plan
    assert "order_id" not in plan and "quantity_ordered" not in plan


def test_refresh_rejects_non_manifest_backend(spark, tmp_path):
    # any non-manifest sink (delta where installed) lacks the
    # snapshot surface; the base class stands in for one everywhere
    sink = MergeSink(
        spark, str(tmp_path), keys={"sales_fact": ["order_id"]}
    )
    with pytest.raises(ValueError, match="manifest"):
        refresh_quarterly_agg(sink)


def test_stream_etl_maintains_quarterly_agg(spark, tmp_path):
    """End-to-end: the streaming ETL with maintain_quarterly_agg=True
    serves the view from the maintained table, equal to recomputing it
    from the streamed fact (ETL fact: quarter derived from month,
    cents from the 3-dp total_revenue)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
        warehouse_for,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.csv_inputs import (
        read_customers_master,
        read_products_master,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.pipeline import (
        stream_etl,
    )

    from .test_etl import CUSTOMERS_CSV, PRODUCTS_CSV, TRANSACTIONS_CSV

    (tmp_path / "products.csv").write_text(PRODUCTS_CSV)
    (tmp_path / "customers.csv").write_text(CUSTOMERS_CSV)
    (tmp_path / "tx").mkdir()
    (tmp_path / "tx" / "tx.csv").write_text(TRANSACTIONS_CSV)
    products = read_products_master(spark, str(tmp_path / "products.csv"))
    customers = read_customers_master(spark, str(tmp_path / "customers.csv"))
    root = str(tmp_path / "wh")
    q = stream_etl(
        spark,
        str(tmp_path / "tx"),
        root,
        str(tmp_path / "ckpt"),
        products,
        customers,
        maintain_quarterly_agg=True,
    )
    q.awaitTermination(120)
    wh = warehouse_for(spark, root, "manifest")
    fact = wh.read("sales_fact")
    want = {
        (r.store_id, r.quarter, r.year): (r.rev, r.qty)
        for r in fact.groupBy(
            "store_id",
            F.expr("(month + 2) div 3").cast("int").alias("quarter"),
            "year",
        )
        .agg(
            (
                F.sum(F.round(F.col("total_revenue") * 100, 0).cast("long"))
                / 100.0
            ).alias("rev"),
            F.sum("quantity_ordered").alias("qty"),
        )
        .collect()
    }
    assert _served(wh) == want
    assert want  # non-degenerate


def test_stream_etl_agg_rejected_off_manifest(spark, tmp_path):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.pipeline import (
        stream_etl,
    )

    with pytest.raises(ValueError, match="manifest"):
        stream_etl(
            spark,
            str(tmp_path / "tx"),
            str(tmp_path / "wh"),
            str(tmp_path / "ckpt"),
            None,
            None,
            backend="delta",
            auto_compact_segments=None,
            maintain_quarterly_agg=True,
        )


def _keys_df(spark, fact, pred):
    return fact.filter(pred).select("order_id").distinct()


@pytest.mark.parametrize("mode", ["rewrite", "tombstone"])
def test_takedown_mid_replay_reflects_in_serve(spark, tmp_path, mode):
    """The round-13 composition: a key-targeted takedown on the fact
    between refreshes must reflect in the MAINTAINED serve path —
    tombstone deletes fold as NEGATIVE partials (deleted_between),
    rewrite deletes force a rebase (redactions_between) — and the
    serve stays hash-equal to recomputing the view from the visible
    fact (the reference's MySQL view reflects DELETEs by
    construction, SQL/OLAP Queries - Metro.sql:276-288)."""
    fact = _fact(spark)
    sink = _sink(spark, tmp_path)
    # chunks 0 and 1 land and fold
    for b in (0, 1):
        sink.insert_if_absent(
            "sales_fact", fact.filter(F.col("order_id") % 3 == b)
        )
        assert refresh_quarterly_agg(sink) is not None
    # takedown of a key slice (whole orders, by order_id alone)
    got = sink.delete_keys(
        "sales_fact",
        _keys_df(spark, fact, "order_id % 5 = 0 and order_id % 3 < 2"),
        on=["order_id"],
        mode=mode,
    )
    assert got is not None
    # chunk 2 lands after the delete; one refresh folds BOTH the
    # delete and the new chunk
    sink.insert_if_absent(
        "sales_fact", fact.filter(F.col("order_id") % 3 == 2)
    )
    assert refresh_quarterly_agg(sink) is not None
    assert _served(sink) == _recomputed(sink.read("sales_fact"))
    # replayed delete: matches nothing, and the next refresh is a
    # no-op on the aggregate
    again = sink.delete_keys(
        "sales_fact",
        _keys_df(spark, fact, "order_id % 5 = 0 and order_id % 3 < 2"),
        on=["order_id"],
        mode=mode,
    )
    if mode == "tombstone":
        assert again is None
        assert refresh_quarterly_agg(sink) is None
    else:
        # rewrite mode commits nothing either (probe finds no match)
        assert again is None
        assert refresh_quarterly_agg(sink) is None
    assert _served(sink) == _recomputed(sink.read("sales_fact"))


def test_materializing_compaction_is_serve_invariant(spark, tmp_path):
    """A tombstone whose negative partial was ALREADY folded is later
    materialized away by compact(materialize_deletes=True): the
    redaction is reported at the tombstone's own snapshot (<= the
    fold horizon), so the next refresh neither rebases nor refolds —
    and the serve answer is unchanged."""
    fact = _fact(spark)
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", fact)
    refresh_quarterly_agg(sink)
    sink.delete_keys(
        "sales_fact",
        _keys_df(spark, fact, "order_id % 4 = 0"),
        on=["order_id"],
        mode="tombstone",
    )
    refresh_quarterly_agg(sink)  # folds the negative partials
    before = _served(sink)
    n_partials = sink.read(QUARTERLY_AGG_TABLE).count()
    assert sink.compact("sales_fact", materialize_deletes=True)
    # the materialization window holds no unfolded change: no rebase,
    # no new partials
    assert refresh_quarterly_agg(sink) is None
    assert sink.read(QUARTERLY_AGG_TABLE).count() == n_partials
    assert _served(sink) == before
    assert _served(sink) == _recomputed(sink.read("sales_fact"))


def test_rewrite_delete_before_any_fold_rebases_clean(spark, tmp_path):
    """Rewrite-mode deletes BETWEEN folds rebase the aggregate from
    the redacted history — including a second delete after the
    rebase."""
    fact = _fact(spark)
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", fact)
    refresh_quarterly_agg(sink)
    sink.delete_keys(
        "sales_fact",
        _keys_df(spark, fact, "order_id % 4 = 0"),
        on=["order_id"],
        mode="rewrite",
    )
    refresh_quarterly_agg(sink)
    assert _served(sink) == _recomputed(sink.read("sales_fact"))
    sink.delete_keys(
        "sales_fact",
        _keys_df(spark, fact, "order_id % 4 = 1"),
        on=["order_id"],
        mode="rewrite",
    )
    refresh_quarterly_agg(sink)
    assert _served(sink) == _recomputed(sink.read("sales_fact"))


def test_group_fully_deleted_disappears_from_serve(spark, tmp_path):
    """Deleting EVERY row of a (store, quarter, year) group must drop
    the group from the serve (n_rows nets to zero) — the recomputed
    view has no row for an empty group, so a 0-revenue ghost row
    would hash-mismatch the oracle."""
    fact = _fact(spark)
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", fact)
    refresh_quarterly_agg(sink)
    groups_before = set(_served(sink))
    victim = sorted(groups_before)[0]
    sink.delete_keys(
        "sales_fact",
        sink.read("sales_fact")
        .filter(
            (F.col("store_id") == victim[0])
            & (F.col("quarter") == victim[1])
            & (F.col("year") == victim[2])
        )
        .select("order_id", "line_no"),
        mode="tombstone",
    )
    refresh_quarterly_agg(sink)
    served = _served(sink)
    assert victim not in served
    assert served == _recomputed(sink.read("sales_fact"))


def test_pricing_serve_plan_reads_partials_only(spark, tmp_path):
    """q19's serve (maintained q00) must read the partial-sum table
    only — never lineitem columns."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.queries import (
        LINEITEM_REPLAY_KEY,
        _pricing_maintained,
    )

    li = spark.createDataFrame(
        [
            (1, 1, 10, 100, 5.0, 1000.0, "N", "O", 0.05, 0.02),
            (1, 2, 11, 101, 3.0, 500.0, "R", "F", 0.0, 0.01),
            (2, 1, 12, 102, 7.0, 700.0, "N", "O", 0.1, 0.0),
        ],
        "l_orderkey long, l_linenumber int, l_partkey long,"
        " l_suppkey long, l_quantity double, l_extendedprice double,"
        " l_returnflag string, l_linestatus string, l_discount double,"
        " l_tax double",
    )
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"lineitem_fact": list(LINEITEM_REPLAY_KEY)},
        backend="manifest",
    )
    ma = _pricing_maintained(sink)
    sink.insert_if_absent("lineitem_fact", li)
    assert ma.refresh() is not None
    plan = (
        ma.serve()._jdf.queryExecution().executedPlan().toString()
    )
    assert "qty_long:bigint" in plan and "base_cents:bigint" in plan
    assert "lineitem_fact" not in plan
    assert "l_extendedprice" not in plan and "l_discount" not in plan
