"""Round-14 optimization invariants:

- ``ManifestParquetSink.window_admission_rows``: the manifest-metadata
  admission count behind the maintained-aggregate refresh fast path —
  exact for plain windows, 0 for all-replay windows, None (fall back
  to counting) when a compaction overlaps the window.
- ``MaintainedAggregate.refresh`` over an all-replay window launches
  ZERO Spark jobs (the r13 tree paid an ``isEmpty`` probe per
  refresh; the fold horizon is manifest metadata).
- the k-means / PQ driver-side folds fail loudly past the
  bounded-collect invariant (``KMEANS_MAX_FOLD_CELLS``).
- one ``sales_fact`` materialization serves both line grains.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
    quarterly_maintained,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    make_sink,
)

FACT_SCHEMA = (
    "order_id long, line_no int, store_id int, quarter int, year int,"
    " quantity_ordered long, revenue_cents long"
)


def _fact(spark, lo: int, hi: int):
    rows = [
        (i, 0, i % 3, 1 + (i % 4), 2019, 1 + i % 5, 100 * (i + 1))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, FACT_SCHEMA)


def _sink(spark, tmp_path):
    return make_sink(
        spark,
        str(tmp_path),
        keys={"sales_fact": ["order_id", "line_no"]},
        backend="manifest",
    )


def test_window_admission_rows_plain_and_replay(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 10))
    sink.insert_if_absent("sales_fact", _fact(spark, 10, 15))
    # full replay: commits an EMPTY snapshot
    sink.insert_if_absent("sales_fact", _fact(spark, 10, 15))
    snaps = sink.snapshots("sales_fact")
    assert len(snaps) == 3
    assert sink.window_admission_rows("sales_fact", None, snaps[0]) == 10
    assert sink.window_admission_rows("sales_fact", snaps[0], snaps[1]) == 5
    assert sink.window_admission_rows("sales_fact", snaps[1], snaps[2]) == 0
    assert sink.window_admission_rows("sales_fact", None, snaps[2]) == 15


def test_window_admission_rows_tombstones_not_admissions(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 10))
    keys = spark.createDataFrame([(1,), (2,)], "order_id long")
    assert (
        sink.delete_keys(
            "sales_fact", keys, on=["order_id"], mode="tombstone"
        )
        is not None
    )
    snaps = sink.snapshots("sales_fact")
    # the tombstone snapshot admitted nothing
    assert sink.window_admission_rows("sales_fact", snaps[0], snaps[-1]) == 0


def test_window_admission_rows_compaction_overlap_falls_back(
    spark, tmp_path
):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 10))
    sink.insert_if_absent("sales_fact", _fact(spark, 10, 15))
    sink.compact("sales_fact")
    snaps = sink.snapshots("sales_fact")
    # window includes the covering segment -> metadata cannot split
    assert (
        sink.window_admission_rows("sales_fact", None, snaps[-1]) is None
    )
    # ...but a window strictly ABOVE the covered range stays exact
    sink.insert_if_absent("sales_fact", _fact(spark, 15, 18))
    snaps = sink.snapshots("sales_fact")
    assert (
        sink.window_admission_rows("sales_fact", snaps[-2], snaps[-1]) == 3
    )


def test_replay_refresh_launches_no_jobs(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 12))
    assert ma.refresh() is not None
    served_before = {
        tuple(r)
        for r in ma.serve().collect()
    }
    # full replay: empty snapshot committed, nothing new to fold
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 12))
    tracker = spark.sparkContext.statusTracker()
    grp = "r14-replay-refresh-probe"
    spark.sparkContext.setJobGroup(grp, "replay refresh must be cheap")
    # folds nothing, commits nothing — the 0-row replay snapshot is
    # already the documented no-op case
    assert ma.refresh() is None
    # the metadata fast path: no added_between build, no isEmpty
    # probe, and the fold horizon is read from the aggregate's
    # manifests — no Spark work at all
    njobs = len(tracker.getJobIdsForGroup(grp))
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert njobs == 0, f"replay refresh launched {njobs} jobs"
    assert {tuple(r) for r in ma.serve().collect()} == served_before


def test_kmeans_fold_guard_trips(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        similarity,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    old = similarity.KMEANS_MAX_FOLD_CELLS
    similarity.KMEANS_MAX_FOLD_CELLS = 3  # k*dim = 2*2 = 4 > 3
    try:
        with pytest.raises(ValueError, match="fold bound"):
            similarity.kmeans_cells(emb, k=2, iters=1)
    finally:
        similarity.KMEANS_MAX_FOLD_CELLS = old
    # under the bound it trains fine
    assert similarity.kmeans_cells(emb, k=2, iters=1).count() == 4


def test_sales_fact_single_materialization(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans import (
        star,
    )

    sf_dir = "/root/testdata/sf0.001"
    star.clear_fact_cache()
    try:
        plain = star.sales_fact(spark, sf_dir)
        lined = star.sales_fact(spark, sf_dir, line_no=True)
        assert "line_no" not in plain.columns
        assert "line_no" in lined.columns
        # ONE cache entry, one persisted relation behind both views
        assert len(star._FACT_CACHE) == 1
        assert plain.drop("line_no").columns == plain.columns
        assert set(lined.columns) - set(plain.columns) == {"line_no"}
        assert plain.count() == lined.count()
    finally:
        star.clear_fact_cache()
