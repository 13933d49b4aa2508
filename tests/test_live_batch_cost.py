"""Fixed cost of a manifest-backend micro-batch, and the invariants the
cheaper path must keep:

- the manifest warehouse's ``sales_fact`` is one unpartitioned,
  zone-mapped segment per batch: its file count does not grow with the
  months a batch spans, and ``scan`` by ``order_date`` skips segments
  yet equals ``read().filter``;
- segment manifests record the read schema; reads that use it equal
  inferred reads (hive-partitioned table, compacted segment carrying
  ``_snapshot``, legacy manifest without the field) and launch no
  inference job;
- the maintained aggregate's fold horizon lives in its own manifests:
  no ``__hwm`` table, and the horizon survives compaction and rebase
  without refolding a window;
- a manifest never undercounts ``rows``: an unreadable footer omits
  the field and the refresh still folds the batch;
- a steady-state streaming micro-batch (typed batch, fact over the
  pinned master lookups, aggregate refresh) stays within 12 Spark
  jobs; the aggregate partials shuffle once and skip the seen-side
  anti-join while the horizon is unmoved — yet still anti-join after
  a racing refresh or on a table with no recorded horizon; and the
  stream over pinned lookups equals one batch load without them;
- a replay that admits nothing commits a zero-file segment, while a
  first empty insert and ``truncate`` stay readable;
- ``SPARK_GRAFT_SHUFFLE_PARTITIONS=""`` reads as unset.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
    QUARTERLY_AGG_TABLE,
    build_fact,
    master_lookups,
    quarterly_maintained,
    quarterly_sales_serve,
    refresh_quarterly_agg,
    warehouse_for,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    make_sink,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.session import (
    initial_shuffle_partitions,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.csv_inputs import (
    TRANSACTIONS_SCHEMA,
    read_transactions,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.pipeline import (
    _typed,
    stream_etl,
)

FACT_SCHEMA = (
    "order_id long, line_no int, store_id int, quarter int, year int,"
    " quantity_ordered long, revenue_cents long"
)


def _fact(spark, lo: int, hi: int):
    rows = [
        (i, 0, i % 3, 1 + (i % 4), 2019 + i % 2, 1 + i % 5, 100 * i + 7)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, FACT_SCHEMA)


def _fact_sink(spark, root):
    return make_sink(
        spark,
        str(root),
        keys={"sales_fact": ["order_id", "line_no"]},
        backend="manifest",
    )


def _recomputed(fact) -> dict:
    return {
        (r.store_id, r.quarter, r.year): (r.rev, r.qty)
        for r in fact.groupBy("store_id", "quarter", "year")
        .agg(
            F.sum("revenue_cents").alias("rev"),
            F.sum("quantity_ordered").alias("qty"),
        )
        .collect()
    }


def _served(ma) -> dict:
    # the partials carry mills; the cents-grain fact is mills / 10
    return {
        (r.store_id, r.quarter, r.year): (r.revenue_mills // 10, r.quantity)
        for r in ma.serve().collect()
    }


def _jobs(spark, fn):
    """(fn(), Spark jobs fn launched)."""
    sc = spark.sparkContext
    grp = f"probe-{os.urandom(4).hex()}"
    sc.setJobGroup(grp, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(grp))


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _strip_schema(table_dir) -> int:
    """Rewrite every committed manifest of a table without its
    ``schema`` field (the manifest layout before the field existed)."""
    n = 0
    for d in os.listdir(table_dir):
        p = os.path.join(table_dir, d, "_COMMITTED.json")
        if d.startswith("seg_") and os.path.exists(p):
            with open(p) as fh:
                meta = json.load(fh)
            meta.pop("schema", None)
            with open(p, "w") as fh:
                json.dump(meta, fh)
            n += 1
    return n


# ------------------------------------------------- warehouse fact layout


def _masters(spark):
    products = spark.createDataFrame(
        [
            (f"P{i}", f"prod{i}", 1.5 + i, f"S{i % 2}", f"sup{i % 2}",
             f"ST{i % 3}", f"store{i % 3}")
            for i in range(6)
        ],
        "product_id string, product_name string, price double,"
        " supplier_id string, supplier_name string, store_id string,"
        " store_name string",
    )
    customers = spark.createDataFrame(
        [(f"C{i}", f"cust{i}", "F" if i % 2 else "M") for i in range(4)],
        "customer_id string, customer_name string, gender string",
    )
    return products, customers


def _transactions(spark, lo: int, hi: int, start: dt.datetime):
    """Orders ``lo..hi-1``, one per month from ``start`` on: a batch of
    n orders spans n distinct months."""
    rows = []
    for i in range(lo, hi):
        y, m = divmod(start.month - 1 + i - lo, 12)
        when = dt.datetime(start.year + y, m + 1, 1 + i % 27, 10, 0, 0)
        rows.append((f"O{i}", when, f"P{i % 6}", 1 + i % 4, f"C{i % 4}",
                     f"T{i}"))
    return spark.createDataFrame(
        rows,
        "order_id string, order_date timestamp, product_id string,"
        " quantity_ordered int, customer_id string, time_id string",
    )


def test_multi_month_batch_writes_few_fact_files(spark, tmp_path):
    wh = warehouse_for(spark, str(tmp_path), "manifest")
    assert wh.partitioning.get("sales_fact") is None
    products, customers = _masters(spark)
    wh.load_batch(
        _transactions(spark, 0, 48, dt.datetime(2015, 1, 1)),
        products, customers,
    )
    live, _, _ = wh._segments("sales_fact")
    assert len(live) == 1
    meta = wh._manifest_meta(live[0][1])
    months = {
        (r.year, r.month)
        for r in wh.read("sales_fact").select("year", "month").collect()
    }
    assert len(months) == 48
    # no (year, month) directories: the file count is the write's task
    # count, independent of the 48 months the batch spans
    assert all("=" not in f for f in meta["files"])
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 <= len(meta["files"]) <= cap < len(months)
    assert meta["rows"] == 48
    assert meta["stats"]["order_date"] is not None


def test_fact_scan_by_order_date_skips_segments(spark, tmp_path):
    wh = warehouse_for(spark, str(tmp_path), "manifest")
    products, customers = _masters(spark)
    # three batches over disjoint years
    for b, year in enumerate((2015, 2017, 2019)):
        wh.load_batch(
            _transactions(spark, 12 * b, 12 * b + 12, dt.datetime(year, 1, 1)),
            products, customers, skip_dims=b > 0,
        )
    lo, hi = dt.datetime(2017, 3, 1), dt.datetime(2017, 9, 30)
    ranges = {"order_date": (lo, hi)}
    total, kept = wh.prune_report("sales_fact", ranges)
    assert (total, kept) == (3, 1)
    want = wh.read("sales_fact").filter(
        (F.col("order_date") >= F.lit(lo)) & (F.col("order_date") <= F.lit(hi))
    )
    got = wh.scan("sales_fact", ranges)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0


# ----------------------------------------------------- recorded schema


def test_recorded_schema_equals_inferred_hive_partitioned(spark, tmp_path):
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k"]},
        partitioning={"t": ["p"]}, backend="manifest",
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "k long, p int, v string, ts timestamp"
    )
    t0 = dt.datetime(2020, 1, 1)
    sink.insert_if_absent("t", mk([(1, 10, "a", t0), (2, 20, None, t0)]))
    sink.insert_if_absent("t", mk([(3, 10, "c", None)]))
    live, _, _ = sink._segments("t")
    recorded = sink._manifest_meta(live[0][1])["schema"]
    # data columns first, partition column last, all nullable
    assert [f["name"] for f in recorded["fields"]] == ["k", "v", "ts", "p"]
    assert all(f["nullable"] for f in recorded["fields"])
    with_schema, jobs = _jobs(spark, lambda: sink.read("t"))
    assert jobs == 0, f"recorded-schema read launched {jobs} jobs"
    rows, schema = _rows(with_schema), with_schema.schema
    assert _strip_schema(tmp_path / "t") == 2
    inferred, jobs = _jobs(spark, lambda: sink.read("t"))
    assert jobs >= 1  # the legacy manifest path still infers
    assert inferred.schema == schema
    assert _rows(inferred) == rows


def test_recorded_schema_equals_inferred_compacted(spark, tmp_path):
    sink = make_sink(spark, str(tmp_path), keys={"t": ["k"]}, backend="manifest")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v double")
    for b in range(3):
        sink.insert_if_absent("t", mk([(2 * b, b + 0.5), (2 * b + 1, None)]))
    snap = sink.compact("t")
    sink.insert_if_absent("t", mk([(100, 1.0)]))
    live, _, _ = sink._segments("t")
    compacted = sink._manifest_meta(live[0][1])["schema"]
    assert [f["name"] for f in compacted["fields"]] == ["k", "v", "_snapshot"]

    def answers():
        return {
            "read": sink.read("t"),
            "read_at": sink.read_at("t", 1),
            "added": sink.added_between("t", 0, snap + 1),
            "scan": sink.scan("t", {"k": (1, 4)}),
        }

    recorded, jobs = _jobs(spark, answers)
    assert jobs == 0, f"recorded-schema readers launched {jobs} jobs"
    recorded = {k: (df.schema, _rows(df)) for k, df in recorded.items()}
    _strip_schema(tmp_path / "t")
    inferred = {k: (df.schema, _rows(df)) for k, df in answers().items()}
    assert inferred == recorded


def test_mixed_legacy_and_recorded_segments_infer(spark, tmp_path):
    """A table whose older segments predate the field reads exactly as
    before: one legacy segment in the set means infer."""
    sink = make_sink(spark, str(tmp_path), keys={"t": ["k"]}, backend="manifest")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    sink.insert_if_absent("t", mk([(1, "a")]))
    _strip_schema(tmp_path / "t")
    sink.insert_if_absent("t", mk([(2, "b")]))
    live, _, _ = sink._segments("t")
    segs = [p for _, p, _ in live]
    assert sink._recorded_schema(segs) is None
    assert sink._recorded_schema(segs[1:]) is not None
    assert _rows(sink.read("t")) == [(1, "a"), (2, "b")]


# ------------------------------------------- fold horizon in the manifest


def test_horizon_lives_in_agg_manifests(spark, tmp_path):
    sink = _fact_sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 12))
    latest = ma.refresh()
    assert latest == sink.snapshots("sales_fact")[-1]
    assert sink.horizon(QUARTERLY_AGG_TABLE) == latest
    # one table, one commit per refresh
    assert sorted(os.listdir(tmp_path)) == ["sales_fact", QUARTERLY_AGG_TABLE]
    assert sink.snapshots(QUARTERLY_AGG_TABLE) == [0]


def test_horizon_survives_agg_compaction(spark, tmp_path):
    sink = _fact_sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    for b in range(3):
        sink.insert_if_absent("sales_fact", _fact(spark, 10 * b, 10 * b + 10))
        ma.refresh()
    latest = sink.snapshots("sales_fact")[-1]
    assert sink.compact(QUARTERLY_AGG_TABLE) is not None
    live, _, _ = sink._segments(QUARTERLY_AGG_TABLE)
    assert len(live) == 1  # covered segments and their manifests are gone
    assert sink.horizon(QUARTERLY_AGG_TABLE) == latest
    agg_snaps = sink.snapshots(QUARTERLY_AGG_TABLE)
    # nothing new: no window is refolded, nothing is committed
    assert ma.refresh() is None
    assert sink.snapshots(QUARTERLY_AGG_TABLE) == agg_snaps
    sink.insert_if_absent("sales_fact", _fact(spark, 30, 40))
    assert ma.refresh() == sink.snapshots("sales_fact")[-1]
    assert _served(ma) == _recomputed(sink.read("sales_fact"))
    # every fact row folded exactly once
    n = sink.read(QUARTERLY_AGG_TABLE).agg(F.sum("n_rows")).first()[0]
    assert n == 40


def test_horizon_survives_rebase(spark, tmp_path):
    sink = _fact_sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 20))
    ma.refresh()
    gone = spark.createDataFrame([(i,) for i in range(5)], "order_id long")
    # rewrite-mode delete redacts history -> the next refresh rebases
    sink.delete_keys("sales_fact", gone, on=["order_id"])
    latest = ma.refresh()
    assert latest == sink.snapshots("sales_fact")[-1]
    assert sink.horizon(QUARTERLY_AGG_TABLE) == latest
    assert _served(ma) == _recomputed(sink.read("sales_fact"))
    assert ma.refresh() is None
    # rebase onto an EMPTY fact: nothing to fold, yet the horizon must
    # advance — a zero-row segment records it
    sink.truncate("sales_fact")
    latest = ma.refresh()
    assert latest == sink.snapshots("sales_fact")[-1]
    assert sink.horizon(QUARTERLY_AGG_TABLE) == latest
    agg = sink.read(QUARTERLY_AGG_TABLE)
    assert agg is None or agg.count() == 0
    assert ma.refresh() is None


# ------------------------------------------------ manifest row counts


def test_unreadable_footer_omits_rows_and_refresh_still_folds(
    spark, tmp_path, monkeypatch
):
    import pyarrow.parquet as papq

    sink = _fact_sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 10))
    ma.refresh()
    real = papq.ParquetFile

    def insert_with_one_bad_footer(sink, name, df):
        calls = []

        def flaky(path, *a, **k):
            calls.append(path)
            if len(calls) == 1:
                raise OSError("simulated footer read failure")
            return real(path, *a, **k)

        monkeypatch.setattr(papq, "ParquetFile", flaky)
        try:
            sink.insert_if_absent(name, df)
        finally:
            monkeypatch.setattr(papq, "ParquetFile", real)
        assert calls, "the footer read was never attempted"

    insert_with_one_bad_footer(sink, "sales_fact", _fact(spark, 10, 25))
    snaps = sink.snapshots("sales_fact")
    live, _, _ = sink._segments("sales_fact")
    assert "rows" not in sink._manifest_meta(live[-1][1])
    # unknown, not an undercount: the refresh must count the diff
    assert sink.window_admission_rows("sales_fact", snaps[0], snaps[1]) is None
    assert ma.refresh() == snaps[-1]
    assert _served(ma) == _recomputed(sink.read("sales_fact"))
    # truncate must not mistake an unknown count for an empty table
    other = _fact_sink(spark, tmp_path / "other")
    insert_with_one_bad_footer(other, "sales_fact", _fact(spark, 0, 5))
    assert other.truncate("sales_fact") is not None
    assert other.read("sales_fact").count() == 0


# ------------------------------------------------------------- session


@pytest.mark.parametrize(
    "env, explicit, want",
    [("", None, 4), (None, None, 4), ("6", None, 6), ("6", 3, 3), ("", 2, 2)],
)
def test_initial_shuffle_partitions_env(monkeypatch, env, explicit, want):
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", env)
    assert initial_shuffle_partitions(explicit, 4) == want


# ------------------------------------------- the lean micro-batch path


def _pinned_lookups(products, customers):
    """The stream's pinned broadcast side (see streaming.pipeline)."""
    return tuple(
        df.localCheckpoint(eager=True)
        for df in master_lookups(products, customers)
    )


def _raw_lines(spark, lo: int, hi: int):
    """Raw (string) transaction lines as the stream source delivers
    them: every order twice (an exact duplicate) plus one invalid
    line."""
    rows = []
    for i in range(lo, hi):
        line = (f"O{i}", f"2019-{1 + i % 12:02d}-0{1 + i % 9} 1{i % 10}:00:00",
                f"P{i % 6}", str(1 + i % 4), f"C{i % 4}", f"T{i}")
        rows += [line, line]
    rows.append((f"O{hi}", "garbage", "P1", "2", "C1", "T0"))
    return spark.createDataFrame(rows, TRANSACTIONS_SCHEMA)


def test_steady_state_micro_batch_job_budget(spark, tmp_path):
    wh = warehouse_for(spark, str(tmp_path), "manifest")
    products, customers = _masters(spark)
    lookups = _pinned_lookups(products, customers)

    def micro_batch(lo, hi, first):
        typed = _typed(_raw_lines(spark, lo, hi))
        assert not typed.isEmpty()
        wh.load_batch(
            typed, products, customers, skip_dims=not first, lookups=lookups
        )
        refresh_quarterly_agg(wh)

    micro_batch(0, 20, True)
    _, jobs = _jobs(spark, lambda: micro_batch(20, 40, False))
    # the parent launched 17: two master dedup shuffles, the typed
    # batch's exact-line dedup, the partials' second shuffle and the
    # aggregate's seen-side broadcast are gone
    assert jobs <= 12, f"steady-state micro-batch launched {jobs} jobs"
    fact = wh.read("sales_fact")
    assert fact.count() == 40
    served = quarterly_sales_serve(wh).agg(F.sum("total_quarterly_quantity"))
    assert served.first()[0] == fact.agg(F.sum("quantity_ordered")).first()[0]


def _exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\w*Exchange \w+\(?[\w#]*", plan)


def test_agg_partials_staged_plan_has_one_exchange(
    spark, tmp_path, monkeypatch
):
    sink = _fact_sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 12))
    ma.refresh()
    sink.insert_if_absent("sales_fact", _fact(spark, 12, 30))
    staged = []
    real = sink._stage_segment

    def spy(name, df, *a, **k):
        if name == QUARTERLY_AGG_TABLE:
            staged.append(_exchanges(df))
        return real(name, df, *a, **k)

    monkeypatch.setattr(sink, "_stage_segment", spy)
    ma.refresh()
    # the partials' groupBy is the only exchange: no dedup shuffle on
    # the key, no broadcast of the seen side
    assert [len(x) for x in staged] == [1], staged
    assert _served(ma) == _recomputed(sink.read("sales_fact"))


def test_fact_build_over_pinned_lookups_shuffles_no_master(spark):
    products, customers = _masters(spark)
    tx = _transactions(spark, 0, 12, dt.datetime(2019, 1, 1))
    derived = _exchanges(build_fact(tx, products, customers))
    pinned = _exchanges(
        build_fact(
            tx, products, customers,
            lookups=_pinned_lookups(products, customers),
        )
    )
    assert any("(product_id" in x for x in derived), derived
    assert any("(customer_id" in x for x in derived), derived
    # only the broadcasts and the window's shuffle on the fact key
    shuffles = [x for x in pinned if x.startswith("Exchange ")]
    assert len(shuffles) == 1 and "(order_id" in shuffles[0], pinned
    assert not any(
        "(product_id" in x or "(customer_id" in x for x in shuffles
    ), pinned


def test_stream_with_pinned_lookups_equals_one_batch(spark, tmp_path):
    products, customers = _masters(spark)
    # a duplicated product id (same price, supplier, store; the
    # lookups must collapse it)
    products = products.unionByName(
        products.where("product_id = 'P1'").withColumn(
            "product_name", F.lit("prod1 (dup)")
        )
    )
    header = "order_id,order_date,product_id,quantity,customer_id,time_id\n"
    tx_dir = tmp_path / "tx"
    tx_dir.mkdir()
    files = []
    for f in range(3):
        lines = [",".join(r) for r in _raw_lines(spark, 10 * f, 10 * f + 10).collect()]
        lines.insert(3, "bad-order,2019-01-01 10:00:00,P1,notanint,C1,T1")
        files.append(header + "\n".join(lines) + "\n")
    files.append(files[1])  # a re-delivered file, verbatim
    for i, body in enumerate(files):
        (tx_dir / f"tx_{i}.csv").write_text(body)
    q = stream_etl(
        spark, str(tx_dir), str(tmp_path / "wh_stream"),
        str(tmp_path / "ckpt"), products, customers,
        maintain_quarterly_agg=True, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert q.exception() is None
    stream_wh = warehouse_for(spark, str(tmp_path / "wh_stream"))
    assert len(stream_wh.snapshots("sales_fact")) == 4

    batch_wh = warehouse_for(spark, str(tmp_path / "wh_batch"))
    batch_wh.load_batch(
        read_transactions(spark, str(tx_dir)), products, customers
    )
    refresh_quarterly_agg(batch_wh)

    def answers(wh):
        return {
            "sales_fact": _rows(wh.read("sales_fact")),
            "time_dimension": _rows(wh.read("time_dimension")),
            "served": _rows(quarterly_sales_serve(wh, wh.read("store"))),
        }

    got, want = answers(stream_wh), answers(batch_wh)
    assert len(want["sales_fact"]) == 30
    assert got == want


# ------------------------------------------- the aggregate's horizon short-cut


def test_horizon_shortcut_yields_to_a_racing_refresh(
    spark, tmp_path, monkeypatch
):
    """A second refresher commits between an attempt's listing and its
    publish: the attempt loses the number, re-lists, sees the moved
    horizon and anti-joins — nothing is folded twice."""
    sink = _fact_sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 12))
    ma.refresh()
    sink.insert_if_absent("sales_fact", _fact(spark, 12, 30))
    real = sink._publish
    raced = []
    reads = []
    real_read = sink._read_live

    def racing_publish(name, stage, num):
        if name == QUARTERLY_AGG_TABLE and not raced:
            raced.append(num)
            assert quarterly_maintained(sink).refresh() is not None
        return real(name, stage, num)

    def read_spy(name, *a, **k):
        reads.append(name)
        return real_read(name, *a, **k)

    monkeypatch.setattr(sink, "_publish", racing_publish)
    monkeypatch.setattr(sink, "_read_live", read_spy)
    latest = ma.refresh()
    assert raced and latest == sink.snapshots("sales_fact")[-1]
    # the racer took the first attempt's number; the retry anti-joined
    assert sink.snapshots(QUARTERLY_AGG_TABLE) == [0, 1, 2]
    assert QUARTERLY_AGG_TABLE in reads
    assert _served(ma) == _recomputed(sink.read("sales_fact"))
    n = sink.read(QUARTERLY_AGG_TABLE).agg(F.sum("n_rows")).first()[0]
    assert n == 30


def test_refresh_of_legacy_agg_without_horizon_still_anti_joins(
    spark, tmp_path, monkeypatch
):
    sink = _fact_sink(spark, tmp_path)
    ma = quarterly_maintained(sink)
    sink.insert_if_absent("sales_fact", _fact(spark, 0, 12))
    ma.refresh()
    # a table written before the horizon moved into the manifests
    agg_dir = tmp_path / QUARTERLY_AGG_TABLE
    for d in os.listdir(agg_dir):
        p = agg_dir / d / "_COMMITTED.json"
        if p.exists():
            meta = json.loads(p.read_text())
            assert meta.pop("upto", None) is not None
            p.write_text(json.dumps(meta))
    assert sink.horizon(QUARTERLY_AGG_TABLE) is None
    sink.insert_if_absent("sales_fact", _fact(spark, 12, 30))
    reads = []
    real_read = sink._read_live

    def read_spy(name, *a, **k):
        reads.append(name)
        return real_read(name, *a, **k)

    monkeypatch.setattr(sink, "_read_live", read_spy)
    assert ma.refresh() == sink.snapshots("sales_fact")[-1]
    assert QUARTERLY_AGG_TABLE in reads
    assert _served(ma) == _recomputed(sink.read("sales_fact"))
    n = sink.read(QUARTERLY_AGG_TABLE).agg(F.sum("n_rows")).first()[0]
    assert n == 30


# ------------------------------------------------ replay commits


def test_full_replay_commits_zero_file_segment(spark, tmp_path):
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k"]}, backend="manifest"
    )
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    batch = mk([(i, f"v{i}") for i in range(10)])
    sink.insert_if_absent("t", batch)
    live = sink._segments("t")[0]
    want = _rows(sink.read("t"))
    sink.insert_if_absent("t", batch)  # full replay: admits nothing
    assert sink._segments("t")[0] == live
    assert sink.snapshots("t") == [0, 1]
    rows, _ = sink._list_committed("t")
    replay = rows[-1]
    assert replay[0] == 1 and replay[2]["files"] == [] and replay[2]["rows"] == 0
    assert not [f for f in os.listdir(replay[1]) if f.endswith(".parquet")]
    assert _rows(sink.read_at("t", 1)) == want
    assert sink.window_admission_rows("t", 0, 1) == 0
    assert _rows(sink.read("t")) == want
    # a later batch still admits only its new keys
    sink.insert_if_absent("t", mk([(9, "x"), (10, "v10")]))
    assert sink.window_admission_rows("t", 1, 2) == 1
    assert _rows(sink.read("t")) == sorted(want + [(10, "v10")])


def test_empty_first_insert_and_truncate_stay_readable(spark, tmp_path):
    sink = make_sink(spark, str(tmp_path), keys={"t": ["k"]}, backend="manifest")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    # a first insert of an empty batch: readable, with its schema
    sink.insert_if_absent("t", mk([]))
    first = sink.read("t")
    assert first is not None and first.count() == 0
    assert first.columns == ["k", "v"]
    sink.insert_if_absent("t", mk([(1, "a")]))
    sink.truncate("t")
    # truncate's covering segment: an empty table that still reads
    empty = sink.read("t")
    assert empty is not None and empty.count() == 0
    n_live = len(sink._segments("t")[0])
    sink.insert_if_absent("t", mk([]))  # admits nothing: zero-file
    assert len(sink._segments("t")[0]) == n_live
    assert sink.read("t").count() == 0
