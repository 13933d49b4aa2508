"""Sink-backend contract tests: the insert-if-absent protocol must
behave identically on every backend (first writer of a key wins,
replays are no-ops, partitioned tables stay prunable). The manifest
backend runs everywhere; the Delta MERGE backend is env-gated on the
optional delta-spark package (skip-marked here when absent, like the
PIL image tests)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    BACKENDS,
    DeltaMergeSink,
    ManifestParquetSink,
    delta_available,
    make_sink,
    read_table,
)

BACKEND_PARAMS = [
    "manifest",
    pytest.param(
        "delta",
        marks=pytest.mark.skipif(
            not delta_available(),
            reason="delta-spark not installed (optional backend)",
        ),
    ),
]


def _sink(spark, root, backend, partitioning=None):
    return make_sink(
        spark,
        str(root),
        keys={"t": ["k"]},
        partitioning=partitioning or {},
        backend=backend,
    )


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_first_writer_wins_and_replay_noop(spark, tmp_path, backend):
    sink = _sink(spark, tmp_path, backend)
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sink.insert_if_absent("t", b1)
    # conflicting value for key 1 must lose; key 3 is new
    b2 = spark.createDataFrame([(1, "X"), (3, "c")], "k long, v string")
    sink.insert_if_absent("t", b2)
    # exact replay of batch 2 (at-least-once) must be a no-op
    sink.insert_if_absent("t", b2)
    got = {(r["k"], r["v"]) for r in sink.read("t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_within_batch_key_dedup(spark, tmp_path, backend):
    sink = _sink(spark, tmp_path, backend)
    b = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, v string")
    sink.insert_if_absent("t", b)
    assert sink.read("t").count() == 2


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_partitioned_insert_and_prune(spark, tmp_path, backend):
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k"]},
        partitioning={"t": ["p"]}, backend=backend,
    )
    b1 = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], "k long, p int, v string")
    sink.insert_if_absent("t", b1)
    b2 = spark.createDataFrame([(1, 10, "X"), (3, 20, "c")], "k long, p int, v string")
    sink.insert_if_absent("t", b2)
    got = {(r["k"], r["p"], r["v"]) for r in sink.read("t").collect()}
    assert got == {(1, 10, "a"), (2, 20, "b"), (3, 20, "c")}
    # partition column must be a real partition: filtering plans prune
    plan = (
        sink.read("t").filter(F.col("p") == 10)._jdf.queryExecution()
        .executedPlan().toString()
    )
    if backend == "manifest":
        assert "PartitionFilters: [" in plan and "(p" in plan.split(
            "PartitionFilters"
        )[1][:80]


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_null_key_components_do_not_duplicate(spark, tmp_path, backend):
    # anti-join uses null-safe semantics implicitly (dropDuplicates +
    # left_anti on equal keys); MERGE uses <=> — a NULL key must be
    # admitted once and then treated as existing
    sink = _sink(spark, tmp_path, backend)
    b = spark.createDataFrame([(None, "n")], "k long, v string")
    sink.insert_if_absent("t", b)
    sink.insert_if_absent("t", b)
    rows = sink.read("t").collect()
    assert len(rows) == 1 and rows[0]["v"] == "n"


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_null_partition_replay_noop(spark, tmp_path, backend):
    # rows in the NULL hive partition (__HIVE_DEFAULT_PARTITION__)
    # must read back as seen, so their replay is a no-op
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k"]},
        partitioning={"t": ["p"]}, backend=backend,
    )
    b = spark.createDataFrame(
        [(1, None, "n"), (2, 10, "a")], "k long, p int, v string"
    )
    sink.insert_if_absent("t", b)
    sink.insert_if_absent("t", b)
    got = sorted(
        (r["k"], r["p"], r["v"]) for r in sink.read("t").collect()
    )
    assert got == [(1, None, "n"), (2, 10, "a")]


def test_read_missing_table_returns_none(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    assert sink.read("t") is None


def test_crashed_segment_is_invisible(spark, tmp_path):
    """Manifest backend crash-atomicity: a segment directory without
    its commit manifest (= a writer that died mid-batch) must be
    invisible to readers AND to the next batch's anti-join; the next
    batch must not collide with the orphan's segment number."""
    sink = _sink(spark, tmp_path, "manifest")
    b1 = spark.createDataFrame([(1, "a")], "k long, v string")
    sink.insert_if_absent("t", b1)
    # simulate a crash: data lands in seg_1, manifest never written
    orphan = tmp_path / "t" / "seg_1"
    spark.createDataFrame([(9, "ghost")], "k long, v string").write.parquet(
        str(orphan)
    )
    assert {tuple(r) for r in sink.read("t").collect()} == {(1, "a")}
    # next batch re-inserts key 9 (the ghost never happened) and
    # writes seg_2, not seg_1
    b2 = spark.createDataFrame([(9, "real")], "k long, v string")
    sink.insert_if_absent("t", b2)
    assert {tuple(r) for r in sink.read("t").collect()} == {
        (1, "a"), (9, "real")
    }
    assert (tmp_path / "t" / "seg_2" / "_COMMITTED.json").exists()


def test_make_sink_backend_registry(spark, tmp_path):
    assert set(BACKENDS) == {"manifest", "delta"}
    assert isinstance(
        make_sink(spark, str(tmp_path), keys={}), ManifestParquetSink
    )
    # the retired backend names are unknown, not aliases
    for gone in ("iceberg", "parquet", "bloom"):
        with pytest.raises(
            ValueError, match=r"unknown sink backend.*\['delta', 'manifest'\]"
        ):
            make_sink(spark, str(tmp_path), keys={}, backend=gone)
    if not delta_available():
        with pytest.raises(ImportError, match="delta-spark"):
            DeltaMergeSink(spark, str(tmp_path))
        # auto falls back to manifest when delta is absent
        assert isinstance(
            make_sink(spark, str(tmp_path), keys={}, backend="auto"),
            ManifestParquetSink,
        )


def test_manifest_options_validated_by_backend_name(spark, tmp_path):
    """Manifest-only options are checked against the backend NAME
    before any sink is built: delta rejects them even where
    delta-spark is absent, and only the manifest option names pass
    (neither a base field such as ``root`` nor a method name)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
        warehouse_for,
    )

    root = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="apply only to the 'manifest'"):
        make_sink(spark, root, keys={}, backend="delta", tier_factor=3.0)
    with pytest.raises(ValueError, match="apply only to the 'manifest'"):
        warehouse_for(spark, root, "delta", auto_compact_segments=4)
    for bad in ({"root": str(tmp_path / "elsewhere")},
                {"insert_if_absent": None}, {"keys": {}}):
        with pytest.raises(ValueError, match="unknown sink option"):
            warehouse_for(spark, root, sink_kwargs=bad)
    # removed options are unknown names, not aliases
    remaining = (
        r"\['auto_compact_segments', 'stats_cols', "
        r"'allow_schema_evolution', 'tier_factor', "
        r"'materialize_tombstones_after'\]"
    )
    for gone in ({"commit_protocol": "rename"}, {"compact_async": True}):
        with pytest.raises(ValueError, match="unknown sink option.*" + remaining):
            warehouse_for(spark, root, sink_kwargs=gone)
    with pytest.raises(TypeError, match="compact_async"):
        make_sink(spark, root, keys={}, compact_async=True)
    wh = warehouse_for(
        spark,
        root,
        sink_kwargs={"tier_factor": 3.0, "materialize_tombstones_after": 2},
    )
    assert wh.root == root
    assert (wh.tier_factor, wh.materialize_tombstones_after) == (3.0, 2)
    # the warehouse's own zone-map default survives unrelated options
    assert wh.stats_cols == {"sales_fact": ["order_date"]}


def test_default_warehouse_reads_back_through_read_table(spark, tmp_path):
    """Every writer and ``read_table`` share one default backend: a
    table written through the ``MetroWarehouse``/``warehouse_for``
    defaults reads back through the ``read_table`` default instead of
    reading as absent (None)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
        warehouse_for,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.pipeline import (
        MetroWarehouse,
    )

    products = spark.createDataFrame(
        [("P1", "widget", 5.0, "S1", "ST1")],
        "product_id string, product_name string, price double, "
        "supplier_id string, store_id string",
    )
    for root, wh in (
        (str(tmp_path / "a"), warehouse_for(spark, str(tmp_path / "a"))),
        (str(tmp_path / "b"),
         MetroWarehouse(spark, str(tmp_path / "b")).warehouse),
    ):
        wh.insert_if_absent("products", products)
        got = read_table(spark, root, "products")
        assert got is not None
        assert [r.product_id for r in got.collect()] == ["P1"]


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_streaming_etl_replay_idempotent_per_backend(spark, tmp_path, backend):
    """The ST3 replay contract, exercised through the real streaming
    ETL on each backend: re-running the drained stream with a FRESH
    checkpoint (worst case: full replay) must not change the fact."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.pipeline import (
        stream_etl,
    )

    tx = tmp_path / "tx"
    tx.mkdir()
    (tx / "b1.csv").write_text(
        "order_id,order_date_raw,product_id,quantity_ordered_raw,customer_id,time_id\n"
        "O1,2019-01-02 10:00:00,P1,2,C1,T1\n"
        "O2,2019-01-03 11:00:00,P1,1,C2,T2\n"
    )
    products = spark.createDataFrame(
        [("P1", "widget", 5.0, "S1", "sup", "ST1", "store")],
        "product_id string, product_name string, price double, "
        "supplier_id string, supplier_name string, store_id string, "
        "store_name string",
    )
    customers = spark.createDataFrame(
        [("C1", "alice", "F"), ("C2", "bob", "M")],
        "customer_id string, customer_name string, gender string",
    )
    wh_root = str(tmp_path / "wh")
    for attempt in (1, 2):
        q = stream_etl(
            spark, str(tx), wh_root, str(tmp_path / f"ckpt{attempt}"),
            products, customers, backend=backend,
        )
        q.awaitTermination()
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
        warehouse_for,
    )

    wh = warehouse_for(spark, wh_root, backend)
    fact = wh.read("sales_fact")
    assert fact.count() == 2
    assert wh.read("products").count() == 1


def test_manifest_snapshots_time_travel(spark, tmp_path):
    """Every committed segment is a reproducible dataset version:
    read_at(s) returns the table exactly as of that commit, forever —
    the 'we trained on snapshot N' pin a training pipeline needs."""
    sink = _sink(spark, tmp_path, "manifest")
    b1 = spark.createDataFrame([(1, "a")], "k long, v string")
    b2 = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string")
    sink.insert_if_absent("t", b1)
    sink.insert_if_absent("t", b2)
    sink.insert_if_absent("t", b2)  # replay: empty commit, still a snapshot
    assert sink.snapshots("t") == [0, 1, 2]
    assert {r["k"] for r in sink.read_at("t", 0).collect()} == {1}
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {1, 2, 3}
    # the empty replay snapshot equals the one before it
    assert {r["k"] for r in sink.read_at("t", 2).collect()} == {1, 2, 3}
    # later batches never change an old snapshot
    sink.insert_if_absent(
        "t", spark.createDataFrame([(9, "z")], "k long, v string")
    )
    assert {r["k"] for r in sink.read_at("t", 0).collect()} == {1}
    assert {r["k"] for r in sink.read("t").collect()} == {1, 2, 3, 9}
    with pytest.raises(ValueError, match="unknown snapshot"):
        sink.read_at("t", 99)


def test_manifest_crashed_segment_is_not_a_snapshot(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent(
        "t", spark.createDataFrame([(1, "a")], "k long, v string")
    )
    orphan = tmp_path / "t" / "seg_1"
    spark.createDataFrame([(9, "ghost")], "k long, v string").write.parquet(
        str(orphan)
    )
    assert sink.snapshots("t") == [0]


def test_manifest_added_between_provenance(spark, tmp_path):
    """added_between = whole-segment union; equals the read_at diff by
    key; validates its snapshot arguments."""
    sink = _sink(spark, tmp_path, "manifest")
    mk = lambda *ks: spark.createDataFrame(
        [(k, f"v{k}") for k in ks], "k long, v string"
    )
    sink.insert_if_absent("t", mk(1, 2))
    sink.insert_if_absent("t", mk(2, 3))      # 2 replayed -> adds 3
    sink.insert_if_absent("t", mk(2, 3))      # full replay -> empty seg
    sink.insert_if_absent("t", mk(4, 5))
    assert sink.snapshots("t") == [0, 1, 2, 3]
    # full history tagged by first-admission snapshot
    full = sink.added_between("t", None, 3)
    assert {(r["k"], r["_snapshot"]) for r in full.collect()} == {
        (1, 0), (2, 0), (3, 1), (4, 3), (5, 3)
    }
    # added_between(None, s) == read_at(s) modulo the tag column
    assert {r["k"] for r in full.collect()} == {
        r["k"] for r in sink.read_at("t", 3).collect()
    }
    # window diff == read_at(b) minus read_at(a) by key
    win = sink.added_between("t", 0, 2)
    assert {r["k"] for r in win.collect()} == (
        {r["k"] for r in sink.read_at("t", 2).collect()}
        - {r["k"] for r in sink.read_at("t", 0).collect()}
    )
    # window covering only the replay segment -> zero added rows
    replay_win = sink.added_between("t", 1, 2)
    assert replay_win is None or replay_win.count() == 0
    with pytest.raises(ValueError, match="unknown until"):
        sink.added_between("t", 0, 99)
    with pytest.raises(ValueError, match="unknown since"):
        sink.added_between("t", 77, 3)
    with pytest.raises(ValueError, match="after until"):
        sink.added_between("t", 3, 1)


def _mk(spark, *ks):
    return spark.createDataFrame(
        [(k, f"v{k}") for k in ks], "k long, v string"
    )


def _hist(sink, name="t"):
    """Full observable history of a manifest table: every snapshot's
    row set (None preserved verbatim — read_at's 'None when nothing
    visible' contract must hold identically across compact, so the
    helper must NOT collapse None and empty), the current rows, and
    the full provenance diff."""
    snaps = sink.snapshots(name)
    at = {}
    for s in snaps:
        df = sink.read_at(name, s)
        at[s] = None if df is None else {tuple(r) for r in df.collect()}
    full = sink.added_between(name, None, snaps[-1])
    prov = {(r["k"], r["_snapshot"]) for r in full.collect()}
    now = {tuple(r) for r in sink.read(name).collect()}
    return snaps, at, prov, now


def test_manifest_compaction_preserves_history(spark, tmp_path):
    """compact() must be invisible to every reader: same snapshots()
    ids, identical read_at for each historical snapshot, identical
    added_between provenance, replays still no-ops — while the live
    directory count collapses to one segment."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _mk(spark, 1, 2))
    sink.insert_if_absent("t", _mk(spark, 2, 3))   # 2 replayed
    sink.insert_if_absent("t", _mk(spark, 2, 3))   # empty snapshot 2
    sink.insert_if_absent("t", _mk(spark, 4))
    snaps0, at0, prov0, now0 = _hist(sink)
    assert snaps0 == [0, 1, 2, 3]

    new = sink.compact("t")
    assert new == 4
    snaps1, at1, prov1, now1 = _hist(sink)
    # all historical ids survive; the compaction commit is a snapshot
    assert snaps1 == [0, 1, 2, 3, 4]
    for s in snaps0:
        assert at1[s] == at0[s], f"read_at({s}) changed across compact"
    assert at1[4] == at0[3]  # compaction adds no rows
    assert prov1 == prov0
    assert now1 == now0
    # exactly one live data directory remains
    seg_dirs = sorted(
        d for d in (tmp_path / "t").iterdir() if d.name.startswith("seg_")
    )
    assert [d.name for d in seg_dirs] == ["seg_4"]
    # replay of an already-compacted batch is still a no-op
    sink.insert_if_absent("t", _mk(spark, 2, 3))
    assert {tuple(r) for r in sink.read("t").collect()} == now0
    # new batches append normally and a SECOND compaction (covering
    # the compacted segment itself) still preserves everything
    sink.insert_if_absent("t", _mk(spark, 9))
    snaps2, at2, prov2, now2 = _hist(sink)
    assert sink.compact("t") == 7
    snaps3, at3, prov3, now3 = _hist(sink)
    assert snaps3 == snaps2 + [7]
    for s in snaps2:
        assert at3[s] == at2[s]
    assert prov3 == prov2 and now3 == now2


def test_manifest_compaction_crash_before_cleanup(spark, tmp_path, monkeypatch):
    """A crash between the covering-manifest commit and the covered-dir
    deletion must leave the table fully consistent: readers skip
    covered dirs the moment the covering manifest exists."""
    import shutil

    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _mk(spark, 1))
    sink.insert_if_absent("t", _mk(spark, 2))
    _, at0, prov0, now0 = _hist(sink)
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **kw: None)
    assert sink.compact("t") == 2
    monkeypatch.undo()
    # covered dirs still on disk...
    assert (tmp_path / "t" / "seg_0").is_dir()
    # ...but invisible: no double-counting anywhere
    snaps1, at1, prov1, now1 = _hist(sink)
    assert snaps1 == [0, 1, 2]
    assert at1[0] == at0[0] and at1[1] == at0[1]
    assert prov1 == prov0 and now1 == now0
    # next batch numbers past everything and replays stay no-ops
    sink.insert_if_absent("t", _mk(spark, 1, 5))
    assert {r["k"] for r in sink.read("t").collect()} == {1, 2, 5}
    assert sink.snapshots("t") == [0, 1, 2, 3]


def test_manifest_compaction_partitioned(spark, tmp_path):
    """Hive-partitioned tables compact into one file per partition
    value and keep pruning + time travel."""
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k"]},
        partitioning={"t": ["p"]}, backend="manifest",
    )
    b = lambda rows: spark.createDataFrame(rows, "k long, p int, v string")
    sink.insert_if_absent("t", b([(1, 10, "a"), (2, 20, "b")]))
    sink.insert_if_absent("t", b([(3, 10, "c")]))
    sink.insert_if_absent("t", b([(4, 20, "d")]))
    _, at0, _, now0 = _hist(sink)
    assert sink.compact("t") == 3
    _, at1, _, now1 = _hist(sink)
    assert now1 == now0
    for s in (0, 1, 2):
        assert at1[s] == at0[s]
    # partition dirs survive inside the compacted segment
    assert (tmp_path / "t" / "seg_3" / "p=10").is_dir()
    files = list((tmp_path / "t" / "seg_3" / "p=10").glob("*.parquet"))
    assert len(files) == 1  # target_partitions=1 -> one file per value


def test_manifest_compaction_too_few_segments_is_noop(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _mk(spark, 1))
    assert sink.compact("t") is None
    assert sink.snapshots("t") == [0]
    assert {r["k"] for r in sink.read("t").collect()} == {1}


def test_manifest_auto_compaction_policy(spark, tmp_path):
    """auto_compact_segments bounds the LIVE directory count at any
    micro-batch cadence while every snapshot and the replay contract
    survive each rewrite."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.auto_compact_segments = 3
    for b in range(8):
        sink.insert_if_absent("t", _mk(spark, 2 * b, 2 * b + 1))
        live, _, _ = sink._segments("t")
        assert len(live) <= 3 + 1  # bound + the just-compacted output
    assert {r["k"] for r in sink.read("t").collect()} == set(range(16))
    # historical snapshots all answer (batch commits = snapshots 0..7,
    # compaction commits interleaved after)
    snaps = sink.snapshots("t")
    assert set(range(8)) <= set(snaps)
    assert {r["k"] for r in sink.read_at("t", 2).collect()} == {0, 1, 2, 3, 4, 5}
    # replay after several auto-compactions still a no-op
    sink.insert_if_absent("t", _mk(spark, 0, 1))
    assert sink.read("t").count() == 16


def test_auto_compaction_defers_deletion_for_inflight_readers(spark, tmp_path):
    """Auto-compaction must not delete superseded dirs inside the
    batch that compacted them: a lazy reader plan built BEFORE the
    triggering insert still materializes afterwards (its files are
    kept until the NEXT batch's start-of-batch GC)."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.auto_compact_segments = 2
    sink.insert_if_absent("t", _mk(spark, 0, 1))
    sink.insert_if_absent("t", _mk(spark, 2, 3))
    pre = sink.read("t")  # lazy plan over seg_0 + seg_1
    sink.insert_if_absent("t", _mk(spark, 4))  # triggers compaction
    # superseded dirs still on disk (deferred), so the old plan works
    assert {r["k"] for r in pre.collect()} == {0, 1, 2, 3}
    dirs = {d.name for d in (tmp_path / "t").iterdir()}
    assert {"seg_0", "seg_1"} <= dirs
    # next batch GCs them
    sink.insert_if_absent("t", _mk(spark, 5))
    dirs = {d.name for d in (tmp_path / "t").iterdir()}
    assert "seg_0" not in dirs and "seg_1" not in dirs
    assert {r["k"] for r in sink.read("t").collect()} == {0, 1, 2, 3, 4, 5}


def test_manifest_read_at_none_preserved_across_compact(spark, tmp_path):
    """At a snapshot where only empty segments were visible, read_at
    returns None — and must STILL return None after compaction (the
    covering manifest's min_row visibility floor), not an empty
    DataFrame."""
    sink = _sink(spark, tmp_path, "manifest")
    # snapshot 0: a zero-file committed segment, exactly the on-disk
    # shape a fully-deduplicated replay batch commits (files: [])
    seg0 = tmp_path / "t" / "seg_0"
    seg0.mkdir(parents=True)
    (seg0 / "_COMMITTED.json").write_text('{"files": []}')
    sink.insert_if_absent("t", _mk(spark, 1))  # snapshot 1
    sink.insert_if_absent("t", _mk(spark, 2))  # snapshot 2
    assert sink.read_at("t", 0) is None
    assert sink.compact("t") == 3
    assert sink.snapshots("t") == [0, 1, 2, 3]
    assert sink.read_at("t", 0) is None, (
        "post-compaction read_at must preserve the None contract"
    )
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {1}
    assert {r["k"] for r in sink.read_at("t", 2).collect()} == {1, 2}
    # a second compaction must propagate the floor it recorded
    sink.insert_if_absent("t", _mk(spark, 5))
    assert sink.compact("t") == 5
    assert sink.read_at("t", 0) is None
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {1}


def test_manifest_publish_is_exclusive(spark, tmp_path):
    """The rename-publish must refuse a segment number someone else
    already owns — the OCC primitive two concurrent writers serialize
    through."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _mk(spark, 1))
    stage = sink._stage_segment("t", _mk(spark, 2))
    # number 0 is taken: publish must lose, not clobber
    assert sink._publish("t", stage, 0) is False
    assert {r["k"] for r in sink.read("t").collect()} == {1}
    # the free number wins
    assert sink._publish("t", stage, 1) is True
    assert {r["k"] for r in sink.read("t").collect()} == {1, 2}


def test_manifest_concurrent_writers_no_lost_or_duplicate_keys(
    spark, tmp_path
):
    """Two writer handles on ONE table, interleaved from two threads
    with overlapping key ranges: every key lands exactly once (no
    losses, no duplicates), snapshots are dense, and a full replay is
    a no-op. This is the optimistic-concurrency contract — without
    the rename-claim a racer could pass the anti-join twice and
    commit the same key twice."""
    import threading

    root = str(tmp_path)
    w1 = make_sink(spark, root, keys={"t": ["k"]}, backend="manifest")
    w2 = make_sink(spark, root, keys={"t": ["k"]}, backend="manifest")
    # overlapping batches: evens, threes — keys divisible by 6 race
    batches1 = [list(range(2 * b, 2 * b + 40, 2)) for b in range(4)]
    batches2 = [list(range(3 * b, 3 * b + 60, 3)) for b in range(4)]
    errs = []
    gate = threading.Barrier(2)

    def run(sink, batches):
        try:
            gate.wait()
            for ks in batches:
                sink.insert_if_absent("t", _mk(spark, *ks))
        except Exception as e:  # pragma: no cover - failure evidence
            errs.append(e)

    t1 = threading.Thread(target=run, args=(w1, batches1))
    t2 = threading.Thread(target=run, args=(w2, batches2))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errs, errs
    expect = {k for b in batches1 + batches2 for k in b}
    rows = w1.read("t").collect()
    got = [r["k"] for r in rows]
    assert len(got) == len(set(got)), "duplicate keys committed"
    assert set(got) == expect, "lost rows"
    # every committed snapshot id is dense from 0 (ordered publishes)
    snaps = w1.snapshots("t")
    assert snaps == list(range(len(snaps)))
    # full replay through either handle is a no-op
    for ks in batches1 + batches2:
        w2.insert_if_absent("t", _mk(spark, *ks))
    assert w1.read("t").count() == len(expect)


def test_manifest_compaction_racing_ingest(spark, tmp_path):
    """A compaction loop racing an ingest loop: every ingested key
    survives exactly once, history stays dense, and compactions
    either win cleanly or retry — never corrupt."""
    import threading

    root = str(tmp_path)
    wi = make_sink(spark, root, keys={"t": ["k"]}, backend="manifest")
    wc = make_sink(spark, root, keys={"t": ["k"]}, backend="manifest")
    wi.insert_if_absent("t", _mk(spark, -1, -2))
    wi.insert_if_absent("t", _mk(spark, -3))
    errs = []
    gate = threading.Barrier(2)

    def ingest():
        try:
            gate.wait()
            for b in range(5):
                wi.insert_if_absent(
                    "t", _mk(spark, *range(10 * b, 10 * b + 10))
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def compactor():
        try:
            gate.wait()
            for _ in range(3):
                # deferred deletion: the racing ingest writer's lazy
                # anti-join plans keep their files (vacuum horizon)
                wc.compact("t", delete_covered=False)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=ingest)
    t2 = threading.Thread(target=compactor)
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errs, errs
    expect = {-1, -2, -3} | set(range(50))
    got = [r["k"] for r in wi.read("t").collect()]
    assert len(got) == len(set(got)) and set(got) == expect
    snaps = wi.snapshots("t")
    assert snaps == list(range(len(snaps)))
    # replay after the race: still a no-op
    wi.insert_if_absent("t", _mk(spark, *range(0, 50)))
    assert wi.read("t").count() == len(expect)


def test_manifest_read_unpartitioned_is_single_scan(spark, tmp_path):
    """The per-micro-batch hot path: an unpartitioned manifest table
    with N plain segments must read through ONE multi-path FileScan,
    not N readers + N-1 unions (O(segments) driver plan-building)."""
    sink = _sink(spark, tmp_path, "manifest")
    for b in range(4):
        sink.insert_if_absent("t", _mk(spark, 2 * b, 2 * b + 1))
    df = sink.read("t")
    assert {r["k"] for r in df.collect()} == set(range(8))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Union" not in plan


def test_manifest_concurrent_writers_compound_key(spark, tmp_path):
    """The OCC contract on a COMPOUND key (the line-index /
    adaptive-stats shape): two writers racing overlapping (fp, owner)
    pairs commit each pair exactly once; replays no-op."""
    import threading

    def mk(pairs):
        return spark.createDataFrame(
            [(a, b) for a, b in pairs], "fp long, owner long"
        )

    root = str(tmp_path)
    keys = {"idx": ["fp", "owner"]}
    w1 = make_sink(spark, root, keys=keys, backend="manifest")
    w2 = make_sink(spark, root, keys=keys, backend="manifest")
    # overlap: both writers carry the (k, k) diagonal
    b1 = [[(k, k) for k in range(b, b + 12)] + [(b, 99)] for b in range(3)]
    b2 = [[(k, k) for k in range(b + 6, b + 18)] + [(b, 77)] for b in range(3)]
    errs = []
    gate = threading.Barrier(2)

    def run(sink, batches):
        try:
            gate.wait()
            for ps in batches:
                sink.insert_if_absent("idx", mk(ps))
        except Exception as e:  # pragma: no cover - failure evidence
            errs.append(e)

    t1 = threading.Thread(target=run, args=(w1, b1))
    t2 = threading.Thread(target=run, args=(w2, b2))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errs, errs
    expect = {p for bs in b1 + b2 for p in bs}
    got = [(r["fp"], r["owner"]) for r in w1.read("idx").collect()]
    assert len(got) == len(set(got)), "duplicate compound keys"
    assert set(got) == expect, "lost pairs"
    for ps in b1 + b2:
        w2.insert_if_absent("idx", mk(ps))
    assert w1.read("idx").count() == len(expect)


# ------------------------------------------------------------- zone maps


def _range_sink(spark, root):
    return make_sink(
        spark,
        str(root),
        keys={"t": ["k"]},
        backend="manifest",
        stats_cols={"t": ["k", "v"]},
    )


def _band(spark, lo, hi):
    return spark.createDataFrame(
        [(k, f"v{k:04d}") for k in range(lo, hi)], "k long, v string"
    )


def test_zone_map_scan_prunes_disjoint_segments(spark, tmp_path):
    """Each batch covers a disjoint key band (the event-time-keyed
    stream shape); a range scan must read ONLY the intersecting
    segments and return exactly read().filter(range)."""
    sink = _range_sink(spark, tmp_path)
    for b in range(4):
        sink.insert_if_absent("t", _band(spark, b * 100, b * 100 + 100))
    total, kept = sink.prune_report("t", {"k": (150, 160)})
    assert (total, kept) == (4, 1)
    got = {r["k"] for r in sink.scan("t", {"k": (150, 160)}).collect()}
    assert got == set(range(150, 161))
    # open-ended bounds
    assert sink.prune_report("t", {"k": (None, 99)}) == (4, 1)
    assert sink.prune_report("t", {"k": (350, None)}) == (4, 1)
    # string zone maps prune too
    assert sink.prune_report("t", {"v": ("v0150", "v0160")}) == (4, 1)
    # scan ≡ read().filter(...) — pruning is an access path, not a
    # semantic change
    want = {
        r["k"]
        for r in sink.read("t").filter("k >= 150 and k <= 160").collect()
    }
    assert got == want


def test_zone_map_scan_empty_result_reads_nothing(spark, tmp_path):
    sink = _range_sink(spark, tmp_path)
    sink.insert_if_absent("t", _band(spark, 0, 10))
    assert sink.prune_report("t", {"k": (500, 600)}) == (1, 0)
    assert sink.scan("t", {"k": (500, 600)}) is None


def test_zone_map_survives_compaction_and_replay(spark, tmp_path):
    """Compaction recomputes the covering segment's stats from its own
    footers; replayed rows change nothing; scan stays ≡ filter."""
    sink = _range_sink(spark, tmp_path)
    for b in range(3):
        sink.insert_if_absent("t", _band(spark, b * 100, b * 100 + 100))
    sink.insert_if_absent("t", _band(spark, 0, 100))  # replay no-op
    assert sink.compact("t") is not None
    total, kept = sink.prune_report("t", {"k": (50, 60)})
    assert (total, kept) == (1, 1)  # one covering segment, still read
    got = {r["k"] for r in sink.scan("t", {"k": (50, 60)}).collect()}
    assert got == set(range(50, 61))
    # a fresh disjoint batch after compaction prunes against the
    # compacted segment again
    sink.insert_if_absent("t", _band(spark, 900, 910))
    assert sink.prune_report("t", {"k": (900, 905)}) == (2, 1)


def test_zone_map_unknown_stats_never_prune(spark, tmp_path):
    """A segment committed WITHOUT stats (pre-zone-map history, or a
    column whose footer stats were unusable) must always be read."""
    plain = make_sink(
        spark, str(tmp_path), keys={"t": ["k"]}, backend="manifest"
    )
    plain.insert_if_absent("t", _band(spark, 0, 10))  # no stats recorded
    sink = _range_sink(spark, tmp_path)
    sink.insert_if_absent("t", _band(spark, 100, 110))
    total, kept = sink.prune_report("t", {"k": (105, 106)})
    assert (total, kept) == (2, 2 - 0)  # stat-less segment never pruned
    got = {r["k"] for r in sink.scan("t", {"k": (5, 105)}).collect()}
    assert got == set(range(5, 10)) | set(range(100, 106))


def test_zone_map_nulls_stay_prunable(spark, tmp_path):
    """NULLs in a stat column cannot satisfy a range predicate, so a
    segment's non-null bounds keep pruning correct — and an all-null
    segment is prunable by any range."""
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        backend="manifest",
        stats_cols={"t": ["v"]},
    )
    mixed = spark.createDataFrame(
        [(1, 10), (2, None), (3, 20)], "k long, v long"
    )
    allnull = spark.createDataFrame(
        [(7, None), (8, None)], "k long, v long"
    )
    sink.insert_if_absent("t", mixed)
    sink.insert_if_absent("t", allnull)
    got = {r["k"] for r in sink.scan("t", {"v": (15, 25)}).collect()}
    assert got == {3}
    # the mixed segment's bounds are the non-null ones; the all-null
    # segment records [] (no non-null values), prunable by any
    # bounded range since NULL never satisfies one
    stats = sink._segment_stats(str(tmp_path / "t" / "seg_0"))
    assert stats["v"] == [10, 20]
    assert sink._segment_stats(str(tmp_path / "t" / "seg_1"))["v"] == []
    assert sink.prune_report("t", {"v": (15, 25)}) == (2, 1)


def test_zone_maps_rejected_off_manifest_backend(spark, tmp_path):
    with pytest.raises(ValueError, match="zone maps"):
        make_sink(
            spark,
            str(tmp_path),
            keys={"t": ["k"]},
            backend="delta",
            stats_cols={"t": ["k"]},
        )


def test_covers_range_encoding_and_legacy_list(spark, tmp_path):
    """Compaction manifests store covers as an O(1) [lo, hi] range
    (committed numbers are dense, so the covered set is contiguous);
    legacy list manifests still read identically."""
    import json

    sink = _sink(spark, tmp_path, "manifest")
    for k in (1, 2, 3):
        sink.insert_if_absent("t", _mk(spark, k))
    new = sink.compact("t")
    with open(tmp_path / "t" / f"seg_{new}" / "_COMMITTED.json") as fh:
        meta = json.load(fh)
    assert meta["covers_range"] == [0, 2]
    assert "covers" not in meta
    assert sink.snapshots("t") == [0, 1, 2, 3]
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {1, 2}
    # legacy list form: rewrite the manifest the old way — everything
    # must answer the same
    meta2 = dict(meta)
    del meta2["covers_range"]
    meta2["covers"] = [0, 1, 2]
    with open(tmp_path / "t" / f"seg_{new}" / "_COMMITTED.json", "w") as fh:
        json.dump(meta2, fh)
    assert sink.snapshots("t") == [0, 1, 2, 3]
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {1, 2}
    assert {r["k"] for r in sink.read("t").collect()} == {1, 2, 3}


# ------------------------------------------------------- schema evolution


def test_schema_mismatch_fails_loudly_by_default(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _mk(spark, 1))
    evolved = spark.createDataFrame(
        [(2, "v2", 99)], "k long, v string, extra long"
    )
    with pytest.raises(ValueError, match="adds \\['extra'\\]"):
        sink.insert_if_absent("t", evolved)
    shrunk = spark.createDataFrame([(3,)], "k long")
    with pytest.raises(ValueError, match="omits \\['v'\\]"):
        sink.insert_if_absent("t", shrunk)


def test_schema_evolution_add_column(spark, tmp_path):
    """Opt-in evolution: new columns backfill NULL for old rows, a
    batch omitting a non-key column fills typed NULLs, dedup and
    replay semantics are unchanged, compaction unifies."""
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        backend="manifest",
        allow_schema_evolution=True,
    )
    sink.insert_if_absent("t", _mk(spark, 1, 2))
    evolved = spark.createDataFrame(
        [(2, "LOSER", 20), (3, "v3", 30)], "k long, v string, extra long"
    )
    sink.insert_if_absent("t", evolved)  # k=2 must still lose (dedup)
    rows = {r["k"]: r for r in sink.read("t").collect()}
    assert set(sink.read("t").columns) == {"k", "v", "extra"}
    assert rows[1]["extra"] is None and rows[2]["extra"] is None
    assert rows[2]["v"] == "v2"  # first writer won
    assert rows[3]["extra"] == 30
    # a later batch omitting v gets a typed NULL
    sink.insert_if_absent(
        "t", spark.createDataFrame([(4, 40)], "k long, extra long")
    )
    rows = {r["k"]: r for r in sink.read("t").collect()}
    assert rows[4]["v"] is None and rows[4]["extra"] == 40
    # time travel returns the CURRENT unified schema (declared)
    at1 = sink.read_at("t", 0)
    assert {r["k"] for r in at1.collect()} == {1, 2}
    # compaction unifies the segments into one superset-schema file
    assert sink.compact("t") is not None
    rows = {r["k"]: r for r in sink.read("t").collect()}
    assert len(rows) == 4 and rows[3]["extra"] == 30
    assert {r["k"] for r in sink.read_at("t", 0).collect()} == {1, 2}
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {1, 2, 3}


def test_schema_evolution_cannot_drop_keys(spark, tmp_path):
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        backend="manifest",
        allow_schema_evolution=True,
    )
    sink.insert_if_absent("t", _mk(spark, 1))
    keyless = spark.createDataFrame([("x", 9)], "v string, extra long")
    with pytest.raises(ValueError, match="keys cannot evolve away"):
        sink.insert_if_absent("t", keyless)


def test_schema_evolution_rejected_off_manifest_backend(spark, tmp_path):
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        make_sink(
            spark,
            str(tmp_path),
            keys={"t": ["k"]},
            backend="delta",
            allow_schema_evolution=True,
        )


def test_clustered_compaction_prunes_files(spark, tmp_path):
    """compact(cluster_by=) + per-file zone maps: ingestion order is
    scrambled across batches, compaction sorts into disjoint per-file
    key bands, and a narrow range scan opens O(1) files of the single
    covering segment."""
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        backend="manifest",
        stats_cols={"t": ["k"]},
    )
    # interleaved bands: every batch spans nearly the whole key space,
    # so SEGMENT-level pruning alone cannot help
    for start in range(4):
        sink.insert_if_absent(
            "t",
            spark.createDataFrame(
                [(k, f"v{k}") for k in range(start, 400, 4)],
                "k long, v string",
            ),
        )
    assert sink.prune_report("t", {"k": (100, 110)}) == (4, 4)
    assert sink.compact("t", target_partitions=8, cluster_by=["k"]) is not None
    total, opened = sink.prune_files_report("t", {"k": (100, 110)})
    assert total == 8
    assert opened == 1
    got = {r["k"] for r in sink.scan("t", {"k": (100, 110)}).collect()}
    assert got == set(range(100, 111))
    # history intact across the clustered rewrite
    assert {r["k"] for r in sink.read_at("t", 0).collect()} == set(
        range(0, 400, 4)
    )


def test_cluster_by_rejected_on_partitioned_table(spark, tmp_path):
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        partitioning={"t": ["p"]},
        backend="manifest",
    )
    for i in range(2):
        sink.insert_if_absent(
            "t",
            spark.createDataFrame([(i, i % 2)], "k long, p long"),
        )
    with pytest.raises(ValueError, match="cluster_by"):
        sink.compact("t", cluster_by=["k"])


def test_file_pruning_within_unclustered_segments(spark, tmp_path):
    """Even without compaction, per-file stats prune within a
    multi-file segment when the writer's partitions happen to be
    banded (e.g. spark.range output)."""
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        backend="manifest",
        stats_cols={"t": ["k"]},
    )
    sink.insert_if_absent(
        "t",
        spark.range(0, 1000, 1, 10).selectExpr("id as k", "id * 2 as v"),
    )
    total, opened = sink.prune_files_report("t", {"k": (250, 260)})
    assert total == 10 and opened == 1
    got = {r["k"] for r in sink.scan("t", {"k": (250, 260)}).collect()}
    assert got == set(range(250, 261))


def test_zone_map_timestamp_pruning(spark, tmp_path):
    """Event-time zone maps — the dominant 100 TB range pattern: each
    batch covers a disjoint hour, a datetime-bounded scan opens only
    the intersecting segment, and scan ≡ read().filter()."""
    import datetime as dt

    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        backend="manifest",
        stats_cols={"t": ["ts"]},
    )
    base = dt.datetime(2019, 3, 1, 0, 0, 0)
    for h in range(4):
        rows = [
            (h * 100 + m, base + dt.timedelta(hours=h, minutes=m))
            for m in range(60)
        ]
        sink.insert_if_absent(
            "t", spark.createDataFrame(rows, "k long, ts timestamp")
        )
    lo = base + dt.timedelta(hours=2, minutes=10)
    hi = base + dt.timedelta(hours=2, minutes=20)
    assert sink.prune_report("t", {"ts": (lo, hi)}) == (4, 1)
    got = {r["k"] for r in sink.scan("t", {"ts": (lo, hi)}).collect()}
    assert got == {200 + m for m in range(10, 21)}
    want = {
        r["k"]
        for r in sink.read("t")
        .filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
        .collect()
    }
    assert got == want
    # sub-second boundary: microsecond-precision bounds stay exact
    lo2 = base + dt.timedelta(hours=3, minutes=59, microseconds=1)
    assert sink.prune_report("t", {"ts": (lo2, None)}) == (4, 0) or (
        sink.scan("t", {"ts": (lo2, None)}) is None
        or sink.scan("t", {"ts": (lo2, None)}).count() == 0
    )


@pytest.fixture(scope="module")
def day_edge_sink(spark, tmp_path_factory):
    """Four segments around midnight of 2024-01-05, zone-mapped on a
    timestamp column ``ts`` and a date column ``d``."""
    sink = make_sink(
        spark,
        str(tmp_path_factory.mktemp("day_edge")),
        keys={"t": ["k"]},
        backend="manifest",
        stats_cols={"t": ["ts", "d"]},
    )
    segments = [
        [dt.datetime(2024, 1, 4, 22), dt.datetime(2024, 1, 4, 23, 30)],
        [dt.datetime(2024, 1, 5)],  # the midnight row
        [dt.datetime(2024, 1, 5, 9), dt.datetime(2024, 1, 5, 9, 30)],
        [dt.datetime(2024, 1, 6, 12)],
    ]
    k = 0
    for stamps in segments:
        rows = []
        for ts in stamps:
            rows.append((k, ts, ts.date()))
            k += 1
        sink.insert_if_absent(
            "t", spark.createDataFrame(rows, "k long, ts timestamp, d date")
        )
    return sink


_BOUND_FORMS = {
    "datetime": lambda t: t,
    "date": lambda t: t.date(),
    "space": lambda t: t.strftime("%Y-%m-%d %H:%M:%S"),
    "iso_t": lambda t: t.strftime("%Y-%m-%dT%H:%M:%S"),
}

_DAY = dt.datetime(2024, 1, 5)
_H = dt.timedelta(hours=1)

# (case, column, lo, hi, segments a scan keeps)
_DAY_EDGE_CASES = [
    ("ts_upto_midnight", "ts", None, _DAY, 2),  # ON the midnight row
    ("ts_from_midnight", "ts", _DAY, None, 3),
    ("ts_upto_10h", "ts", None, _DAY + 10 * _H, 3),
    ("ts_from_9h15", "ts", _DAY + 9.25 * _H, None, 2),
    ("ts_day_start", "ts", _DAY, _DAY + 9.5 * _H, 2),
    # a date column casts a string bound to its date, but compares
    # with a datetime bound as midnight: 10:00 starts the next day
    ("d_from_10h", "d", _DAY + 10 * _H, None,
     {"datetime": 1, "space": 3, "iso_t": 3}),
    ("d_upto_23h", "d", None, _DAY - _H, 1),
]


def _day_edge_params():
    for case, col, lo, hi, kept in _DAY_EDGE_CASES:
        for form, fmt in _BOUND_FORMS.items():
            bounds = [b for b in (lo, hi) if b is not None]
            if form == "date" and any(b.time() != dt.time() for b in bounds):
                continue  # a date bound only names a midnight
            yield pytest.param(
                col,
                None if lo is None else fmt(lo),
                None if hi is None else fmt(hi),
                kept[form] if isinstance(kept, dict) else kept,
                id=f"{case}-{form}",
            )


@pytest.mark.parametrize("col, lo, hi, kept", list(_day_edge_params()))
def test_zone_map_scan_equals_filter_for_every_time_bound_form(
    day_edge_sink, col, lo, hi, kept
):
    """scan(name, r) ≡ read(name).filter(r) whatever form a time
    bound takes — a ``date`` or a string bound is compared by time,
    not as text against the stats' ISO strings — and pruning still
    skips the segments outside the range."""
    sink = day_edge_sink
    want_df = sink.read("t")
    if lo is not None:
        want_df = want_df.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        want_df = want_df.filter(F.col(col) <= F.lit(hi))
    want = sorted(r["k"] for r in want_df.collect())
    assert want, "every case selects at least one row"
    got_df = sink.scan("t", {col: (lo, hi)})
    got = [] if got_df is None else sorted(r["k"] for r in got_df.collect())
    assert got == want
    assert sink.prune_report("t", {col: (lo, hi)}) == (4, kept)


def test_zorder_compaction_bounds_both_columns(spark, tmp_path):
    """Multi-column ZORDER: after clustering on (x, y), a range probe
    on EITHER column alone opens a strict subset of files — 1-D range
    clustering on x leaves y fully unclustered (every file spans all
    of y), which is exactly what the Morton layout fixes."""
    rows = [
        (x * 64 + y, x, y) for x in range(64) for y in range(64)
    ]
    import random

    random.Random(7).shuffle(rows)
    third = len(rows) // 3

    def build(root, method):
        sink = make_sink(
            spark,
            str(root),
            keys={"t": ["rid"]},
            backend="manifest",
            stats_cols={"t": ["x", "y"]},
        )
        for i in range(0, len(rows), third):
            sink.insert_if_absent(
                "t",
                spark.createDataFrame(
                    rows[i : i + third], "rid long, x long, y long"
                ),
            )
        assert (
            sink.compact(
                "t", target_partitions=16, cluster_by=["x", "y"],
                cluster_method=method,
            )
            is not None
        )
        return sink

    zsink = build(tmp_path / "z", "zorder")
    rsink = build(tmp_path / "r", "range")
    probe = {"y": (10, 17)}  # the UNprioritized column
    _, r_opened = rsink.prune_files_report("t", probe)
    z_total, z_opened = zsink.prune_files_report("t", probe)
    assert z_total == 16
    assert z_opened < z_total, "zorder must bound y too"
    assert z_opened < r_opened or r_opened == 16, (
        f"zorder {z_opened} vs range {r_opened}"
    )
    # correctness identical on both layouts, both probe shapes
    for sink in (zsink, rsink):
        got = {
            r["rid"]
            for r in sink.scan(
                "t", {"x": (8, 15), "y": (10, 17)}
            ).collect()
        }
        want = {
            x * 64 + y for x in range(8, 16) for y in range(10, 18)
        }
        assert got == want


def test_zorder_rejects_non_numeric_column(spark, tmp_path):
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        backend="manifest",
    )
    for i in range(2):
        sink.insert_if_absent(
            "t",
            spark.createDataFrame([(i, f"s{i}")], "k long, v string"),
        )
    with pytest.raises(ValueError, match="must be numeric"):
        sink.compact("t", cluster_by=["v"], cluster_method="zorder")
    with pytest.raises(ValueError, match="unknown cluster_method"):
        sink.compact("t", cluster_by=["k"], cluster_method="hilbert")
