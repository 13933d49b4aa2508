"""Key-targeted delete (takedown / right-to-be-forgotten) across the
sink backends, plus its cascade through the corpus admission surfaces
and the persisted ANN indexes, plus how an inline auto-compaction
failure surfaces.

Semantics pinned here (see ManifestParquetSink.delete_keys):
- matched rows vanish from EVERY read, including every historical
  snapshot (redaction-from-all-history, the declared time-travel
  trade) while snapshot ids all stay valid;
- a replayed/duplicate delete matches nothing and commits nothing;
- a deleted key is FORGOTTEN: later insert_if_absent re-admits it;
- the cascade removes a doc's claim/index rows with it, so a removed
  doc neither serves as a dedup owner nor vetoes future admissions.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    ManifestParquetSink,
    delta_available,
    make_sink,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
    corpus as sc,
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

def _sink(spark, root, backend, **kw):
    return make_sink(spark, str(root), keys={"t": ["k"]}, backend=backend, **kw)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_delete_keys_removes_and_replays_noop(spark, tmp_path, backend):
    sink = _sink(spark, tmp_path, backend)
    sink.insert_if_absent("t", _rows(spark, [(1, "a"), (2, "b"), (3, "c")]))
    got = sink.delete_keys("t", _keys(spark, [2, 99]))
    assert got not in (None, False)  # something was deleted
    assert {r.k for r in sink.read("t").collect()} == {1, 3}
    # duplicate delete: matches nothing, commits nothing, table stable
    again = sink.delete_keys("t", _keys(spark, [2]))
    assert again in (None, False)
    assert {r.k for r in sink.read("t").collect()} == {1, 3}
    # the key is forgotten: re-insert re-admits (takedown semantics)
    sink.insert_if_absent("t", _rows(spark, [(2, "B2")]))
    assert {(r.k, r.v) for r in sink.read("t").collect()} == {
        (1, "a"),
        (3, "c"),
        (2, "B2"),
    }


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_delete_by_non_key_column(spark, tmp_path, backend):
    # a claim table keyed on (band, owner) deletes by owner alone
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k", "owner"]}, backend=backend
    )
    b = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], "k long, owner long"
    )
    sink.insert_if_absent("t", b)
    sink.delete_keys(
        "t", spark.createDataFrame([(10,)], "owner long"), on=["owner"]
    )
    assert {r.k for r in sink.read("t").collect()} == {3}


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_delete_missing_column_raises(spark, tmp_path, backend):
    sink = _sink(spark, tmp_path, backend)
    sink.insert_if_absent("t", _rows(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="match columns"):
        sink.delete_keys("t", spark.createDataFrame([(1,)], "z long"))


@pytest.mark.parametrize("backend", ["manifest"])
def test_delete_on_missing_table_is_noop(spark, tmp_path, backend):
    sink = _sink(spark, tmp_path, backend)
    assert sink.delete_keys("t", _keys(spark, [1])) in (None, False)


@pytest.mark.parametrize("backend", BACKEND_PARAMS)
def test_delete_null_key_matches_null_row(spark, tmp_path, backend):
    sink = _sink(spark, tmp_path, backend)
    sink.insert_if_absent("t", _rows(spark, [(None, "n"), (1, "a")]))
    sink.delete_keys("t", spark.createDataFrame([(None,)], "k long"))
    assert {r.k for r in sink.read("t").collect()} == {1}


def test_manifest_delete_redacts_all_snapshots(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _rows(spark, [(1, "a"), (2, "b")]))
    sink.insert_if_absent("t", _rows(spark, [(3, "c")]))
    snaps_before = sink.snapshots("t")
    new_snap = sink.delete_keys("t", _keys(spark, [2]))
    assert new_snap == max(snaps_before) + 1
    # every historical snapshot id stays valid but no longer shows the
    # redacted key — redaction-from-all-history, declared
    assert set(sink.snapshots("t")) == set(snaps_before) | {new_snap}
    for s in sink.snapshots("t"):
        got = sink.read_at("t", s)
        ks = set() if got is None else {r.k for r in got.collect()}
        assert 2 not in ks, f"snapshot {s} still serves the deleted key"
    # provenance diff over the full range excludes it too
    added = sink.added_between("t", None, new_snap)
    assert 2 not in {r.k for r in added.collect()}
    # survivors keep their original first-admission snapshots
    at0 = {r.k for r in sink.read_at("t", snaps_before[0]).collect()}
    assert at0 == {1}


def test_manifest_delete_partitioned_table(spark, tmp_path):
    sink = make_sink(
        spark,
        str(tmp_path),
        keys={"t": ["k"]},
        partitioning={"t": ["p"]},
        backend="manifest",
    )
    b = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 20, "c")],
        "k long, p int, v string",
    )
    sink.insert_if_absent("t", b)
    sink.delete_keys("t", _keys(spark, [1]))
    got = {(r.k, r.p) for r in sink.read("t").collect()}
    assert got == {(2, 10), (3, 20)}
    # partition pruning still works after the rewrite
    plan = (
        sink.read("t")
        .filter(F.col("p") == 20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_manifest_delete_after_compaction(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    for i in range(4):
        sink.insert_if_absent("t", _rows(spark, [(i, f"v{i}")]))
    sink.compact("t")
    sink.delete_keys("t", _keys(spark, [1, 3]))
    assert {r.k for r in sink.read("t").collect()} == {0, 2}
    for s in sink.snapshots("t"):
        got = sink.read_at("t", s)
        ks = set() if got is None else {r.k for r in got.collect()}
        assert ks.isdisjoint({1, 3})


def test_manifest_delete_racing_ingest(spark, tmp_path):
    """A delete racing concurrent inserts serializes through OCC: no
    corruption, deleted pre-existing keys gone, disjoint concurrent
    inserts intact."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent(
        "t", _rows(spark, [(k, f"v{k}") for k in range(50)])
    )
    errs: list[Exception] = []

    def ingest():
        try:
            for lo in (100, 110, 120):
                sink.insert_if_absent(
                    "t",
                    _rows(spark, [(k, f"n{k}") for k in range(lo, lo + 10)]),
                )
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    t = threading.Thread(target=ingest)
    t.start()
    sink.delete_keys("t", _keys(spark, list(range(25))))
    t.join()
    assert not errs
    got = {r.k for r in sink.read("t").collect()}
    assert got == set(range(25, 50)) | set(range(100, 130))
    # table remains internally consistent: one row per key
    assert sink.read("t").count() == len(got)


# -- cascade -----------------------------------------------------------


def test_takedown_cascades_and_unvetoes_neardup(spark, tmp_path):
    from tests.test_streaming_corpus import _distinct_text, _neardup_text

    wh = make_sink(
        spark,
        str(tmp_path / "wh"),
        keys={
            sc.CURATED_TABLE: ["text_fp"],
            sc.BAND_INDEX_TABLE: ["band_khash", "owner_doc_id"],
        },
        backend="manifest",
    )
    schema = (
        "doc_id long, text_fp string, quality_score int, text string,"
        " lang string, source string"
    )
    b1 = spark.createDataFrame(
        [
            (1, "fp1", 100, _neardup_text("alpha"), "en", "s"),
            (3, "fp3", 100, _distinct_text("cedar"), "en", "s"),
        ],
        schema,
    )
    assert {r.doc_id for r in sc.admit_neardup_batch(wh, b1).collect()} == {
        1,
        3,
    }
    # a near-dup of doc 1 is vetoed through the band index
    b2 = spark.createDataFrame(
        [(9, "fp9", 100, _neardup_text("almond"), "en", "s")], schema
    )
    assert sc.admit_neardup_batch(wh, b2).count() == 0
    # takedown doc 1: curated row AND its band claims go
    res = sc.takedown(wh, spark.createDataFrame([(1,)], "doc_id long"))
    assert sc.CURATED_TABLE in res and sc.BAND_INDEX_TABLE in res
    assert {
        r.doc_id for r in wh.read(sc.CURATED_TABLE).collect()
    } == {3}
    assert (
        wh.read(sc.BAND_INDEX_TABLE)
        .filter(F.col("owner_doc_id") == 1)
        .count()
        == 0
    )
    # the same near-dup content is now re-admittable (no stale veto)
    assert {r.doc_id for r in sc.admit_neardup_batch(wh, b2).collect()} == {
        9
    }
    # replayed takedown: no-op, nothing committed
    res2 = sc.takedown(wh, spark.createDataFrame([(1,)], "doc_id long"))
    assert all(v is None for v in res2.values())


def test_corpus_pipeline_takedown_facade(spark, tmp_path):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.corpus_pipeline import (
        CorpusPipeline,
    )

    cp = CorpusPipeline(spark, str(tmp_path / "c"), backend="manifest")
    docs = spark.createDataFrame(
        [
            (1, "fpA", 100, "one text", "en", "s"),
            (2, "fpB", 100, "two text", "en", "s"),
        ],
        "doc_id long, text_fp string, quality_score int, text string,"
        " lang string, source string",
    )
    cp.ingest(docs)
    res = cp.takedown(spark.createDataFrame([(2,)], "doc_id long"))
    assert sc.CURATED_TABLE in res
    assert {r.doc_id for r in cp.table().collect()} == {1}


def test_ann_index_takedown_removes_served_neighbor(spark, tmp_path):
    import random

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.similarity import (
        kmeans_centroids,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
        ann_index as ai,
    )

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], 0) for i in range(40)
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    cents = kmeans_centroids(emb, k=4).localCheckpoint(eager=True)
    src = str(tmp_path / "emb")
    emb.write.parquet(src)
    root = str(tmp_path / "idx")
    q = ai.stream_index_embeddings(
        spark, src, root, str(tmp_path / "ckpt"), cents
    )
    q.awaitTermination()
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = ai.ivf_index_topk(spark, root, queries, cents, k=5, n_probe=4)
    victims = {r.neighbor_id for r in before.collect()}
    victim = sorted(victims)[0]
    res = ai.takedown_vectors(
        spark, root, spark.createDataFrame([(victim,)], "vec_id long")
    )
    assert ai.INDEX_TABLE in res and res[ai.INDEX_TABLE] is not None
    after = ai.ivf_index_topk(spark, root, queries, cents, k=5, n_probe=4)
    assert victim not in {r.neighbor_id for r in after.collect()}
    # and it no longer vetoes admission: a bit-identical vector under a
    # new id is admitted by the embedding near-dup gate
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.similarity import (
        ivf_assignments,
    )

    wh = ai.index_warehouse(spark, root)
    clone = emb.filter(F.col("vec_id") == victim).select(
        F.lit(999).cast("long").alias("vec_id"), "embedding", "label"
    )
    assigned = ivf_assignments(
        clone, vec_col="embedding", id_col="vec_id", centroids=cents
    ).select("vec_id", "q", "norm_sq", "cell")
    admitted = ai.admit_embedding_batch(wh, assigned, threshold=0.999)
    assert {r.vec_id for r in admitted.collect()} == {999}


# -- inline auto-compaction failure ------------------------------------


def test_inline_auto_compaction_failure_propagates_and_retries(
    spark, tmp_path, monkeypatch
):
    """A failing auto-compaction raises to the insert that triggered
    it, after that batch committed (no row lost), and the next insert
    re-evaluates the policy and compacts."""
    sink = _sink(spark, tmp_path, "manifest", auto_compact_segments=1)
    sink.insert_if_absent("t", _rows(spark, [(0, "x")]))
    real = ManifestParquetSink.compact

    def boom(self, name, **kw):
        raise OSError("disk full (injected)")

    monkeypatch.setattr(ManifestParquetSink, "compact", boom)
    with pytest.raises(OSError, match="disk full"):
        sink.insert_if_absent("t", _rows(spark, [(1, "x")]))
    assert {r.k for r in sink.read("t").collect()} == {0, 1}
    assert all(c is None for _, _, c in sink._segments("t")[0])
    monkeypatch.setattr(ManifestParquetSink, "compact", real)
    sink.insert_if_absent("t", _rows(spark, [(2, "x")]))
    live = sink._segments("t")[0]
    assert len(live) == 1 and list(live[0][2]) == [0, 1, 2]
    assert {r.k for r in sink.read("t").collect()} == {0, 1, 2}


# -- tombstone (deletion-vector) mode ------------------------------------


def test_tombstone_delete_hides_without_rewrite(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _rows(spark, [(1, "a"), (2, "b"), (3, "c")]))
    sink.insert_if_absent("t", _rows(spark, [(4, "d")]))
    data_before = {n for n, _, _ in sink._segments("t")[0]}
    snap = sink.delete_keys("t", _keys(spark, [2, 4]), mode="tombstone")
    assert snap is not None
    assert {r.k for r in sink.read("t").collect()} == {1, 3}
    # NO data segment was rewritten or covered — O(keys) commit
    assert {n for n, _, _ in sink._segments("t")[0]} == data_before
    tombs = sink._split_live("t")[1]
    assert len(tombs) == 1 and tombs[0][2] == ["k"]
    # replayed delete: keys no longer visible, nothing committed
    assert sink.delete_keys("t", _keys(spark, [2]), mode="tombstone") is None
    # re-insert after delete RE-ADMITS (new row outranks the tombstone)
    sink.insert_if_absent("t", _rows(spark, [(2, "B2")]))
    assert {(r.k, r.v) for r in sink.read("t").collect()} == {
        (1, "a"), (3, "c"), (2, "B2"),
    }
    # scan ≡ read (tombstones applied on the scan path too)
    got = {r.k for r in sink.scan("t", {"k": (None, None)}).collect()}
    assert got == {1, 2, 3}


def test_tombstone_time_travel_is_horizon_visible(spark, tmp_path):
    """Tombstone mode's declared time-travel trade: reads BEFORE the
    delete still serve the row; reads at/after the delete hide it."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _rows(spark, [(1, "a"), (2, "b")]))  # s0
    sink.insert_if_absent("t", _rows(spark, [(3, "c")]))            # s1
    ts = sink.delete_keys("t", _keys(spark, [2]), mode="tombstone")  # s2
    assert {r.k for r in sink.read_at("t", 0).collect()} == {1, 2}
    assert {r.k for r in sink.read_at("t", 1).collect()} == {1, 2, 3}
    assert {r.k for r in sink.read_at("t", ts).collect()} == {1, 3}
    # re-insert of the deleted key at s3: visible at s3, not at s2
    sink.insert_if_absent("t", _rows(spark, [(2, "B2")]))
    assert {r.k for r in sink.read_at("t", ts).collect()} == {1, 3}
    assert {(r.k, r.v) for r in sink.read_at("t", ts + 1).collect()} == {
        (1, "a"), (3, "c"), (2, "B2"),
    }


def test_materializing_compaction_consumes_tombstones(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    for i in range(4):
        sink.insert_if_absent("t", _rows(spark, [(i, f"v{i}")]))
    sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")
    sink.delete_keys("t", _keys(spark, [3]), mode="tombstone")
    assert len(sink._split_live("t")[1]) == 2
    # bounded compaction must refuse to materialize
    with pytest.raises(ValueError, match="FULL compaction"):
        sink.compact("t", since=1, materialize_deletes=True)
    # non-materializing compaction leaves deletes exact and tombstones live
    sink.compact("t")
    assert {r.k for r in sink.read("t").collect()} == {0, 2}
    assert len(sink._split_live("t")[1]) == 2
    # pre-delete history still serves (horizon semantics survive compact)
    assert {r.k for r in sink.read_at("t", 3).collect()} == {0, 1, 2, 3}
    # materializing full compaction: tombstones consumed, fast path back
    snap = sink.compact("t", materialize_deletes=True)
    assert snap is not None
    assert sink._split_live("t")[1] == []
    assert {r.k for r in sink.read("t").collect()} == {0, 2}
    # history below the tombstones is now REDACTED (rewrite semantics)
    assert {r.k for r in sink.read_at("t", 3).collect()} == {0, 2}
    # snapshot ids all remain valid
    assert sink.snapshots("t") == list(range(snap + 1))


def test_tombstone_then_insert_then_materialize(spark, tmp_path):
    """A re-admitted key must survive materialization (the conditional
    anti-join only hides rows admitted BEFORE the tombstone)."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _rows(spark, [(1, "old"), (2, "b")]))
    sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")
    sink.insert_if_absent("t", _rows(spark, [(1, "new")]))
    sink.compact("t", materialize_deletes=True)
    assert {(r.k, r.v) for r in sink.read("t").collect()} == {
        (1, "new"), (2, "b"),
    }
    assert sink._split_live("t")[1] == []


def test_tombstone_delete_by_non_key_column(spark, tmp_path):
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k", "owner"]},
        backend="manifest",
    )
    b = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], "k long, owner long"
    )
    sink.insert_if_absent("t", b)
    sink.delete_keys(
        "t", spark.createDataFrame([(10,)], "owner long"),
        on=["owner"], mode="tombstone",
    )
    assert {r.k for r in sink.read("t").collect()} == {3}
    # insert anti-join sees the tombstoned keys as absent -> re-admit
    sink.insert_if_absent(
        "t", spark.createDataFrame([(1, 10)], "k long, owner long")
    )
    assert {(r.k, r.owner) for r in sink.read("t").collect()} == {
        (3, 20), (1, 10),
    }


def test_tombstone_partitioned_table(spark, tmp_path):
    sink = make_sink(
        spark, str(tmp_path), keys={"t": ["k"]},
        partitioning={"t": ["p"]}, backend="manifest",
    )
    b = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 20, "c")],
        "k long, p int, v string",
    )
    sink.insert_if_absent("t", b)
    sink.delete_keys("t", _keys(spark, [2]), mode="tombstone")
    assert {(r.k, r.p) for r in sink.read("t").collect()} == {
        (1, 10), (3, 20),
    }
    sink.compact("t", materialize_deletes=True)
    assert {(r.k, r.p) for r in sink.read("t").collect()} == {
        (1, 10), (3, 20),
    }


def test_tombstone_mode_takedown_cascade(spark, tmp_path):
    wh = make_sink(
        spark, str(tmp_path),
        keys={sc.CURATED_TABLE: ["text_fp"]},
        backend="manifest",
    )
    docs = spark.createDataFrame(
        [(1, "fpA", "one"), (2, "fpB", "two")],
        "doc_id long, text_fp string, text string",
    )
    wh.insert_if_absent(sc.CURATED_TABLE, docs)
    res = sc.takedown(
        wh, spark.createDataFrame([(2,)], "doc_id long"),
        mode="tombstone",
    )
    assert res[sc.CURATED_TABLE] is not None
    assert {r.doc_id for r in wh.read(sc.CURATED_TABLE).collect()} == {1}


def test_bad_delete_mode_raises(spark, tmp_path):
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _rows(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="unknown delete mode"):
        sink.delete_keys("t", _keys(spark, [1]), mode="logical")


def test_dataset_builder_takedown_redacts_all_epochs(spark, tmp_path):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.corpus_pipeline import (
        CorpusPipeline,
        DatasetBuilder,
    )

    def text(i: int) -> str:
        # distinct per doc (no near-dups to collapse), passes the
        # lang/quality gates (English stopwords present, 10+ tokens)
        return "the and of to a in is " + " ".join(
            f"w{i}x{j}" for j in range(25)
        )

    docs = spark.createDataFrame(
        [(i, text(i), "en", "s", 0) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    eval_docs = docs.filter(F.lit(False))
    cp = CorpusPipeline(spark, str(tmp_path / "c"))
    b = DatasetBuilder(cp)
    snap = b.build_epochs(
        docs, eval_docs, budget_docs=20, n_epochs=2, min_overlap=10**6
    )
    built = b.read(snap)
    n_before = built.count()
    victims = sorted({r.doc_id for r in built.select("doc_id").collect()})[:2]
    assert built.filter(F.col("doc_id").isin(victims)).count() == 4  # 2 epochs
    b.takedown(
        spark.createDataFrame([(v,) for v in victims], "doc_id long")
    )
    after = b.read(snap)
    assert after.filter(F.col("doc_id").isin(victims)).count() == 0
    # other docs' rows and epochs untouched
    assert after.count() == n_before - 4
    assert {r.epoch for r in after.select("epoch").distinct().collect()} == {
        0,
        1,
    }


def test_tombstone_read_plan_is_broadcast_anti_join(spark, tmp_path):
    """Plan guard: the tombstone tax on reads is ONE broadcast
    conditional anti-join (the tombstone side is O(deleted keys) and
    must never shuffle the data relation)."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _rows(spark, [(i, "x") for i in range(20)]))
    sink.insert_if_absent("t", _rows(spark, [(i, "y") for i in range(20, 40)]))
    sink.delete_keys("t", _keys(spark, [5, 25]), mode="tombstone")
    plan = (
        sink.read("t")._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # once materialized, the read plan carries no join at all
    sink.compact("t", materialize_deletes=True)
    plan = (
        sink.read("t")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan


def test_rewrite_delete_with_outstanding_tombstone_no_resurrection(
    spark, tmp_path
):
    """A rewrite-mode delete while a tombstone is outstanding must
    neither consume the tombstone nor resurrect its hidden keys: the
    covering segment preserves first-admission snapshots, so the
    tombstone keeps applying."""
    sink = _sink(spark, tmp_path, "manifest")
    sink.insert_if_absent("t", _rows(spark, [(1, "a"), (2, "b")]))
    sink.insert_if_absent("t", _rows(spark, [(3, "c"), (4, "d")]))
    sink.delete_keys("t", _keys(spark, [2]), mode="tombstone")
    sink.delete_keys("t", _keys(spark, [3]))  # rewrite mode
    assert {r.k for r in sink.read("t").collect()} == {1, 4}
    # the tombstone survived the rewrite and still has horizon
    # semantics: pre-delete snapshots serve key 2, key 3 is redacted
    assert len(sink._split_live("t")[1]) == 1
    assert {r.k for r in sink.read_at("t", 1).collect()} == {1, 2, 4}
    # and a materializing compaction still converges to the same view
    sink.compact("t", materialize_deletes=True)
    assert {r.k for r in sink.read("t").collect()} == {1, 4}
    assert sink._split_live("t")[1] == []
