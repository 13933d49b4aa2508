"""Crash-atomic takedown cascade: the intent log
(streaming.corpus.takedown_with_intent / heal_takedowns /
outstanding_takedowns). The plain cascade is a loop of independent
per-table deletes — a crash between the corpus delete and the ANN
delete used to leave the doc serving as an ANN neighbor with nothing
recording the gap. Pinned here:

- the intent commits BEFORE any delete, the done marker after the
  whole cascade;
- an injected crash mid-cascade (corpus swept, ANN not) is visible in
  outstanding_takedowns and fully healed by heal_takedowns — proven
  by SERVING the ANN index, not just reading it;
- heal and the request itself are idempotent (replayed request with
  the same key set short-circuits on the done marker).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.similarity import (
    kmeans_centroids,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    MergeSink,
    make_sink,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
    ann_index as ai,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
    corpus as sc,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.ann_index import (
    INDEX_TABLE,
    index_warehouse,
    ivf_assignments,
    ivf_index_topk,
)

N_VECS = 40
VICTIM = 7


def _corpus(spark, root):
    wh = make_sink(
        spark,
        str(root),
        keys={sc.CURATED_TABLE: ["text_fp"]},
        backend="manifest",
    )
    docs = spark.createDataFrame(
        [(i, f"fp{i}", f"doc {i}") for i in range(10)],
        "doc_id long, text_fp string, text string",
    )
    wh.insert_if_absent(sc.CURATED_TABLE, docs)
    return wh


def _index(spark, sf_dir, root):
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < N_VECS)
        .localCheckpoint(eager=True)
    )
    cents = kmeans_centroids(emb, k=2, iters=1).localCheckpoint(
        eager=True
    )
    wh = index_warehouse(spark, str(root), auto_compact_segments=None)
    assigned = ivf_assignments(emb, centroids=cents).select(
        "vec_id", "q", "norm_sq", "cell"
    )
    wh.insert_if_absent(INDEX_TABLE, assigned)
    return emb, cents


def _neighbors(spark, index_root, emb, cents):
    # query with the victim's own embedding under a foreign id: the
    # victim is its own nearest neighbor while it is still indexed
    q = emb.filter(F.col("vec_id") == VICTIM).select(
        F.lit(-1).cast("long").alias("query_id"), "embedding"
    )
    got = ivf_index_topk(
        spark, str(index_root), q, cents, k=3, n_probe=2
    )
    return {r.neighbor_id for r in got.collect()}


def test_crash_between_corpus_and_ann_heals(
    spark, sf_dir, tmp_path, monkeypatch
):
    wh = _corpus(spark, tmp_path / "corpus")
    emb, cents = _index(spark, sf_dir, tmp_path / "index")
    assert VICTIM in _neighbors(spark, tmp_path / "index", emb, cents)
    ids = spark.createDataFrame([(VICTIM,)], "doc_id long")

    def boom(*a, **kw):
        raise RuntimeError("injected crash before the ANN delete")

    monkeypatch.setattr(ai, "takedown_vectors", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sc.takedown_with_intent(
            wh,
            ids,
            mode="tombstone",
            ann_index_root=str(tmp_path / "index"),
        )
    monkeypatch.undo()
    # the corpus side was swept, the ANN side was NOT — and the gap
    # is RECORDED, not silent
    assert VICTIM not in {
        r.doc_id for r in wh.read(sc.CURATED_TABLE).collect()
    }
    assert VICTIM in _neighbors(spark, tmp_path / "index", emb, cents)
    out = sc.outstanding_takedowns(wh).collect()
    assert len(out) == 1 and out[0].n_keys == 1
    # heal: the cascade re-runs from the recorded keys (corpus delete
    # replays as a no-op), the ANN serve no longer returns the victim
    healed = sc.heal_takedowns(wh)
    assert len(healed) == 1
    assert VICTIM not in _neighbors(spark, tmp_path / "index", emb, cents)
    assert sc.outstanding_takedowns(wh).isEmpty()
    # heal again: nothing outstanding, nothing to do
    assert sc.heal_takedowns(wh) == {}
    # the original request replays: done marker short-circuits
    res = sc.takedown_with_intent(
        wh,
        ids,
        mode="tombstone",
        ann_index_root=str(tmp_path / "index"),
    )
    assert res["replayed"] is True


def test_completed_takedown_records_done_and_replays(spark, tmp_path):
    wh = _corpus(spark, tmp_path / "corpus")
    ids = spark.createDataFrame([(3,), (4,)], "doc_id long")
    res = sc.takedown_with_intent(wh, ids)
    assert res["replayed"] is False
    assert res[sc.CURATED_TABLE] is not None
    assert {r.doc_id for r in wh.read(sc.CURATED_TABLE).collect()} == {
        0, 1, 2, 5, 6, 7, 8, 9,
    }
    assert sc.outstanding_takedowns(wh).isEmpty()
    # same key set -> same deterministic id -> replay no-op
    res2 = sc.takedown_with_intent(wh, ids)
    assert res2["replayed"] is True
    assert res2["takedown_id"] == res["takedown_id"]
    # a different key set is a different intent
    res3 = sc.takedown_with_intent(
        wh, spark.createDataFrame([(5,)], "doc_id long")
    )
    assert res3["replayed"] is False
    assert res3["takedown_id"] != res["takedown_id"]


def test_intent_requires_manifest_backend(spark, tmp_path):
    # any non-manifest sink (delta where installed) is refused; the
    # base class stands in for one everywhere
    wh = MergeSink(
        spark, str(tmp_path), keys={sc.CURATED_TABLE: ["text_fp"]}
    )
    with pytest.raises(ValueError, match="manifest"):
        sc.takedown_with_intent(
            wh, spark.createDataFrame([(1,)], "doc_id long")
        )


def test_intent_cascade_races_ingest(spark, tmp_path):
    """A takedown cascade racing a concurrent ingest writer on the
    same curated table: both publish through the manifest sink's OCC
    loop, so the delete never loses admitted rows and the ingest
    never resurrects deleted keys. (Per-table OCC is proven
    exhaustively in test_sinks; this pins the intent path end to
    end.)"""
    import threading

    wh = _corpus(spark, tmp_path / "corpus")
    ids = spark.createDataFrame(
        [(i,) for i in range(0, 10, 2)], "doc_id long"
    )

    def ingest():
        for b in range(3):
            docs = spark.createDataFrame(
                [(100 + b * 10 + i, f"nfp{b}_{i}", "new")
                 for i in range(5)],
                "doc_id long, text_fp string, text string",
            )
            wh.insert_if_absent(sc.CURATED_TABLE, docs)

    t = threading.Thread(target=ingest)
    t.start()
    res = sc.takedown_with_intent(wh, ids, mode="tombstone")
    t.join()
    assert res["replayed"] is False
    got = {r.doc_id for r in wh.read(sc.CURATED_TABLE).collect()}
    # every even original id gone, every odd one and every newly
    # ingested id present
    assert got == {1, 3, 5, 7, 9} | {
        100 + b * 10 + i for b in range(3) for i in range(5)
    }
    assert sc.outstanding_takedowns(wh).isEmpty()
