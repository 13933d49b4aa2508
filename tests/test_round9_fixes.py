"""Round-9 fixes: facade scale defaults (dedup ladder / cluster IVF),
DSIR-target content fingerprint in the epoch config guard, and the
token_budget_select partial-token_counts guard (r8 ADVICE)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.corpus_pipeline import (
    CorpusPipeline,
    DatasetBuilder,
)


def _clone_docs(spark, n_fams=3, fam_size=3):
    rows, did = [], 0
    for fam in range(n_fams):
        words = " ".join(
            hashlib.md5(f"fam{fam}|{j}".encode()).hexdigest()[:8]
            for j in range(15)
        )
        for _ in range(fam_size):
            rows.append((did, words, "en", "s", 0))
            did += 1
    rows.append((did, " ".join(f"lone{j}" for j in range(15)), "en", "s", 0))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_facade_dedup_defaults_to_ladder(spark):
    """The docstring's '100 TB default' and the actual default must
    agree: cp.dedup(docs) == cp.dedup(docs, method='ladder')."""
    docs = _clone_docs(spark)
    cp = CorpusPipeline(spark, "/tmp/unused_corpus_root")
    default = {r["doc_id"] for r in cp.dedup(docs).collect()}
    ladder = {r["doc_id"] for r in cp.dedup(docs, method="ladder").collect()}
    assert default == ladder
    # identical-text families always collapse to their min id
    assert default == {0, 3, 6, 9}


def test_facade_cluster_defaults_to_ivf_and_exposes_dials(spark):
    """cluster() must reach the cell-bounded IVF graph builder by
    default (the scale path) and still collapse exact-duplicate
    families; graph='exact' stays available for audit runs."""
    docs = _clone_docs(spark)
    cp = CorpusPipeline(spark, "/tmp/unused_corpus_root")
    # default (ivf): identical sketches share a cell, so families
    # remain mutual neighbors under any probing
    got = {r["doc_id"]: r["cluster"] for r in cp.cluster(docs, k=2).collect()}
    assert len(got) == 10
    for fam in range(3):
        ids = [3 * fam, 3 * fam + 1, 3 * fam + 2]
        assert {got[i] for i in ids} == {ids[0]}
    # probing every cell reproduces the exact graph's clustering
    all_probe = {
        r["doc_id"]: r["cluster"]
        for r in cp.cluster(
            docs, k=2, graph="ivf", n_centroids=2, n_probe=2
        ).collect()
    }
    exact = {
        r["doc_id"]: r["cluster"]
        for r in cp.cluster(docs, k=2, graph="exact").collect()
    }
    assert all_probe == exact
    with pytest.raises(ValueError, match="unknown graph builder"):
        cp.cluster(docs, k=2, graph="nope")


def test_dsir_target_content_is_config_guarded(spark, tmp_path, sf_dir):
    """Rebuilding an epoch with a DIFFERENT dsir_target corpus must
    raise (not silently merge two selections); the SAME target —
    even re-read / re-partitioned — must replay as a no-op."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_docs = docs.filter("doc_id % 50 = 0").select("doc_id", "text")
    target_a = docs.filter("doc_id % 7 = 3").select("doc_id", "text")
    target_b = docs.filter("doc_id % 7 = 4").select("doc_id", "text")

    b = DatasetBuilder(CorpusPipeline(spark, str(tmp_path / "d")))
    kw = dict(budget_docs=30, n_shards=4, epoch=1, quality_min=1,
              min_overlap=10**6)
    s1 = b.build(docs, eval_docs, dsir_target=target_a, **kw)
    n1 = b.read(s1).count()
    # same target content, different physical plan/partitioning: OK
    s2 = b.build(
        docs, eval_docs, dsir_target=target_a.repartition(7), **kw
    )
    assert b.read(s2).count() == n1  # replay no-op
    # different target content at the same epoch: refused
    with pytest.raises(ValueError, match="different config"):
        b.build(docs, eval_docs, dsir_target=target_b, **kw)


def test_kmeans_seeding_is_content_spread_not_prefix(spark):
    """Seeds are the k smallest md5(id||'|seed'), not ids < k: on an
    ingest-SORTED corpus (ids 0-19 source A, 20-39 source B) the old
    prefix seeding put every centroid in source A; md5 ordering picks
    a deterministic spread across both. Also: an id space starting
    above k (the old silent-empty-seed hole) now seeds normally."""
    import hashlib

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        similarity,
    )

    rows = [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    cents = similarity.kmeans_centroids(emb, k=4, iters=0)
    got = sorted(r["centroid_id"] for r in cents.collect())
    want = sorted(
        sorted(
            range(40),
            key=lambda i: (hashlib.md5(f"{i}|seed".encode()).hexdigest(), i),
        )[:4]
    )
    assert got == want == [14, 21, 24, 31]
    # both "sources" (id halves) contribute seeds
    assert {i < 20 for i in got} == {True, False}
    # sparse id space (all ids >= k): seeds exist, training runs
    sparse = spark.createDataFrame(
        [(i + 1000, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    assert similarity.kmeans_cells(sparse, k=3, iters=1).count() == 10
    # empty corpus still fails loudly
    import pytest

    with pytest.raises(ValueError, match="empty vector relation"):
        similarity.kmeans_cells(emb.filter("vec_id < 0"), k=2, iters=1)


def test_streaming_facades_thread_auto_compaction(spark, tmp_path):
    """auto_compact_segments threads from the streaming ETL facade to
    the manifest warehouse: results identical to the unbounded run,
    live segment dirs bounded, snapshots/replays intact."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
        warehouse_for,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.pipeline import (
        stream_etl,
    )

    tx = tmp_path / "tx"
    tx.mkdir()
    for b in range(5):
        (tx / f"b{b}.csv").write_text(
            "order_id,order_date_raw,product_id,quantity_ordered_raw,customer_id,time_id\n"
            + "".join(
                f"O{b}_{i},2019-01-0{b + 1} 10:00:00,P1,2,C1,T{b}_{i}\n"
                for i in range(3)
            )
        )
    products = spark.createDataFrame(
        [("P1", "widget", 5.0, "S1", "sup", "ST1", "store")],
        "product_id string, product_name string, price double, "
        "supplier_id string, supplier_name string, store_id string, "
        "store_name string",
    )
    customers = spark.createDataFrame(
        [("C1", "alice", "F")],
        "customer_id string, customer_name string, gender string",
    )
    wh_root = str(tmp_path / "wh")
    q = stream_etl(
        spark, str(tx), wh_root, str(tmp_path / "ckpt"),
        products, customers, backend="manifest",
        auto_compact_segments=2,
    )
    q.awaitTermination()
    wh = warehouse_for(spark, wh_root, "manifest")
    fact = wh.read("sales_fact")
    assert fact.count() == 15
    live, _, _ = wh._segments("sales_fact")
    assert len(live) <= 3  # bound 2 + at most one fresh segment
    # non-manifest backends refuse the policy
    with pytest.raises(ValueError, match="manifest"):
        warehouse_for(spark, wh_root, "delta", auto_compact_segments=2)
