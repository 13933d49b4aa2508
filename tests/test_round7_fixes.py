"""Regression tests for the round-7 self-review findings (each fails
on the pre-fix code)."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
    dedup,
)


def test_span_removal_survives_null_text(spark):
    # pre-fix: the Arrow fold called len(None) and poisoned the whole
    # job (and, via admit_span_batch, permanently crashed the stream)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    out = dedup.remove_duplicate_spans(docs)
    assert out.count() == 3  # every doc passes through, uncut


def test_dataset_builder_keeps_unscorable_docs(spark, tmp_path):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.corpus_pipeline import (
        CorpusPipeline,
        DatasetBuilder,
    )

    # long fluent docs + one 1-token doc (no bigram to score)
    rows = [
        (i, f"the cat sat on the mat in row {i}", "en", "s0")
        for i in range(30)
    ]
    rows.append((99, "solo", "en", "s0"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    eval_docs = docs.filter("doc_id = 0").select("doc_id", "text")
    b = DatasetBuilder(CorpusPipeline(spark, str(tmp_path / "c")))
    snap = b.build(
        docs, eval_docs, budget_docs=31, n_shards=2, quality_min=1,
        min_overlap=10**6, fluency_keep_pct=90,
    )
    got = {r["doc_id"] for r in b.read(snap).collect()}
    assert 99 in got  # unscorable, kept — pre-fix it silently vanished
    # pct=100 is an explicit no-op, not a ValueError
    b2 = DatasetBuilder(CorpusPipeline(spark, str(tmp_path / "d")))
    b2.build(
        docs, eval_docs, budget_docs=31, n_shards=2, quality_min=1,
        min_overlap=10**6, fluency_keep_pct=100,
    )
