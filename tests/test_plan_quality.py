"""Physical-plan guards: the plans we designed for are the plans
Catalyst actually produces (broadcasts for star joins, column-pruned
scans, partition-pruned warehouse reads). These assertions are the
scale contract — a regression here is a 100 TB performance bug even
when results stay correct."""

from __future__ import annotations

import contextlib
import io

import pytest

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
    WAREHOUSE_PARTITIONING,
    ManifestWarehouse,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.queries import (
    q00_pricing_summary,
    q01_weekend_top_products,
    q06_market_basket,
)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def n_hash_exchanges(plan: str) -> int:
    """Formatted explain prints an Exchange's partitioning on its
    Arguments line (never contiguous with the node name), so count
    the hashpartitioning specs themselves. Broadcast exchanges and
    SinglePartition folds do not match — only corpus-moving hash
    shuffles do."""
    return plan.count("hashpartitioning(")


def test_star_join_broadcasts(spark, sf_dir):
    plan = plan_of(q01_weekend_top_products(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # dimension joins must not degrade to shuffle joins
    assert "SortMergeJoin" not in plan


def test_scan_is_column_pruned(spark, sf_dir):
    plan = plan_of(q00_pricing_summary(spark, sf_dir))
    # lineitem has 16 columns; the pricing summary needs 7 — the scan
    # schema must not include unused wide columns
    assert "l_comment" not in plan
    assert "l_shipdate" not in plan
    assert "ReadSchema" in plan


def test_market_basket_self_join_is_keyed(spark, sf_dir):
    plan = plan_of(q06_market_basket(spark, sf_dir))
    # the theta predicate must ride the order_id equi-join, never a
    # cartesian/nested-loop product of the fact with itself
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_temporal_joins_avoid_cross_products(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.pipeline_queries import (
        events_asof_prior_click,
        events_range_join_sessions,
    )

    for q in (events_asof_prior_click, events_range_join_sessions):
        plan = plan_of(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_warehouse_fact_partition_pruning(spark, tmp_path):
    from .test_etl import CUSTOMERS_CSV, PRODUCTS_CSV, TRANSACTIONS_CSV
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.csv_inputs import (
        read_customers_master,
        read_products_master,
        read_transactions,
    )

    d = tmp_path / "wh"
    (tmp_path / "products.csv").write_text(PRODUCTS_CSV)
    (tmp_path / "customers.csv").write_text(CUSTOMERS_CSV)
    (tmp_path / "tx.csv").write_text(TRANSACTIONS_CSV)
    # the (year, month) hive layout (DeltaWarehouse's, and an option of
    # the manifest warehouse)
    wh = ManifestWarehouse(
        spark, str(d), partitioning=dict(WAREHOUSE_PARTITIONING)
    )
    wh.load_batch(
        read_transactions(spark, str(tmp_path / "tx.csv")),
        read_products_master(spark, str(tmp_path / "products.csv")),
        read_customers_master(spark, str(tmp_path / "customers.csv")),
    )
    fact = wh.read("sales_fact")
    assert "year" in fact.columns and "month" in fact.columns

    plan = plan_of(fact.filter("year = 2019 AND month = 3"))
    # the filter must prune hive partitions, not scan-and-filter
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "year" in pf_line and "month" in pf_line


def test_ivf_assignment_is_shuffle_free(spark, sf_dir):
    """Cell assignment must stay a single projection over one corpus
    scan (centroids attached as a broadcast array row) — no window,
    no n_centroids-times row inflation, no exchange besides the
    broadcast itself (regression: crossJoin + per-id row_number)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        similarity,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    emb = table(spark, sf_dir, "embeddings")
    plan = plan_of(similarity.ivf_assignments(emb))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    # allowed exchanges: broadcast builds and the SinglePartition fold
    # of the n_centroids-row set into one array row (metadata-scale).
    # A hash-partitioned exchange would mean corpus rows moved.
    assert n_hash_exchanges(plan) == 0, "unexpected corpus shuffle"


def test_bucketed_basket_self_join_is_exchange_free(spark, sf_dir, tmp_path):
    """bucketBy(order_id) pays the basket self-join's shuffle once at
    write time: the catalog-table plan must zip co-located buckets —
    bucketed scans, no exchange under the join; the only remaining
    hash exchange is the post-join pair aggregation."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans import (
        catalog,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.queries import (
        q06_market_basket,
    )

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bkt_test LOCATION '{tmp_path}/bkt'"
    )
    try:
        catalog.publish_star_schema(spark, sf_dir, database="bkt_test")
        catalog.publish_bucketed_baskets(spark, sf_dir, database="bkt_test")
        got = catalog.market_basket_from_bucketed(spark, "bkt_test")
        plan = plan_of(got)
        assert "Bucketed: true" in plan
        assert n_hash_exchanges(plan) <= 1  # agg only
        # identical answers to the path-based q06
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in q06_market_basket(spark, sf_dir).collect()
        ]
    finally:
        spark.sql("DROP DATABASE IF EXISTS bkt_test CASCADE")


def test_extension_queries_plan_shapes(spark, sf_dir):
    """q14-q16 must keep their semi/anti/broadcast shapes: EXISTS as a
    LeftSemi join (never a row-multiplying inner), NOT EXISTS as a
    LeftAnti, and the per-brand ranking window fed by a pre-aggregated
    relation with the part dimension broadcast."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.queries import (
        q14_returned_orders_exists,
        q15_customers_without_orders,
        q16_top_parts_per_brand,
    )

    p14 = plan_of(q14_returned_orders_exists(spark, sf_dir))
    assert "LeftSemi" in p14 and "CartesianProduct" not in p14

    p15 = plan_of(q15_customers_without_orders(spark, sf_dir))
    assert "LeftAnti" in p15 and "CartesianProduct" not in p15

    p16 = plan_of(q16_top_parts_per_brand(spark, sf_dir))
    assert "BroadcastHashJoin" in p16 and "CartesianProduct" not in p16
    # ranking window runs over the aggregated per-part rows, so a
    # partial_sum must appear before the Window in the plan text
    assert "Window" in p16


def test_q14_returnflag_filter_is_pushed(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.queries import (
        q14_returned_orders_exists,
    )

    plan = plan_of(q14_returned_orders_exists(spark, sf_dir))
    assert "EqualTo(l_returnflag,R)" in plan


def test_minhash_signature_pass_is_shuffle_free(spark, sf_dir):
    """The Arrow signature kernel must stay a per-split map: no
    hashpartitioning exchange of corpus rows (the only allowed
    exchange is the optional round-robin widening of narrow local
    inputs), no Window, no join."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    docs = table(spark, sf_dir, "documents")
    for df in (
        dedup.minhash_signatures(docs, 5, 16),
        dedup.shingle_hash_sets(docs),
    ):
        plan = plan_of(df)
        assert "Window" not in plan
        assert "Join" not in plan
        assert n_hash_exchanges(plan) == 0
        assert "Generate" not in plan  # no shingle explode survives
        assert "mapInPandas" in plan or "MapInPandas" in plan


def test_repetition_stats_is_shuffle_free(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        text_profile,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    plan = plan_of(text_profile.repetition_stats(table(spark, sf_dir, "documents")))
    assert "Window" not in plan
    assert "Join" not in plan
    assert n_hash_exchanges(plan) == 0
    assert "Generate" not in plan


def test_verified_ladder_band_join_runs_wide(spark, sf_dir):
    """The band self-join and the pair-verify stage must keep the
    explicit shuffle-width repartition (AQE's byte-based coalescing
    would otherwise run the compute-heavy stages on 1-2 partitions —
    the round-5 regression this pins)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    docs = table(spark, sf_dir, "documents")
    plan = plan_of(dedup.minhash_verified_pairs(docs))
    assert "REPARTITION_BY_NUM" in plan


def test_kmeans_assignment_is_shuffle_free_and_update_bounded(spark, sf_dir):
    """Per iteration: assignment must stay a broadcast-attach
    projection (no window, no corpus-width exchange beyond the
    k×dim-bounded update aggregates)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        similarity,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    emb = table(spark, sf_dir, "embeddings")
    plan = plan_of(similarity.kmeans_cells(emb, k=8, iters=2))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    # final assignment reads the checkpointed k-row centroid relation;
    # the only hash exchanges left in the live plan are that round's
    # (cell, pos) update aggregates, never a corpus repartition
    assert n_hash_exchanges(plan) <= 2


def test_funnel_shares_one_user_exchange(spark, sf_dir):
    """All chained step windows partition by user, so the whole funnel
    must reuse ONE hashpartitioning exchange (plus the metadata-scale
    final aggregate) — a second corpus exchange means the windows
    stopped sharing their sort."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.pipeline_queries import (
        events_funnel,
    )

    plan = plan_of(events_funnel(spark, sf_dir))
    # formatted mode prints each Exchange's partitioning under
    # "Arguments: hashpartitioning(...)"
    assert n_hash_exchanges(plan) == 1
    assert "SortMergeJoin" not in plan


def test_pii_scan_is_one_scan_no_exchange(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        pii,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(pii.pii_scan(docs))
    assert "Exchange" not in plan


def test_classifier_is_one_mapside_aggregate(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        classify,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(classify.hashed_linear_score(docs))
    # partial HashAggregate before the single exchange = map-side
    # combine (formatted mode puts the partitioning on the Arguments
    # line, so count the partitioning spec itself)
    assert plan.count("hashpartitioning(doc_id") == 1
    assert "partial_count" in plan and "partial_sum" in plan


def test_compression_stats_is_shuffle_free(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        text_profile,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(text_profile.compression_stats(docs))
    assert n_hash_exchanges(plan) == 0


def test_interdoc_dup_shuffles_only_on_gram_hash_and_doc(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        text_profile,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(text_profile.interdoc_dup_stats(docs))
    # df-count groupBy(_g), join back on _g, groupBy(doc), final left
    # join: bounded exchange count, and never a cartesian product
    assert "CartesianProduct" not in plan
    assert n_hash_exchanges(plan) <= 5


def test_quantile_prune_has_no_global_window(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        classify,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scores = classify.hashed_linear_score(docs)
    plan = plan_of(classify.quantile_prune(scores))
    # the cumulative-rank scan must be the distributed prefix_sums
    # pattern: every window spec is either partitioned by _pid (local
    # cumsums) or ordered by _pid (the <=num_partitions offsets fold)
    # — a single-task Window.orderBy(score) would appear as a window
    # spec without _pid, which is a one-task sort of a relation whose
    # cardinality tracks corpus size
    lines = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln
    ]
    assert lines, "expected window specs in the prefix-sum scan"
    for ln in lines:
        assert "_pid" in ln, f"global window found: {ln}"


def test_span_removal_bounded_shuffles_no_per_window_md5(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(dedup.remove_duplicate_spans(docs))
    # gram-stats groupBy(gh), cut-coverage anti-join, doc reassembly:
    # bounded exchange count, never a cartesian product
    assert "CartesianProduct" not in plan
    assert n_hash_exchanges(plan) <= 4
    # gram ids come from the Arrow rolling-hash fold over per-token
    # md5 ids — the plan must NOT contain a per-window
    # md5(concat_ws(slice(...))) expression (O(tokens×span) bytes
    # hashed); per-token md5 appears inside one transform only
    assert "concat_ws" not in plan.lower() or "slice" not in plan.lower()


def test_dsir_select_has_no_global_window(spark, sf_dir):
    """The SPS draw ranks via the distributed global_row_numbers scan:
    windows may only partition by _pid (parallel), never run
    unpartitioned over the candidate relation."""
    import re

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        classify,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    plan = plan_of(
        classify.dsir_select(table(spark, sf_dir, "documents"), 100)
    )
    # every window spec in the plan must be keyed by the partition id
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "_pid" in spec, f"unpartitioned window in plan: {spec}"


def test_bpe_segmentation_pass_is_shuffle_free(spark, sf_dir):
    """segment_words is one Arrow pass over the distinct-word
    relation: beyond the distinct itself, no joins, no windows, no
    extra exchanges."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        bpe,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("word")
    ).distinct()
    plan = plan_of(bpe.segment_words(words, ["a\x01b"]))
    assert "Window" not in plan
    assert "Join" not in plan
    # the distinct is the only hash exchange
    assert n_hash_exchanges(plan) == 1


def test_hashed_embedding_components_is_one_bounded_exchange(spark, sf_dir):
    """The feature-hash sketch pass: one explode + one map-side
    combinable (doc, bucket) aggregate — a single hash shuffle whose
    relation is ≤ docs × dim rows, no windows, no joins, no Python."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.text_profile import (
        hashed_embedding_components,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    plan = plan_of(hashed_embedding_components(table(spark, sf_dir, "documents")))
    assert n_hash_exchanges(plan) == 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_graph_final_window_is_per_source_never_global(spark, sf_dir):
    """The kNN merge ranks per-tile winners PARTITIONED BY SOURCE
    VECTOR — a global (unpartitioned) sort over all candidates would
    be the 100 TB scale-killer; tile fan-out must stay a broadcast of
    the metadata-scale block grid, never a cartesian of the vectors."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.similarity import (
        knn_graph,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    plan = plan_of(knn_graph(table(spark, sf_dir, "embeddings"), k=3))
    assert "windowspecdefinition(vec_id" in plan
    # rank<=k is pushed as a group-limit, so each partition prunes to
    # its local top-k BEFORE the window's exchange
    assert "WindowGroupLimit" in plan
    # tile GEMM runs as one Arrow cogroup, and the only nested-loop
    # products are the blocks x blocks grid (metadata-scale distinct
    # block ids, broadcast onto the vectors): 2 nodes, each printed
    # twice by formatted explain (tree + details) — never a
    # CartesianProduct of the vector relation itself
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4


def test_knn_graph_ivf_probe_assign_is_broadcast_no_cartesian(spark, sf_dir):
    """The IVF graph's probe/member assignments ride the broadcast
    centroid attach (zero-shuffle), tiles are the per-cell block grid,
    and the merge window is per source vector — no CartesianProduct
    of the vector relation, no global sort."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.similarity import (
        knn_graph_ivf,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    plan = plan_of(
        knn_graph_ivf(table(spark, sf_dir, "embeddings"), k=3, n_centroids=4)
    )
    assert "windowspecdefinition(vec_id" in plan
    assert "WindowGroupLimit" in plan
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_pruned_lm_model_join_is_broadcast(spark, sf_dir):
    """A min_count-pruned LM model is bounded by the grams that
    repeat; when it fits the broadcast budget the score join must be
    a BroadcastHashJoin, not a shuffle of the per-doc gram relation —
    the pruned path costing MORE than the unpruned one inverts the
    floor's whole point (round-8 verdict)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans.pipeline_queries import (
        text_lm_pruned,
    )

    plan = plan_of(text_lm_pruned(spark, sf_dir))
    # both model joins — (ctx, w) score and ctx context — broadcast;
    # formatted explain prints each node twice (tree + details)
    assert plan.count("BroadcastHashJoin") == 4
    # the only shuffle join left is the final docs ⟕ per_doc attach,
    # whose BOTH sides are corpus-sized (legitimate)
    assert plan.count("SortMergeJoin") == 2


def test_line_dedup_plan_shape(spark, sf_dir):
    """line_dedup: no cartesian product anywhere; the segment explode
    is a Generate (narrow map) and the boilerplate anti-join is keyed
    on the fingerprint (never a broadcast nested loop over segments)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.dedup import (
        line_dedup,
    )

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.dedup import (
        segment_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(
        line_dedup(docs, segmenter="words", words_per_segment=8)
    )
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # keyed anti-join against boilerplate
    # the exploded segment relation enters as the CHECKPOINTED scan
    # (materialized once for its three consumers), not three re-runs
    # of the explode
    assert "Scan ExistingRDD" in plan
    assert "Generate" not in plan
    # the explode itself is a narrow map (Generate, no exchange below)
    seg_plan = plan_of(segment_documents(docs, segmenter="words"))
    assert "Generate" in seg_plan
    assert n_hash_exchanges(seg_plan) == 0


def test_video_framehash_pairs_plan_keyed(spark, sf_dir):
    """The inverted frame-index self-join must be an equi-join on
    frame_hash (hash or sort-merge), never a cross product; size
    attaches stay broadcastable at this SF."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        multimodal,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.documents_as_media(docs)
    plan = plan_of(multimodal.video_framehash_pairs(media))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_adaptive_quality_single_group_shuffle(spark, sf_dir):
    """adaptive_quality_keep is ONE window pass: exactly one
    corpus-moving hash shuffle (the group key); no join, no second
    exchange."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.text_profile import (
        adaptive_quality_keep,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.col("n_chars").alias("score")
    )
    plan = plan_of(adaptive_quality_keep(docs, "score"))
    assert n_hash_exchanges(plan) == 1
    assert "Join" not in plan


def test_gopher_gates_is_one_scan_no_shuffle(spark, sf_dir):
    """gopher_gates is a pure projection: zero exchanges, zero joins
    — the shape that runs at 100 TB as a narrow map."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.text_profile import (
        gopher_gates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(gopher_gates(docs))
    assert n_hash_exchanges(plan) == 0
    assert "Join" not in plan
    # formatted explain prints each node once in the tree and once in
    # the detail section: 2 occurrences == exactly ONE scan
    assert plan.count("Scan parquet") == 2
