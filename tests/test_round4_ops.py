"""Round-4 operators: exact counting quantiles and unigram coverage —
edge semantics plus plan-shape guards."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
    events,
    text_profile,
)


def _brute_quantile(vals_cents: list[int], p: int) -> int:
    s = sorted(vals_cents)
    r = max((p * len(s) + 99) // 100, 1)
    return s[r - 1]


def test_value_quantiles_match_brute_force(spark):
    rows = []
    vals = {"a": [1.00, 2.00, 2.00, 3.50, 9.99], "b": [5.25]}
    eid = 0
    for et, vs in vals.items():
        for v in vs:
            rows.append((eid, et, float(v)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {
        (r.event_type, r.pct): (r.n_rows, r.value_cents, r.value)
        for r in events.value_quantiles(df).collect()
    }
    for et, vs in vals.items():
        cents = [round(v * 100) for v in vs]
        for p in events.QUANTILE_PCTS:
            want = _brute_quantile(cents, p)
            n, vc, val = got[(et, p)]
            assert n == len(vs)
            assert vc == want, (et, p)
            assert val == want / 100.0


def test_value_quantiles_single_row_and_duplicates(spark):
    # n=1: every percentile is the single value; all-equal: likewise
    df = spark.createDataFrame(
        [(0, "x", 7.77)] + [(i, "y", 4.00) for i in range(1, 6)],
        "event_id long, event_type string, value double",
    )
    out = events.value_quantiles(df).collect()
    for r in out:
        assert r.value_cents == (777 if r.event_type == "x" else 400)


def test_value_quantiles_window_is_key_partitioned(spark):
    """The cumulative-rank window must partition by the key — a global
    (unpartitioned) window would serialize the distinct-value pass."""
    df = spark.createDataFrame(
        [(0, "x", 1.0)], "event_id long, event_type string, value double"
    )
    plan = events.value_quantiles(df)._jdf.queryExecution().toString()
    assert "windowspecdefinition(event_type" in plan


def test_unigram_coverage_blank_and_oov_docs(spark):
    df = spark.createDataFrame(
        [
            (0, "the the the"),  # fully in-vocab (tiny corpus: all top-100)
            (1, ""),  # token-less -> coverage 0
            (2, "   "),  # whitespace-only -> coverage 0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text_profile.unigram_coverage(df).collect()}
    assert got[0].n_tokens == 3 and got[0].n_invocab == 3
    assert got[0].coverage == 1.0
    for d in (1, 2):
        assert got[d].n_tokens == 0
        assert got[d].n_invocab == 0
        assert got[d].coverage == 0.0


def test_unigram_coverage_vocab_cap_breaks_ties_on_term(spark):
    # 3 terms, equal counts, vocab_size=2 -> lexicographically first two
    df = spark.createDataFrame(
        [(0, "aa bb"), (1, "cc aa bb cc")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r
        for r in text_profile.unigram_coverage(df, vocab_size=2).collect()
    }
    # counts: aa=2 bb=2 cc=2 -> vocab = {aa, bb}
    assert got[0].n_invocab == 2
    assert got[1].n_invocab == 2 and got[1].n_tokens == 4
    assert got[1].coverage == 0.5


def test_unigram_coverage_vocab_join_is_broadcast(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (
        text_profile.unigram_coverage(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_ngram_decontaminate_flags_only_noneval_overlap(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),  # eval member
            (1, "the quick brown fox jumps over the lazy dog"),  # exact leak
            (2, "completely different text with no shared grams here"),
            (3, "tiny"),  # shorter than n -> zero grams
        ],
        "doc_id long, text string",
    )
    eval_docs = corpus.filter("doc_id = 0")
    got = {
        r.doc_id: r
        for r in dedup.ngram_decontaminate(
            corpus, eval_docs, n=8, min_overlap=5
        ).collect()
    }
    assert got[0].is_eval and not got[0].contaminated  # eval never flagged
    assert got[1].contaminated and got[1].n_overlap == got[1].n_grams
    assert not got[2].contaminated and got[2].n_overlap == 0
    assert got[3].n_grams == 0 and not got[3].contaminated


def test_ngram_decontaminate_corpus_side_is_shuffle_free(spark):
    """The corpus must never be exchanged: eval grams ride a broadcast
    variable into one Arrow map pass, so the executed plan contains no
    Exchange and no join at all."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )

    corpus = spark.createDataFrame(
        [(0, "abcdefghij klmnop"), (1, "zyxwvutsrq ponml")],
        "doc_id long, text string",
    )
    plan = (
        dedup.ngram_decontaminate(corpus, corpus.filter("doc_id = 0"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ngram_decontaminate_string_ids(spark):
    """id_col passes through with ITS schema type — string doc ids
    must work, not crash in the Arrow pass (round-4 advice)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )

    corpus = spark.createDataFrame(
        [
            ("ev-1", "the quick brown fox jumps over the lazy dog"),
            ("dup-1", "the quick brown fox jumps over the lazy dog"),
            ("ok-1", "completely different text with no shared grams here"),
        ],
        "doc_id string, text string",
    )
    out = dedup.ngram_decontaminate(
        corpus, corpus.filter("doc_id = 'ev-1'"), n=8, min_overlap=5
    )
    assert dict(out.dtypes)["doc_id"] == "string"
    got = {r.doc_id: r for r in out.collect()}
    assert got["ev-1"].is_eval and not got["ev-1"].contaminated
    assert got["dup-1"].contaminated
    assert not got["ok-1"].contaminated


def test_broadcast_eval_grams_size_guard(spark):
    """An eval relation above the broadcast bound raises an actionable
    error instead of collecting itself onto the driver."""
    import pytest

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )

    eval_docs = spark.createDataFrame(
        [(0, "abcdefghijklmnopqrstuvwxyz")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="broadcast bound"):
        dedup.broadcast_eval_grams(eval_docs, n=8, max_grams=5)
    # at the default bound the same relation is fine
    n, bc_grams, bc_ids = dedup.broadcast_eval_grams(eval_docs, n=8)
    assert n == 8 and len(bc_grams.value) == 19 and bc_ids.value == {0}


def test_value_quantiles_ignore_null_values(spark):
    df = spark.createDataFrame(
        [(0, "x", 1.0), (1, "x", None), (2, "x", 3.0)],
        "event_id long, event_type string, value double",
    )
    out = {r.pct: r for r in events.value_quantiles(df).collect()}
    assert out[50].n_rows == 2  # the NULL row is not ranked or counted
    assert out[50].value_cents == 100
    assert out[99].value_cents == 300


def test_value_quantiles_property_vs_brute_force(spark):
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b"]),
                st.integers(min_value=-10_000, max_value=10_000),
            ),
            min_size=1,
            max_size=60,
        )
    )
    def check(rows):
        df = spark.createDataFrame(
            [(i, k, c / 100.0) for i, (k, c) in enumerate(rows)],
            "event_id long, event_type string, value double",
        )
        got = {
            (r.event_type, r.pct): r.value_cents
            for r in events.value_quantiles(df).collect()
        }
        by_key: dict = {}
        for k, c in rows:
            by_key.setdefault(k, []).append(c)
        for k, vals in by_key.items():
            for p in events.QUANTILE_PCTS:
                assert got[(k, p)] == _brute_quantile(vals, p), (k, p, vals)

    check()


def test_streaming_decontaminate_equals_batch(spark, sf_dir, tmp_path):
    """ngram_decontaminate is a stateless Arrow map over the corpus
    (the eval set rides a broadcast variable), so the same operator
    serves streaming corpus ingestion unchanged."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
        partitioning,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    docs = table(spark, sf_dir, "documents").limit(200)
    eval_docs = partitioning.hash_sample(docs, "doc_id", 0.05, salt="eval")
    stream_dir = str(tmp_path / "docs")
    docs.coalesce(2).write.parquet(stream_dir)

    batch_rows = sorted(
        tuple(r) for r in dedup.ngram_decontaminate(docs, eval_docs).collect()
    )
    stream_docs = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    scored = dedup.ngram_decontaminate(stream_docs, eval_docs)
    q = (
        scored.writeStream.option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .format("memory")
        .queryName("decontam_stream")
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(
        tuple(r) for r in spark.table("decontam_stream").collect()
    )
    assert stream_rows == batch_rows
    assert len(stream_rows) == 200


def test_prefix_sums_match_naive_cumsum(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        partitioning,
    )

    rows = [(i, (i * 37) % 11, (i * 13) % 7 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k long, v long")
    out = {
        r.id: r.cum
        for r in partitioning.prefix_sums(
            df, [F.col("k").asc(), F.col("id").asc()], "v", num_partitions=7
        ).collect()
    }
    run = 0
    for i, k, v in sorted(rows, key=lambda r: (r[1], r[0])):
        run += v
        assert out[i] == run, i


def test_prefix_sums_plan_has_no_global_window(spark):
    import contextlib
    import io

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        partitioning,
    )

    df = spark.createDataFrame([(1, 2)], "id long, v long")
    out = partitioning.prefix_sums(df, ["id"], "v")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    for line in buf.getvalue().splitlines():
        # every full-data window must be keyed by the range-partition
        # id; only the metadata-scale offset window is global
        if "windowspecdefinition" in line and "_pid" not in line:
            assert "_tot" in line, f"global window over data rows: {line}"


def test_token_budget_select_is_a_quality_prefix(spark, sf_dir):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        partitioning,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
        table,
    )

    docs = table(spark, sf_dir, "documents")
    budget = 1_500
    rows = partitioning.token_budget_select(docs, budget).collect()
    order = sorted(rows, key=lambda r: (-r.quality_score, r.doc_id))
    run = 0
    flipped = False
    for r in order:
        run += r.n_tokens
        assert r.cum_tokens == run
        assert r.selected == (run <= budget)
        if not r.selected:
            flipped = True
        else:
            assert not flipped, "selection must be a prefix of the order"
    assert any(r.selected for r in rows)
    assert any(not r.selected for r in rows)


def test_jaccard_gemm_handles_sparse_snowflake_ids(spark):
    """Block domain must come from OCCUPIED blocks, not the id span:
    epoch-scale ids (~1.7e12) would otherwise generate ~1e9 phantom
    blocks and an intractable block-pair join."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )

    base = 1_700_000_000_000_000
    docs = spark.createDataFrame(
        [
            (base + 1, "abcdefghijklmnopqrstuvwxyz0123456789"),
            (base + 999_999_999, "abcdefghijklmnopqrstuvwxyz0123456789"),
            (7, "completely different text without overlap at all!"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.jaccard_similar_pairs(
        docs, threshold=0.5, strategy="block_gemm"
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [
        (base + 1, base + 999_999_999)
    ]


def test_token_budget_select_custom_id_col(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        partitioning,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again today"),
         (2, "short")],
        "my_id long, text string",
    )
    rows = partitioning.token_budget_select(df, 5, id_col="my_id").collect()
    assert {r.my_id for r in rows} == {1, 2}


def test_warehouse_totals_guard(spark, tmp_path):
    import pytest

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
        warehouse_for,
    )

    wh = warehouse_for(spark, str(tmp_path / "empty_wh"))
    with pytest.raises(RuntimeError, match="sales_fact"):
        wh.totals()


def test_quantile_state_retention(spark, tmp_path):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
        quantiles as sq,
    )

    state = str(tmp_path / "ret_state")
    for b in range(5):
        df = spark.createDataFrame(
            [(b, "x", float(b))], "event_id long, event_type string, value double"
        )
        sq.apply_counts_batch(spark, state, df, b)
    # only the newest two versions survive; quantiles still correct
    assert sq._version_dirs(state) == [3, 4]
    rows = {r.pct: r for r in sq.quantiles_so_far(spark, state).collect()}
    assert rows[99].n_rows == 5 and rows[99].value_cents == 400


def test_mix_plan_apportionment_and_caps(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        partitioning,
    )

    # src "a": 2 docs only (will cap), "b" and "c": plenty
    rows = (
        [(i, "a") for i in range(2)]
        + [(10 + i, "b") for i in range(20)]
        + [(50 + i, "c") for i in range(20)]
        + [(90 + i, "unweighted") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = partitioning.mix_plan(
        docs, 10, {"a": 5, "b": 3, "c": 2}
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, []).append(r)
    # W=10: exact quotas a=5 b=3 c=2, no remainders; a caps at 2 avail
    assert len(per["a"]) == 2 and per["a"][0].source_alloc == 2
    assert len(per["b"]) == 3
    assert len(per["c"]) == 2
    assert "unweighted" not in per  # absent from weights -> excluded
    # draw is deterministic
    again = partitioning.mix_plan(docs, 10, {"a": 5, "b": 3, "c": 2}).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in out)


def test_mix_plan_largest_remainder_extras(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        partitioning,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], "doc_id long, source string"
    )
    # budget 7, weights 1/2/3 (W=6): bases 1/2/3 (sum 6), one extra to
    # the largest remainder: rems are 1, 2, 3 -> s2 gets it
    out = partitioning.mix_plan(docs, 7, {"s0": 1, "s1": 2, "s2": 3})
    per = {
        r.source: r.source_alloc
        for r in out.select("source", "source_alloc").distinct().collect()
    }
    assert per == {"s0": 1, "s1": 2, "s2": 4}
    assert out.count() == 7
