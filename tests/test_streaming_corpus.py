"""Streaming corpus curation: the funnel's gates are stateless maps
and the cross-batch exact dedup lives in the keyed sink, so a chunked
replay must reproduce the batch curation exactly and re-runs must not
grow the table."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
    partitioning,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources.testdata import (
    table,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    read_table,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
    corpus as sc,
)


def test_stream_curation_equals_batch(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    eval_docs = partitioning.hash_sample(docs, "doc_id", 0.05, salt="eval")
    # leak threshold above the synthetic corpus's gram-collision
    # background (its tiny vocabulary makes every doc share 8-grams
    # with any eval sample) — with the default the whole funnel
    # degenerates to an EMPTY table and the test passes vacuously.
    min_overlap = 10**6

    src = str(tmp_path / "docs_chunks")
    docs.withColumn("_b", F.col("doc_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.parquet(src)
    root = str(tmp_path / "corpus_wh")
    q = sc.stream_curate(
        spark,
        src,
        root,
        str(tmp_path / "ckpt"),
        eval_docs,
        min_overlap=min_overlap,
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    curated = read_table(spark, root, sc.CURATED_TABLE)
    batch_kept = sc.curate_batch(docs, eval_docs, min_overlap=min_overlap)
    want_fps = {r.text_fp for r in batch_kept.select("text_fp").distinct().collect()}
    got_fps = {r.text_fp for r in curated.select("text_fp").collect()}
    assert want_fps  # the funnel keeps a real survivor set
    assert got_fps == want_fps
    # exactly one row per distinct surviving text
    assert curated.count() == len(want_fps)
    assert curated.count() < docs.count()  # the funnel actually cuts

    # re-run on the same checkpoint: no new batches, table unchanged
    n_before = curated.count()
    q2 = sc.stream_curate(
        spark,
        src,
        root,
        str(tmp_path / "ckpt"),
        eval_docs,
        min_overlap=min_overlap,
        max_files_per_trigger=1,
    )
    q2.awaitTermination()
    assert read_table(spark, root, sc.CURATED_TABLE).count() == n_before


def test_curate_batch_gates(spark):
    rows = [
        # passes every gate (needs >=10 tokens, low punct, stopwords)
        (1, "the quick brown fox jumps over the lazy dog and then it sat", "en", "a", 0),
        # duplicate text -> same fingerprint, deduped by the sink
        (2, "the quick brown fox jumps over the lazy dog and then it sat", "en", "a", 0),
        # wrong recorded language -> lang_ok False
        (3, "the quick brown fox jumps over the lazy dog and then it sat", "de", "a", 0),
        # too short -> quality < 100
        (4, "tiny text", "en", "a", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    eval_docs = docs.filter("doc_id = -1")  # empty eval set
    kept = sc.curate_batch(docs, eval_docs).collect()
    assert {r.doc_id for r in kept} == {1, 2}


BASE = "the quick brown fox jumps over the lazy dog and then it sat"
BASE_B = "a stitch in time saves nine and the early bird gets the worm"


def _neardup_text(tail: str, base: str = BASE) -> str:
    # long shared body + tiny difference -> high shingle Jaccard
    return f"{base} {base} {tail}"


def _distinct_text(seed: str) -> str:
    body = " ".join(f"{seed}{i}" for i in range(10))
    return f"the and of {body} with for that this"


def test_stream_neardup_admission(spark, tmp_path):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        dedup,
    )

    rows = []
    # clone group A: members in chunks 0, 1, 2 (cross-batch veto)
    for i, tail in enumerate(["alpha", "alpine", "almond"]):
        rows.append((10 + i, _neardup_text(tail), i % 3))
    # clone group B (independent body): both in the SAME chunk
    rows.append((20, _neardup_text("bravo", BASE_B), 1))
    rows.append((21, _neardup_text("brave", BASE_B), 1))
    # distinct docs, one per chunk
    for i, seed in enumerate(["cedar", "delta", "ember"]):
        rows.append((30 + i, _distinct_text(seed), i % 3))
    docs = spark.createDataFrame(
        [(d, t, "en", "s", c) for d, t, c in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # Ground truth from the batch ladder at the SAME config: admission
    # rejects only VERIFIED near-dups (band collision + jaccard >= t),
    # so the invariant is over verified pairs, not raw collisions.
    truth_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_verified_pairs(
            docs,
            sc.NEARDUP_SHINGLE_N,
            0.5,
            sc.NEARDUP_HASHES,
            sc.NEARDUP_BAND_SIZE,
        ).collect()
    }
    assert truth_pairs, "test corpus must contain planted near-dups"

    src = str(tmp_path / "docs_chunks")
    docs.join(
        spark.createDataFrame(
            [(d, c) for d, _, c in rows], "doc_id long, _b int"
        ),
        "doc_id",
    ).repartition(3, "_b").drop("_b").write.parquet(src)

    eval_docs = docs.filter("doc_id = -1")
    root = str(tmp_path / "corpus_wh")
    q = sc.stream_curate_neardup(
        spark, src, root, str(tmp_path / "ckpt"), eval_docs,
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    curated = read_table(spark, root, sc.CURATED_TABLE)
    admitted = {r.doc_id for r in curated.select("doc_id").collect()}
    all_ids = {d for d, _, _ in rows}
    rejected = all_ids - admitted
    # every distinct doc admitted; the gates pass everything here
    assert {30, 31, 32} <= admitted
    # invariant: no two admitted docs are verified near-dups
    for a, b in truth_pairs:
        assert not (a in admitted and b in admitted), (a, b)
    # rejection REQUIRES a verified near-dup (collision alone no
    # longer rejects)
    neardup = {d for p in truth_pairs for d in p}
    assert rejected <= neardup
    # at least one member of each planted clone family survived
    assert admitted & {10, 11, 12}
    assert admitted & {20, 21}

    # replay on the same checkpoint: no growth in either table
    n_cur = curated.count()
    n_idx = read_table(spark, root, sc.BAND_INDEX_TABLE).count()
    q2 = sc.stream_curate_neardup(
        spark, src, root, str(tmp_path / "ckpt"), eval_docs,
        max_files_per_trigger=1,
    )
    q2.awaitTermination()
    assert read_table(spark, root, sc.CURATED_TABLE).count() == n_cur
    assert (
        read_table(spark, root, sc.BAND_INDEX_TABLE).count() == n_idx
    )


def test_admit_neardup_batch_is_replay_idempotent(spark, tmp_path):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
        make_sink,
    )

    wh = make_sink(
        spark,
        str(tmp_path / "wh"),
        keys={
            sc.CURATED_TABLE: ["text_fp"],
            sc.BAND_INDEX_TABLE: ["band_khash", "owner_doc_id"],
        },
    )
    batch = spark.createDataFrame(
        [
            (1, "fp1", 100, _neardup_text("alpha"), "en", "s"),
            (2, "fp2", 100, _neardup_text("alpine"), "en", "s"),
            (3, "fp3", 100, _distinct_text("cedar"), "en", "s"),
        ],
        "doc_id long, text_fp string, quality_score int, text string,"
        " lang string, source string",
    )
    first = {r.doc_id for r in sc.admit_neardup_batch(wh, batch).collect()}
    assert first == {1, 3}  # clone pair collapses to min id
    n_cur = wh.read(sc.CURATED_TABLE).count()
    n_idx = wh.read(sc.BAND_INDEX_TABLE).count()
    # exact replay of the same batch: same admissions, no table growth
    again = {r.doc_id for r in sc.admit_neardup_batch(wh, batch).collect()}
    assert again == first
    assert wh.read(sc.CURATED_TABLE).count() == n_cur
    assert wh.read(sc.BAND_INDEX_TABLE).count() == n_idx
    # a later batch: near-dup of doc 1 vetoed by the index, novel doc admitted
    nxt = spark.createDataFrame(
        [
            (9, "fp9", 100, _neardup_text("almond"), "en", "s"),
            (8, "fp8", 100, _distinct_text("delta"), "en", "s"),
        ],
        "doc_id long, text_fp string, quality_score int, text string,"
        " lang string, source string",
    )
    assert {r.doc_id for r in sc.admit_neardup_batch(wh, nxt).collect()} == {8}


def test_curate_batch_repetition_gates(spark):
    base = "the quick brown fox jumps over the lazy dog and then it sat"
    rows = [
        (1, base, "en", "a", 0),
        # heavy repetition: one bigram dominates
        (2, "the cat " * 20 + "and for with this that it is on", "en", "a", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    ev = docs.filter("doc_id = -1")
    # ungated: both pass the standard gates
    assert {r.doc_id for r in sc.curate_batch(docs, ev).collect()} == {1, 2}
    # bigram-share gate cuts the repetitive doc only
    kept = sc.curate_batch(docs, ev, max_top_bigram_frac=0.3)
    assert {r.doc_id for r in kept.collect()} == {1}
    # dup-token gate likewise
    kept = sc.curate_batch(docs, ev, max_dup_token_frac=0.5)
    assert {r.doc_id for r in kept.collect()} == {1}


def test_curate_batch_pii_redaction_first(spark):
    base = "the quick brown fox jumps over the lazy dog and then it sat"
    rows = [(1, base + " mail me at a.b@example.org now", "en", "a", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    ev = docs.filter("doc_id = -1")
    kept = sc.curate_batch(docs, ev, redact_pii=True).collect()
    assert len(kept) == 1
    assert "<EMAIL>" in kept[0]["text"] and "@example.org" not in kept[0]["text"]
    # the fingerprint is of the REDACTED text (scrub-then-dedup order)
    import hashlib

    assert (
        kept[0]["text_fp"]
        == hashlib.md5(kept[0]["text"].encode()).hexdigest()
    )


def test_curate_batch_classifier_gate(spark):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        classify,
    )

    base = "the quick brown fox jumps over the lazy dog and then it sat"
    rows = [
        (1, base + " alpha beta", "en", "a", 0),
        (2, base + " gamma delta", "en", "a", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    ev = docs.filter("doc_id = -1")
    scores = {
        r["doc_id"]: r["score_sum"]
        for r in classify.hashed_linear_score(docs).collect()
    }
    assert scores[1] != scores[2]
    lo, hi = sorted(scores.items(), key=lambda kv: kv[1])
    # a cutoff between the two keeps only the higher-scoring doc
    cut = (lo[1] + hi[1]) // 2 + 1
    kept = sc.curate_batch(docs, ev, min_classifier_score=cut)
    assert {r.doc_id for r in kept.collect()} == {hi[0]}
    # permissive cutoff keeps both
    kept = sc.curate_batch(docs, ev, min_classifier_score=min(lo[1], hi[1]))
    assert {r.doc_id for r in kept.collect()} == {1, 2}


def test_admit_span_batch_cuts_cross_batch_and_replays_noop(spark, tmp_path):
    wh = sc.substr_warehouse(spark, str(tmp_path / "swh"))
    para = " ".join(f"w{i}" for i in range(20))  # 20-token shared span
    uniq1 = " ".join(f"a{i}" for i in range(10))
    uniq2 = " ".join(f"b{i}" for i in range(10))
    b1 = spark.createDataFrame(
        [(1, f"{uniq1} {para}"), (2, f"{para} {uniq2}")],
        "doc_id long, text string",
    )
    got1 = {r.doc_id: r for r in sc.admit_span_batch(wh, b1).collect()}
    # within-batch: canonical (doc 1's) occurrence survives, doc 2's cut
    assert got1[1].n_removed == 0
    assert got1[2].n_removed == 20
    assert got1[2].clean_text == uniq2
    n_cur = wh.read(sc.SUBSTR_CURATED_TABLE).count()
    n_idx = wh.read(sc.GRAM_INDEX_TABLE).count()
    # exact replay: identical cuts, no table growth
    again = {r.doc_id: r for r in sc.admit_span_batch(wh, b1).collect()}
    assert {k: (v.clean_text, v.n_removed) for k, v in again.items()} == {
        k: (v.clean_text, v.n_removed) for k, v in got1.items()
    }
    assert wh.read(sc.SUBSTR_CURATED_TABLE).count() == n_cur
    assert wh.read(sc.GRAM_INDEX_TABLE).count() == n_idx
    # later batch: the shared span is claimed by batch 1 -> cut whole,
    # even its (batch-locally canonical) first occurrence; novel doc
    # passes through untouched
    uniq3 = " ".join(f"c{i}" for i in range(16))
    b2 = spark.createDataFrame(
        [(9, f"{para} {uniq3}"), (8, " ".join(f"d{i}" for i in range(21)))],
        "doc_id long, text string",
    )
    got2 = {r.doc_id: r for r in sc.admit_span_batch(wh, b2).collect()}
    assert got2[9].n_removed == 20
    assert got2[9].clean_text == uniq3
    assert got2[8].n_removed == 0


def test_stream_curate_substr_equals_sequential_batches(spark, tmp_path):
    # the streaming pipeline over 3 file-chunks must equal running
    # admit_span_batch over the same batches by hand
    rows = []
    para = " ".join(f"s{i}" for i in range(18))
    for i in range(12):
        filler = " ".join(f"u{i}_{j}" for j in range(12))
        text = f"{filler} {para}" if i % 2 == 0 else filler
        rows.append((i, text, "en", "s", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = str(tmp_path / "docs_chunks")
    docs.withColumn("_b", F.col("doc_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.parquet(src)
    root = str(tmp_path / "sub_wh")
    q = sc.stream_curate_substr(
        spark, src, root, str(tmp_path / "ckpt_sub"), max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.clean_text, r.n_removed)
        for r in read_table(spark, root, sc.SUBSTR_CURATED_TABLE).collect()
    }
    assert len(got) == 12
    # every doc carrying the shared paragraph except ONE canonical
    # occurrence lost exactly 18 tokens
    removed = sorted(r[2] for r in got if r[2] > 0)
    assert removed == [18] * 5


def test_streaming_fluency_gate_equals_batch(spark, tmp_path):
    """The CCNet fluency gate, streamed: micro-batch admission against
    the static held-out LM must equal the batch cut; unscorable docs
    pass; replays stay no-ops."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.text_profile import (
        LM_SCALE,
        bigram_lm_counts,
        lm_surprisal_stats,
    )

    lm = spark.createDataFrame(
        [(0, "the cat sat on the mat " * 3)], "doc_id long, text string"
    )
    # distinct fluent texts (identical text would collapse under the
    # curated table's fingerprint key); one OOV continuation each
    rows = [
        (i, f"the cat sat on the mat r{i}", "en", "s0")
        for i in range(1, 7)
    ] + [
        (i, f"zzq{i} wwk{i} vvt{i} uup{i} qqa{i} ppb{i}", "en", "s0")
        for i in range(10, 16)
    ] + [(99, "solo", "en", "s0")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    src = str(tmp_path / "in")
    docs.withColumn("_b", F.col("doc_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.parquet(src)

    # LM vocab = {the, cat, sat, on, mat} -> all-OOV docs score the
    # Laplace floor V*S = 5S exactly; mostly-in-model docs sit near
    # ~1.3S. One below the floor cuts gibberish, passes fluent.
    cutoff = 5 * LM_SCALE - 1
    eval_docs = spark.createDataFrame(
        [(1000, "completely disjoint eval text")], "doc_id long, text string"
    )
    root = str(tmp_path / "corpus")
    q = sc.stream_curate(
        spark, src, root, str(tmp_path / "ckpt"), eval_docs,
        quality_min=1, min_overlap=10**6, max_files_per_trigger=1,
        lm_docs=lm, max_fluency_invp=cutoff,
    )
    q.awaitTermination()
    got = {
        r["doc_id"]
        for r in read_table(spark, root, sc.CURATED_TABLE).collect()
    }
    # batch reference cut
    flu = lm_surprisal_stats(docs, lm_counts=bigram_lm_counts(lm))
    expect = {
        r["doc_id"]
        for r in flu.filter(
            (F.col("n_bigrams") == 0)
            | (F.col("mean_invp_scaled") <= cutoff)
        ).collect()
    }
    assert got == expect
    assert 99 in got  # unscorable passes
    assert all(d < 10 or d == 99 for d in got)  # gibberish cut
    # replay with a fresh checkpoint: no duplicates
    q2 = sc.stream_curate(
        spark, src, root, str(tmp_path / "ckpt2"), eval_docs,
        quality_min=1, min_overlap=10**6, max_files_per_trigger=1,
        lm_docs=lm, max_fluency_invp=cutoff,
    )
    q2.awaitTermination()
    assert (
        read_table(spark, root, sc.CURATED_TABLE).count() == len(got)
    )


def test_admit_lines_batch_cross_batch_counts_and_replay(spark, tmp_path):
    wh = sc.lines_warehouse(spark, str(tmp_path / "lwh"))
    boiler = "subscribe to our newsletter"
    b1 = spark.createDataFrame(
        [(1, f"{boiler}\nunique one"), (2, "all original here")],
        "doc_id long, text string",
    )
    got1 = {r.doc_id: r for r in sc.admit_lines_batch(wh, b1).collect()}
    # only one doc carries the line so far -> nothing cut
    assert got1[1].n_removed == 0 and got1[2].n_removed == 0
    n_cur = wh.read(sc.LINES_CURATED_TABLE).count()
    n_idx = wh.read(sc.LINE_INDEX_TABLE).count()
    # exact replay: identical results, no table growth
    again = {r.doc_id: r for r in sc.admit_lines_batch(wh, b1).collect()}
    assert {k: (v.clean_text, v.n_removed) for k, v in again.items()} == {
        k: (v.clean_text, v.n_removed) for k, v in got1.items()
    }
    assert wh.read(sc.LINES_CURATED_TABLE).count() == n_cur
    assert wh.read(sc.LINE_INDEX_TABLE).count() == n_idx
    # batch 2: a second distinct doc carries the line -> cumulative
    # count reaches 2, the NEW doc loses it; doc 1's stored text is
    # final (non-retroactive)
    b2 = spark.createDataFrame(
        [(9, f"{boiler}\nunique nine")], "doc_id long, text string"
    )
    got2 = {r.doc_id: r for r in sc.admit_lines_batch(wh, b2).collect()}
    assert got2[9].clean_text == "unique nine"
    assert got2[9].n_removed == 1
    stored = {
        r.doc_id: r.clean_text
        for r in wh.read(sc.LINES_CURATED_TABLE).collect()
    }
    assert stored[1] == f"{boiler}\nunique one"  # unchanged
    # batch 3: the line is now corpus-boilerplate for every arrival
    b3 = spark.createDataFrame(
        [(20, boiler)], "doc_id long, text string"
    )
    got3 = sc.admit_lines_batch(wh, b3).collect()[0]
    assert got3.clean_text == "" and got3.n_removed == 1


def test_admit_lines_batch_within_batch_threshold(spark, tmp_path):
    # two docs in ONE batch sharing a line -> cut from both at once
    wh = sc.lines_warehouse(spark, str(tmp_path / "lwh2"))
    b = spark.createDataFrame(
        [(1, "shared line\nalpha"), (2, "shared line\nbeta")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in sc.admit_lines_batch(wh, b).collect()}
    assert got[1].clean_text == "alpha" and got[2].clean_text == "beta"


def test_stream_curate_lines_equals_sequential_batches(spark, tmp_path):
    boiler = "follow us on social media"
    rows = []
    for i in range(9):
        uniq = f"article body number {i} with words"
        text = f"{boiler}\n{uniq}" if i % 2 == 0 else uniq
        rows.append((i, text, "en", "s", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = str(tmp_path / "ldocs")
    docs.withColumn("_b", F.col("doc_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.parquet(src)
    q = sc.stream_curate_lines(
        spark, src, str(tmp_path / "lines_wh"),
        str(tmp_path / "ckpt_lines"), max_files_per_trigger=1,
    )
    q.awaitTermination()
    got = {
        r.doc_id: r
        for r in read_table(
            spark, str(tmp_path / "lines_wh"), sc.LINES_CURATED_TABLE
        ).collect()
    }
    assert len(got) == 9
    carriers = [i for i in range(9) if i % 2 == 0]  # 0,2,4,6,8
    removed = {i: got[i].n_removed for i in carriers}
    # exactly one carrier (whichever streamed first, alone in its
    # batch before any other carrier) may keep the line; once two
    # distinct carriers have been seen, every later carrier loses it
    keepers = [i for i, n in removed.items() if n == 0]
    assert len(keepers) <= 1
    assert sum(removed.values()) >= len(carriers) - 1
    for i in range(9):
        if i not in carriers:
            assert got[i].n_removed == 0


def _scored(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, quality_score int"
    )


def test_admit_adaptive_threshold_moves_with_history(spark, tmp_path):
    wh = sc.adaptive_warehouse(spark, str(tmp_path / "awh"))
    # batch 1: scores 10,20,30,40,50 -> n=5, drop 1 -> threshold 20
    b1 = _scored(spark, [(i, "A", 10 * (i + 1)) for i in range(5)])
    a1 = {r.doc_id for r in sc.admit_adaptive_quality_batch(wh, b1).collect()}
    assert a1 == {1, 2, 3, 4}  # doc 0 (score 10) dropped
    # batch 2: five strong docs (60..100) -> cumulative n=10, drop 2,
    # threshold rises to 30: the new batch's weakest (none below 30)
    # all clear it, but a replayed score-20 doc would now fail
    b2 = _scored(spark, [(10 + i, "A", 60 + 10 * i) for i in range(5)])
    a2 = {r.doc_id for r in sc.admit_adaptive_quality_batch(wh, b2).collect()}
    assert a2 == {10, 11, 12, 13, 14}
    # batch 3: a score-15 doc arrives late -> cumulative n=12, drop 2;
    # cum(10)=1, cum(15)=2 (not > 2), cum(20)=4 -> threshold 20: the
    # score that would have PASSED batch 1's threshold now fails
    b3 = _scored(spark, [(20, "A", 15), (21, "A", 95)])
    a3 = {r.doc_id for r in sc.admit_adaptive_quality_batch(wh, b3).collect()}
    assert a3 == {21}
    # stored admissions are final: doc 1 (score 20, admitted in b1)
    # remains in the curated table even though 20 no longer clears
    stored = {
        r.doc_id
        for r in wh.read(sc.ADAPTIVE_CURATED_TABLE).collect()
    }
    assert 1 in stored and 20 not in stored


def test_admit_adaptive_replay_noop_and_histogram_state(spark, tmp_path):
    wh = sc.adaptive_warehouse(spark, str(tmp_path / "awh2"))
    b1 = _scored(spark, [(i, "A", 10 * (i + 1)) for i in range(5)])
    first = {r.doc_id for r in sc.admit_adaptive_quality_batch(wh, b1).collect()}
    n_cur = wh.read(sc.ADAPTIVE_CURATED_TABLE).count()
    n_stats = wh.read(sc.ADAPTIVE_STATS_TABLE).count()
    again = {r.doc_id for r in sc.admit_adaptive_quality_batch(wh, b1).collect()}
    assert again == first
    assert wh.read(sc.ADAPTIVE_CURATED_TABLE).count() == n_cur
    assert wh.read(sc.ADAPTIVE_STATS_TABLE).count() == n_stats
    # state is histograms: 5 distinct scores -> 5 rows, not raw docs
    assert n_stats == 5


def test_admit_adaptive_rejected_docs_still_shape_distribution(spark, tmp_path):
    wh = sc.adaptive_warehouse(spark, str(tmp_path / "awh3"))
    # batch 1: ten zeros and two 50s -> drop 2 -> threshold 0 stays
    # (cum(0)=10 > 2 -> threshold 0) -> all admitted
    b1 = _scored(
        spark,
        [(i, "A", 0) for i in range(10)] + [(20, "A", 50), (21, "A", 50)],
    )
    a1 = sc.admit_adaptive_quality_batch(wh, b1).count()
    assert a1 == 12
    # batch 2: two 100s -> cumulative n=14, drop 2, cum(0)=10 > 2 ->
    # threshold STILL 0 (value semantics: the whole boundary score
    # block survives)
    b2 = _scored(spark, [(30, "A", 100), (31, "A", 100)])
    assert sc.admit_adaptive_quality_batch(wh, b2).count() == 2


def test_admit_adaptive_groups_are_independent(spark, tmp_path):
    wh = sc.adaptive_warehouse(spark, str(tmp_path / "awh4"))
    # source A: scores 1..10 (drop 2 -> threshold 3); source B: all 90
    rows = [(i, "A", i + 1) for i in range(10)] + [
        (100 + i, "B", 90) for i in range(5)
    ]
    got = {
        r.doc_id
        for r in sc.admit_adaptive_quality_batch(
            wh, _scored(spark, rows)
        ).collect()
    }
    assert {100, 101, 102, 103, 104} <= got
    assert 0 not in got and 1 not in got and 2 in got


def test_admit_adaptive_bad_permille_raises(spark, tmp_path):
    import pytest

    wh = sc.adaptive_warehouse(spark, str(tmp_path / "awh5"))
    with pytest.raises(ValueError, match="drop_permille"):
        sc.admit_adaptive_quality_batch(
            wh, _scored(spark, [(1, "A", 1)]), drop_permille=1000
        )


def test_curate_batch_gopher_gate_opt_in(spark):
    ev = spark.createDataFrame([(900, "zz yy xx ww vv uu")],
                               "doc_id long, text string")
    good = ("the cat and the dog have fun with all of that stuff "
            "and more of the same here")
    symbols = good + " " + "#" * 30
    docs = spark.createDataFrame(
        [(1, good, "en", "s", 0), (2, symbols, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # gates off: both survive the base funnel
    base = {r.doc_id for r in sc.curate_batch(
        docs, ev, quality_min=0, min_overlap=10**6).collect()}
    assert base == {1, 2}
    # gopher rules on: the symbol-heavy doc dies on symbol_ok
    gated = {r.doc_id for r in sc.curate_batch(
        docs, ev, quality_min=0, min_overlap=10**6,
        gopher_kwargs=dict(min_words=10, max_words=1000),
    ).collect()}
    assert gated == {1}


def test_stream_curate_adaptive_runs_and_admits(spark, tmp_path):
    rows = []
    for i in range(12):
        # stronger docs at higher ids; all one source
        text = " ".join(["the cat and a dog have fun with all of that"] * (1 + i % 3))
        rows.append((i, text, "en", "sA", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = str(tmp_path / "adocs")
    docs.withColumn("_b", F.col("doc_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.parquet(src)
    q = sc.stream_curate_adaptive(
        spark, src, str(tmp_path / "awh"),
        str(tmp_path / "ckpt_a"), max_files_per_trigger=1,
    )
    q.awaitTermination()
    cur = read_table(spark, str(tmp_path / "awh"), sc.ADAPTIVE_CURATED_TABLE)
    stats = read_table(spark, str(tmp_path / "awh"), sc.ADAPTIVE_STATS_TABLE)
    assert 0 < cur.count() <= 12
    # one histogram row per (batch, score value) — bounded state
    assert stats.count() <= 3 * 3
    # replay: no growth
    n = cur.count()
    q2 = sc.stream_curate_adaptive(
        spark, src, str(tmp_path / "awh"),
        str(tmp_path / "ckpt_a"), max_files_per_trigger=1,
    )
    q2.awaitTermination()
    assert read_table(
        spark, str(tmp_path / "awh"), sc.ADAPTIVE_CURATED_TABLE
    ).count() == n


def test_curate_batch_c4_rewrites_and_gates(spark):
    ev = spark.createDataFrame([(900, "zz yy xx ww vv uu")],
                               "doc_id long, text string")
    multi = ("the cat and the dog have fun here\nok\n"
             "more of the same good words follow\n"
             "and a third full line of it too")
    short = "just two lines of words here\nok"
    docs = spark.createDataFrame(
        [(1, multi, "en", "s", 0), (2, short, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # C4 off: both survive the base funnel
    base = {r.doc_id for r in sc.curate_batch(
        docs, ev, quality_min=0, min_overlap=10**6).collect()}
    assert base == {1, 2}
    # C4 on (lines segmenter): doc 1 keeps its 3 full lines (the
    # 1-word "ok" line is CUT from the stored text); doc 2 dies on
    # min_lines after its "ok" line is cut
    out = {r.doc_id: r for r in sc.curate_batch(
        docs, ev, quality_min=0, min_overlap=10**6,
        c4_kwargs=dict(min_words_per_line=3, min_lines=3),
    ).collect()}
    assert set(out) == {1}
    assert "\nok" not in out[1]["text"] and "ok\n" not in out[1]["text"]


def test_curate_batch_intradoc_repair(spark):
    ev = spark.createDataFrame([(900, "zz yy xx ww vv uu")],
                               "doc_id long, text string")
    doc = ("the same good line of words\nthe middle one is unique here\n"
           "the same good line of words")
    docs = spark.createDataFrame(
        [(1, doc, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = sc.curate_batch(
        docs, ev, quality_min=0, min_overlap=10**6,
        intradoc_kwargs=dict(segmenter="lines"),
    ).collect()
    assert len(out) == 1
    assert out[0]["text"] == (
        "the same good line of words\nthe middle one is unique here"
    )
