"""Empirical scaling harness: run the pipeline's key operators on
deterministically synthesized corpora of increasing size and report
per-doc scaling factors.

Why a synthetic corpus here and not /root/testdata: the driver's
testdata uses a ~50-word vocabulary, which pins background Jaccard
similarity near the dedup threshold — ideal for correctness gates
(candidates exist everywhere), pathological for SCALING measurements
(candidate counts grow quadratically with corpus size by
construction, which no banding can prevent and no natural corpus
exhibits). This harness generates text over a 50k-word md5-derived
vocabulary (background j ≈ 0, the natural-corpus shape) with a
controlled duplicate fraction, entirely as JVM column expressions —
deterministic, no RNG, no Python in the generation path.

Usage: python scalecheck.py [sizes...]   (default 5000 20000 80000)
       python scalecheck.py emb [sizes...]  (embedding ops;
                                             default 2000 8000 32000)
Prints one JSON line per (operator, size) with wall seconds and
µs/doc, and a final summary line with the large-vs-small per-doc
ratios (≈1.0 → linear; the CPU probe before/after makes host throttle
visible, see BASELINE.md).
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.functions.text import (
    md5_long,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.session import (
    get_spark,
)

VOCAB = 50_000
WORDS_PER_DOC = 120
DUP_FRAC = 0.05  # every 20th doc is a near-copy of the previous base doc


def make_corpus(spark, n_docs: int, out_dir: str) -> None:
    """(doc_id, text, lang, source, n_chars): text = WORDS_PER_DOC
    md5-derived vocabulary words; every ⌊1/DUP_FRAC⌋th doc repeats the
    previous doc's words plus a one-word suffix (a planted near-dup).
    Pure column expressions — generation is JVM-side and parallel."""
    period = int(1 / DUP_FRAC)
    base = F.when(
        (F.col("id") % period == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
        lambda i: F.concat(
            F.lit("w"),
            (
                md5_long(
                    F.concat(base.cast("string"), F.lit("|"), i.cast("string"))
                )
                % VOCAB
            ).cast("string"),
        ),
    )
    text = F.when(
        F.col("id") == base,
        F.array_join(words, " "),
    ).otherwise(F.concat(F.array_join(words, " "), F.lit(" wdup")))
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias(
                "source"
            ),
            F.length(text).alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def _probe() -> float:
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(2):
        a @ a
    return round(time.perf_counter() - t0, 3)


def operators(spark, docs):
    """name -> thunk returning a DataFrame to force (noop write)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        classify,
        dedup,
        partitioning,
        text_profile,
    )

    eval_docs = partitioning.hash_sample(docs, "doc_id", 0.02, salt="eval")
    return {
        "shingle_sets": lambda: dedup.shingle_hash_sets(docs, 5),
        "exact_dedup": lambda: dedup.exact_duplicate_groups(docs),
        "minhash_verified": lambda: dedup.minhash_verified_pairs(docs),
        "decontaminate": lambda: dedup.ngram_decontaminate(
            docs, eval_docs, min_overlap=10
        ),
        "classifier": lambda: classify.hashed_linear_score(docs),
        "interdoc_dup": lambda: text_profile.interdoc_dup_stats(docs),
        "curation_funnel_flags": lambda: text_profile.curation_flags(docs),
        "repetition": lambda: text_profile.repetition_stats(docs),
        "span_removal": lambda: dedup.remove_duplicate_spans(docs),
        "quantile_prune": lambda: classify.quantile_prune(
            classify.hashed_linear_score(docs)
        ),
        "lm_surprisal": lambda: text_profile.lm_surprisal_stats(docs),
        "dsir_weights": lambda: classify.dsir_importance(docs),
        "hashed_embedding": lambda: text_profile.hashed_embedding_vectors(
            docs, id_col="doc_id"
        ),
        "line_dedup": lambda: dedup.line_dedup(
            docs, segmenter="words", words_per_segment=8
        ),
        "gopher_gates": lambda: text_profile.gopher_gates(docs),
        "intradoc_dedup": lambda: dedup.intradoc_dedup(
            docs, segmenter="words", words_per_segment=2
        ),
        "c4_clean": lambda: text_profile.c4_clean(
            docs, segmenter="words", words_per_segment=8
        ),
    }


EMB_DIM = 64


def make_embeddings(spark, n_vecs: int, out_dir: str) -> None:
    """(vec_id, embedding float[EMB_DIM], label): components are
    md5-derived in [-1, 1]; every ⌊1/DUP_FRAC⌋th vector copies the
    previous one exactly (planted near-dups for the dedup paths)."""
    period = int(1 / DUP_FRAC)
    base = F.when(
        (F.col("id") % period == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
        lambda i: (
            (
                md5_long(
                    F.concat(base.cast("string"), F.lit("|"), i.cast("string"))
                )
                % 2001
                - 1000
            ).cast("double")
            / 1000.0
        ).cast("float"),
    )
    (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            comp.alias("embedding"),
            (F.col("id") % 3).cast("int").alias("label"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def emb_operators(spark, emb):
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        pq,
        similarity,
    )

    # codebooks train once OUTSIDE the timed thunk (eager checkpoint):
    # production trains on a sample and reuses — the scaling question
    # is the per-vector ENCODE cost
    books = pq.pq_codebooks(emb, m=4, ksub=16, iters=1).localCheckpoint(
        eager=True
    )
    return {
        "pq_encode": lambda: pq.pq_encode(emb, books, m=4),
        "kmeans_cells": lambda: similarity.kmeans_cells(emb, k=16, iters=2),
        "semdedup": lambda: similarity.semdedup(
            emb, k=16, iters=2, threshold=0.95
        ),
        "cosine_topk_exact": lambda: similarity.cosine_topk(
            emb, num_queries=10, k=5
        ),
        "ann_lsh_topk": lambda: similarity.ann_lsh_topk(
            emb, num_queries=10, k=5
        ),
        "ann_ivf_topk": lambda: similarity.ann_ivf_topk(
            emb, num_queries=10, k=5, n_centroids=16, n_probe=4
        ),
        # exact all-pairs baseline: (n/block)^2 tiles, so the per-unit
        # ratio GROWS ~linearly in n by design — the measured cost the
        # bucketed structures (IVF cells, SemDeDup tiles) exist to avoid
        "knn_graph": lambda: similarity.knn_graph(emb, k=3),
        # the cell-bounded scale path: n_probe * sum(|cell|) candidates
        "knn_graph_ivf": lambda: similarity.knn_graph_ivf(
            emb, k=3, n_centroids=16, n_probe=2
        ),
    }


def run_suite(
    spark,
    sizes: list[int],
    make_data,
    ops_for,
    warm,
    unit: str,
    root: str,
) -> None:
    """Shared measurement loop for both modes: per (operator, size)
    one timed noop-forced run with a CPU probe, then the
    large-vs-small per-unit ratio summary (1.0 = linear scaling)."""
    per_unit: dict[str, dict[int, float]] = {}
    try:
        for n in sizes:
            out = f"{root}/data_{n}"
            make_data(spark, n, out)
            data = spark.read.parquet(out)
            warm(data)
            for name, thunk in ops_for(spark, data).items():
                p0 = _probe()
                t0 = time.perf_counter()
                thunk().write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                us = dt / n * 1e6
                per_unit.setdefault(name, {})[n] = us
                print(
                    json.dumps(
                        {
                            "op": name,
                            f"n_{unit}s": n,
                            "sec": round(dt, 2),
                            f"us_per_{unit}": round(us, 1),
                            "probe": p0,
                        }
                    ),
                    flush=True,
                )
        lo, hi = sizes[0], sizes[-1]
        print(
            json.dumps(
                {
                    "summary": f"per-{unit} cost ratio at {hi} vs {lo} "
                    f"{unit}s (1.0 = linear scaling)",
                    "ratios": {
                        k: round(v[hi] / v[lo], 2)
                        for k, v in per_unit.items()
                        if lo in v and hi in v
                    },
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def compact_mode(spark, n_batches: int, batch_rows: int) -> None:
    """Manifest-sink small-file growth and the compaction answer:
    read cost grows with the number of accumulated segment dirs (one
    per micro-batch, the streaming-cadence scale-killer); after
    ``compact()`` the same row set reads from ONE segment and the
    cost falls back to ~the single-table floor, while every
    historical snapshot stays answerable. Reports read seconds at
    increasing batch counts, then post-compaction read/again, plus a
    time-travel read both sides of the rewrite."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
        make_sink,
    )

    def batch(b: int):
        return spark.range(b * batch_rows, (b + 1) * batch_rows).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),
        )

    root = tempfile.mkdtemp(prefix="scalecheck_compact_")
    try:
        sink = make_sink(spark, root, keys={"t": ["k"]}, backend="manifest")
        levels = sorted({n_batches // 4, n_batches // 2, n_batches})
        reads = []
        b = 0
        for level in levels:
            while b < level:
                sink.insert_if_absent("t", batch(b))
                b += 1
            t0 = time.time()
            n = sink.read("t").count()
            reads.append(
                {"n_batches": level, "read_sec": round(time.time() - t0, 3)}
            )
        assert n == n_batches * batch_rows, n
        mid_snap = levels[0] - 1
        t0 = time.time()
        pre_travel = sink.read_at("t", mid_snap).count()
        travel_pre_sec = round(time.time() - t0, 3)
        t0 = time.time()
        new_snap = sink.compact("t")
        compact_sec = round(time.time() - t0, 3)
        t0 = time.time()
        n2 = sink.read("t").count()
        post_read_sec = round(time.time() - t0, 3)
        assert n2 == n, (n2, n)
        t0 = time.time()
        post_travel = sink.read_at("t", mid_snap).count()
        travel_post_sec = round(time.time() - t0, 3)
        assert post_travel == pre_travel, (post_travel, pre_travel)
        # a replay after compaction must still no-op
        sink.insert_if_absent("t", batch(0))
        assert sink.read("t").count() == n
        print(
            json.dumps(
                {
                    "mode": "manifest_compaction",
                    "batch_rows": batch_rows,
                    "reads_pre_compaction": reads,
                    "read_growth_pre": round(
                        reads[-1]["read_sec"] / max(reads[0]["read_sec"], 1e-9),
                        2,
                    ),
                    "compact_sec": compact_sec,
                    "post_compaction_read_sec": post_read_sec,
                    "post_vs_first_level_read": round(
                        post_read_sec / max(reads[0]["read_sec"], 1e-9), 2
                    ),
                    "time_travel_snapshot": mid_snap,
                    "time_travel_pre_sec": travel_pre_sec,
                    "time_travel_post_sec": travel_post_sec,
                    "snapshots_after": len(sink.snapshots("t")),
                    "new_snapshot": new_snap,
                    "rows": n,
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def index_compact_mode(
    spark, n_batches: int = 32, batch_vecs: int = 2000
) -> None:
    """Streaming-index small-file growth and the auto-compaction
    answer (round-10 #1): the cell-partitioned IVF index accumulates
    one segment (one file PER TOUCHED CELL) per micro-batch, so the
    partition-pruned serve read unions O(batches) directories. Ingest
    the same vectors twice — unbounded vs ``auto_compact_segments=8``
    — and report live segment counts and serve-path seconds for
    both, plus serve ≡ results across the two layouts."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.similarity import (
        ivf_assignments,
        kmeans_centroids,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.ann_index import (
        INDEX_TABLE,
        index_warehouse,
        ivf_index_topk,
    )

    root = tempfile.mkdtemp(prefix="scalecheck_idx_")
    try:
        make_embeddings(spark, n_batches * batch_vecs, f"{root}/emb")
        emb = spark.read.parquet(f"{root}/emb")
        cents = kmeans_centroids(emb, k=16, iters=2).localCheckpoint(
            eager=True
        )
        queries = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ).localCheckpoint(eager=True)
        out = {"mode": "index_compaction", "n_batches": n_batches,
               "batch_vecs": batch_vecs, "variants": {}}
        served = {}
        for name, ac in (("unbounded", None), ("auto_compact_8", 8)):
            wroot = f"{root}/idx_{name}"
            wh = index_warehouse(spark, wroot, auto_compact_segments=ac)
            t0 = time.time()
            for b in range(n_batches):
                assigned = ivf_assignments(
                    emb.filter(F.col("vec_id") % n_batches == b),
                    centroids=cents,
                ).select("vec_id", "q", "norm_sq", "cell")
                wh.insert_if_absent(INDEX_TABLE, assigned)
            ingest_sec = round(time.time() - t0, 3)
            live = len(wh._segments(INDEX_TABLE)[0])
            t0 = time.time()
            res = ivf_index_topk(
                spark, wroot, queries, cents, k=5, n_probe=4
            ).collect()
            serve_sec = round(time.time() - t0, 3)
            served[name] = {
                (r.query_id, r.rank): r.neighbor_id for r in res
            }
            out["variants"][name] = {
                "ingest_sec": ingest_sec,
                "live_segments": live,
                "serve_sec": serve_sec,
                "probe_sec": _probe(),
            }
        assert served["unbounded"] == served["auto_compact_8"]
        u, a = out["variants"]["unbounded"], out["variants"]["auto_compact_8"]
        out["serve_speedup"] = round(
            u["serve_sec"] / max(a["serve_sec"], 1e-9), 2
        )
        out["segment_cut"] = f"{u['live_segments']}->{a['live_segments']}"
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bpe_mode(spark, merge_levels: list[int], n_docs: int = 20000) -> None:
    """BPE trainer scaling in n_merges: the incremental pair-count
    trainer touches only the words containing each picked pair, so
    train time must grow ~linearly in n_merges (the old full-recount
    loop was O(n_merges × top_words × |word|)). One corpus, one
    word-count aggregate per level (constant), driver loop varying."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.bpe import (
        BPE_TOP_WORDS,
        bpe_coverage,
        train_merges,
    )

    root = tempfile.mkdtemp(prefix="scalecheck_bpe_")
    try:
        make_corpus(spark, n_docs, f"{root}/docs")
        docs = spark.read.parquet(f"{root}/docs")
        docs.select(F.sum(F.length("text"))).collect()  # warm cache
        # untimed warmup: the first word-count aggregate pays one-time
        # Spark/Arrow setup that would poison the base level's timing
        train_merges(docs, n_merges=1, top_words=BPE_TOP_WORDS)
        rows = []
        base_sec = None
        merges = []
        for n_merges in merge_levels:
            p0 = _probe()
            t0 = time.time()
            merges = train_merges(
                docs, n_merges=n_merges, top_words=BPE_TOP_WORDS
            )
            sec = round(time.time() - t0, 3)
            if base_sec is None:
                base_sec = sec  # ~the fixed word-count aggregate cost
            rows.append(
                {
                    "n_merges": n_merges,
                    "learned": len(merges),
                    "train_sec": sec,
                    "driver_sec_over_base": round(sec - base_sec, 3),
                    "probe_sec": p0,
                }
            )
            print(json.dumps(rows[-1]), flush=True)
        cov = bpe_coverage(docs, merges).collect()[0].asDict()
        # rows[0] is the base level (its over-base cost is 0 by
        # construction); compare from rows[1] when it exists, else
        # degrade to rows[0] so a single-level invocation still
        # prints its summary instead of dying on IndexError
        lo, hi = rows[1] if len(rows) >= 2 else rows[0], rows[-1]
        ratio_merges = hi["n_merges"] / max(lo["n_merges"], 1)
        ratio_driver = max(hi["driver_sec_over_base"], 1e-3) / max(
            lo["driver_sec_over_base"], 1e-3
        )
        print(
            json.dumps(
                {
                    "mode": "bpe_training_scaling",
                    "n_docs": n_docs,
                    "levels": rows,
                    "coverage": cov,
                    # driver-cost growth vs merge-count growth:
                    # ~<= ratio_merges means ~linear (sub-quadratic)
                    "merge_ratio": round(ratio_merges, 1),
                    "driver_cost_ratio": round(ratio_driver, 2),
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def lm_mode(spark, sizes: list[int]) -> None:
    """Evidence for the n≥3 count floor (text_profile.bigram_lm_counts
    ``min_count``): the UNPRUNED trigram model relation grows with
    distinct n-grams — near-linearly in corpus tokens, since most
    higher-order grams are one-offs — while the floor keeps only grams
    that REPEAT, whose count is bounded by actually-recurring phrases
    (here the planted near-dup docs plus hash collisions). Prints the
    model-relation row count at each corpus size for min_count 1 vs 2
    and the large-vs-small growth ratio of each (1.0 = flat,
    sizes-ratio = linear)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        text_profile,
    )

    def make_zipf_corpus(spark, n_docs: int, out_dir: str) -> None:
        # natural text is Zipfian — gram repetition comes from the
        # heavy head, and the one-off tail is what grows ~linearly.
        # The uniform-vocab corpus used by the timing modes has no
        # head (its only repeats are the planted near-dups, a
        # constant fraction), which would mis-state the floor's
        # effect as a constant-factor cut. word_id = ⌊V·u^6⌋ over an
        # md5 uniform concentrates ~17% of tokens on the top word —
        # a crude but deterministic Zipf stand-in.
        u = (
            md5_long(
                F.concat(
                    F.col("id").cast("string"),
                    F.lit("|"),
                    F.col("i").cast("string"),
                )
            )
            % 1_000_000
        ) / 1_000_000.0
        docs = (
            spark.range(n_docs)
            .select(
                F.col("id"),
                F.explode(
                    F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1))
                ).alias("i"),
            )
            .select(
                "id",
                "i",
                F.concat(
                    F.lit("w"),
                    F.floor(F.lit(VOCAB) * F.pow(u, F.lit(6.0))).cast(
                        "string"
                    ),
                ).alias("tok"),
            )
            .groupBy("id")
            .agg(F.array_join(F.collect_list("tok"), " ").alias("text"))
            .select(F.col("id").alias("doc_id"), "text")
        )
        docs.repartition(32).write.mode("overwrite").parquet(out_dir)

    floors = (2, 8)
    root = tempfile.mkdtemp(prefix="scalecheck_lm_")
    per_size: dict[int, dict[int, int]] = {}
    try:
        for n in sizes:
            out = f"{root}/data_{n}"
            make_zipf_corpus(spark, n, out)
            docs = spark.read.parquet(out)
            # one count pass; floors are filters over the same relation
            counts = text_profile.bigram_lm_counts(docs, n=3).persist()
            grams = counts.select(F.sum("c2")).collect()[0][0]
            row = {1: counts.count()}
            for mc in floors:
                row[mc] = counts.filter(F.col("c2") >= mc).count()
            counts.unpersist()
            per_size[n] = row
            print(
                json.dumps(
                    {
                        "n_docs": n,
                        "corpus_gram_instances": grams,
                        "trigram_model_rows": row[1],
                        **{
                            f"rows_floor{mc}": row[mc] for mc in floors
                        },
                        **{
                            # the hard bound: every surviving gram
                            # consumed >= mc corpus occurrences
                            f"hard_bound_floor{mc}": grams // mc
                            for mc in floors
                        },
                    }
                ),
                flush=True,
            )
        lo, hi = sizes[0], sizes[-1]
        print(
            json.dumps(
                {
                    "summary": "trigram model-relation growth at "
                    f"{hi} vs {lo} docs (corpus grew {hi / lo:.0f}x; "
                    "1.0 = flat). The floor's guarantee is the hard "
                    "bound rows <= corpus_grams/floor plus the "
                    "measured cut below; deeper floors (a production "
                    "5-gram LM prunes harder) flatten the transient "
                    "growth of the count>=floor set.",
                    "full_growth": round(
                        per_size[hi][1] / per_size[lo][1], 2
                    ),
                    **{
                        f"floor{mc}_growth": round(
                            per_size[hi][mc] / max(per_size[lo][mc], 1),
                            2,
                        )
                        for mc in floors
                    },
                    **{
                        f"floor{mc}_cut_vs_unpruned": round(
                            per_size[hi][1] / max(per_size[hi][mc], 1), 1
                        )
                        for mc in floors
                    },
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def zonemap_mode(spark, n_batches: int, batch_rows: int) -> None:
    """Zone-map segment pruning: each micro-batch covers a disjoint
    key band (the event-time-keyed stream shape); a narrow range
    query over the full table must read O(matching segments), not
    O(all segments). Reports full-read vs pruned-scan seconds and the
    prune_report segment counts at increasing batch counts."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
        make_sink,
    )

    def batch(b: int):
        return spark.range(b * batch_rows, (b + 1) * batch_rows).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),
        )

    root = tempfile.mkdtemp(prefix="scalecheck_zonemap_")
    try:
        sink = make_sink(
            spark,
            root,
            keys={"t": ["k"]},
            backend="manifest",
            stats_cols={"t": ["k"]},
        )
        levels = sorted({n_batches // 4, n_batches // 2, n_batches})
        rows = []
        b = 0
        for level in levels:
            while b < level:
                sink.insert_if_absent("t", batch(b))
                b += 1
            # one-band probe in the middle of the ingested key space
            lo = (level // 2) * batch_rows + 5
            hi = lo + batch_rows // 10
            t0 = time.time()
            full = sink.read("t").filter(
                (F.col("k") >= lo) & (F.col("k") <= hi)
            ).count()
            full_sec = round(time.time() - t0, 3)
            t0 = time.time()
            pruned = sink.scan("t", {"k": (lo, hi)}).count()
            scan_sec = round(time.time() - t0, 3)
            assert pruned == full, (pruned, full)
            total, kept = sink.prune_report("t", {"k": (lo, hi)})
            rows.append(
                {
                    "n_batches": level,
                    "segments": total,
                    "segments_read": kept,
                    "filter_read_sec": full_sec,
                    "pruned_scan_sec": scan_sec,
                }
            )
        # clustered compaction: one covering segment, disjoint
        # per-file key bands -> a range scan opens O(matching files)
        lo = (n_batches // 2) * batch_rows + 5
        hi = lo + batch_rows // 10
        sink.compact("t", target_partitions=16, cluster_by=["k"])
        files_total, files_opened = sink.prune_files_report(
            "t", {"k": (lo, hi)}
        )
        t0 = time.time()
        clustered = sink.scan("t", {"k": (lo, hi)}).count()
        clustered_sec = round(time.time() - t0, 3)
        assert clustered == hi - lo + 1, clustered
        print(
            json.dumps(
                {
                    "mode": "zonemap_pruning",
                    "batch_rows": batch_rows,
                    "levels": rows,
                    "speedup_at_max": round(
                        rows[-1]["filter_read_sec"]
                        / max(rows[-1]["pruned_scan_sec"], 1e-9),
                        2,
                    ),
                    "clustered_compaction": {
                        "files_total": files_total,
                        "files_opened": files_opened,
                        "pruned_scan_sec": clustered_sec,
                    },
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)



def tiered_mode(spark, n_batches: int = 48, batch_rows: int = 2000) -> None:
    """Size-tiered vs full-rewrite auto-compaction write volume: run
    the SAME ingest stream through two manifest sinks — tier_factor=2
    (the r11 policy) and tier_factor=inf (r10's rewrite-everything
    behavior) — and report cumulative compaction rows/bytes, max live
    segments (the bound must hold across >= 32 batches), and identical
    end state. Also prints the pure-policy simulation at 1024 batches,
    where the O(N log N)-vs-O(N^2/B) separation is unambiguous."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
        ManifestParquetSink,
        make_sink,
    )

    def batch(b: int):
        return spark.range(b * batch_rows, (b + 1) * batch_rows).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),
        )

    def run(factor: float):
        root = tempfile.mkdtemp(prefix="scalecheck_tiered_")
        try:
            sink = make_sink(
                spark, root, keys={"t": ["k"]}, backend="manifest",
                auto_compact_segments=8,
            )
            sink.tier_factor = factor
            staged_rows = []
            staged_bytes = []
            orig = sink._stage_segment

            def wrapped(name, df, covers=None, min_row=None, **kw):
                stage = orig(name, df, covers=covers, min_row=min_row, **kw)
                if covers is not None:
                    staged_rows.append(sink._segment_rows(stage))
                    staged_bytes.append(sink._segment_bytes(stage))
                return stage

            sink._stage_segment = wrapped
            max_live = 0
            lat = []
            t0 = time.time()
            for b in range(n_batches):
                tb = time.time()
                sink.insert_if_absent("t", batch(b))
                lat.append(time.time() - tb)
                live, _, _ = sink._segments("t")
                max_live = max(max_live, len(live))
            wall = time.time() - t0
            n = sink.read("t").count()
            assert n == n_batches * batch_rows, n
            lat.sort()
            return {
                "compaction_events": len(staged_rows),
                "rewritten_rows": sum(staged_rows),
                "rewritten_bytes": sum(staged_bytes),
                "max_live_segments": max_live,
                "wall_sec": round(wall, 2),
                "batch_latency_p50": round(lat[len(lat) // 2], 2),
                "batch_latency_max": round(lat[-1], 2),
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)

    tiered = run(2.0)
    full = run(float("inf"))
    assert tiered["max_live_segments"] <= 9, tiered

    def simulate(n, bound, factor):
        live, rewritten, max_live = [], 0, 0
        for _ in range(n):
            live.append(1)
            max_live = max(max_live, len(live))
            if len(live) > bound:
                take = min(
                    ManifestParquetSink.tier_take(live, bound, factor),
                    len(live),
                )
                merged = sum(live[-take:])
                live = live[:-take] + [merged]
                rewritten += merged
        return rewritten, max_live

    sim_t, live_t = simulate(1024, 8, 2.0)
    sim_f, live_f = simulate(1024, 8, float("inf"))
    print(
        json.dumps(
            {
                "mode": "tiered_compaction",
                "n_batches": n_batches,
                "batch_rows": batch_rows,
                "tiered": tiered,
                "full_rewrite": full,
                "rows_ratio": round(
                    tiered["rewritten_rows"] / max(full["rewritten_rows"], 1),
                    3,
                ),
                "sim_1024_batches": {
                    "tiered_rewritten": sim_t,
                    "full_rewritten": sim_f,
                    "ratio": round(sim_t / sim_f, 4),
                    "max_live": [live_t, live_f],
                },
            }
        ),
        flush=True,
    )


def takedown_mode(
    spark,
    sizes: list[int],
    n_batches: int = 8,
    delete_n: int = 200,
) -> None:
    """Rewrite-vs-tombstone takedown cost AT growing accumulated table
    sizes — the claim the deletion-vector mode exists to prove:
    ``delete_keys(mode="tombstone")`` commits O(deleted keys)
    regardless of table size, while ``mode="rewrite"`` pays O(table);
    the read-side tax of an outstanding tombstone is one broadcast
    anti-join (plus tagged per-segment reads), repaid by one
    materializing compaction. Each size builds a compacted manifest
    table of size×batch_rows rows, deletes ``delete_n`` spread keys
    both ways, and times delete / post-delete read / materialize."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
        make_sink,
    )

    for total in sizes:
        batch_rows = total // n_batches
        total = batch_rows * n_batches
        for mode in ("rewrite", "tombstone"):
            root = tempfile.mkdtemp(prefix=f"scalecheck_td_{mode}_")
            try:
                sink = make_sink(
                    spark, root, keys={"t": ["k"]}, backend="manifest"
                )
                for b in range(n_batches):
                    sink.insert_if_absent(
                        "t",
                        spark.range(
                            b * batch_rows, (b + 1) * batch_rows
                        ).select(
                            F.col("id").alias("k"),
                            F.md5(F.col("id").cast("string")).alias("v"),
                        ),
                    )
                sink.compact("t", target_partitions=8)
                stride = max(1, total // delete_n)
                keys = spark.range(0, total, stride).select(
                    F.col("id").alias("k")
                )
                p0 = _probe()
                t0 = time.time()
                sink.delete_keys("t", keys, mode=mode)
                dt_delete = round(time.time() - t0, 3)
                t0 = time.time()
                n_after = sink.read("t").count()
                dt_read = round(time.time() - t0, 3)
                dt_mat = None
                dt_read_after = None
                if mode == "tombstone":
                    t0 = time.time()
                    sink.compact("t", materialize_deletes=True)
                    dt_mat = round(time.time() - t0, 3)
                    t0 = time.time()
                    assert sink.read("t").count() == n_after
                    dt_read_after = round(time.time() - t0, 3)
                assert n_after == total - len(range(0, total, stride))
                print(
                    json.dumps(
                        {
                            "mode": "takedown",
                            "delete_mode": mode,
                            "table_rows": total,
                            "deleted_keys": len(range(0, total, stride)),
                            "delete_sec": dt_delete,
                            "read_after_delete_sec": dt_read,
                            "materialize_sec": dt_mat,
                            "read_after_materialize_sec": dt_read_after,
                            "cpu_probe": round(p0, 3),
                        }
                    ),
                    flush=True,
                )
            finally:
                shutil.rmtree(root, ignore_errors=True)


def refresh_mode(
    spark,
    counts: list[int],
    batch_rows: int = 5000,
) -> None:
    """MaintainedAggregate refresh cost vs ACCUMULATED snapshot count
    — the O(new segments) claim: each refresh folds only the
    since-last-fold diff (one small groupBy) plus a manifest-metadata
    horizon read, so per-refresh cost must stay FLAT as the fact table
    accumulates hundreds of snapshots. Also times the delete-aware
    paths the r13 composition added: a refresh folding a tombstone's
    negative partials (one admissions pass with the keys broadcast),
    a rewrite-triggered REBASE (one fact scan — same order as the
    rewrite that forced it), and the serve (O(snapshots x groups)
    partials, never the fact)."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.etl import (
        quarterly_maintained,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
        make_sink,
    )

    for n_snaps in counts:
        root = tempfile.mkdtemp(prefix="scalecheck_refresh_")
        try:
            # the PRODUCTION config: bounded live segments via
            # auto-compaction (the streaming-sink default). Without
            # it, added_between/deleted_between degenerate into
            # O(snapshots)-deep union plans — a harness artifact no
            # deployed table exhibits (compacted segments answer the
            # same diffs from their _snapshot column)
            sink = make_sink(
                spark, root, keys={"sales_fact": ["order_id"]},
                backend="manifest", auto_compact_segments=8,
            )
            ma = quarterly_maintained(sink)

            def batch(b: int):
                return spark.range(
                    b * batch_rows, (b + 1) * batch_rows
                ).select(
                    F.col("id").alias("order_id"),
                    (F.col("id") % 5).cast("int").alias("store_id"),
                    (1 + F.col("id") % 4).cast("int").alias("quarter"),
                    (2019 + F.col("id") % 3).cast("int").alias("year"),
                    (1 + F.col("id") % 7).alias("quantity_ordered"),
                    (100 + F.col("id") % 9000).alias("revenue_cents"),
                )

            p0 = _probe()
            times = []
            for b in range(n_snaps):
                sink.insert_if_absent("sales_fact", batch(b))
                t0 = time.time()
                ma.refresh()
                times.append(time.time() - t0)
            total = n_snaps * batch_rows
            stride = max(1, total // 200)
            keys = spark.range(0, total, stride).select(
                F.col("id").alias("order_id")
            )
            sink.delete_keys(
                "sales_fact", keys, on=["order_id"], mode="tombstone"
            )
            t0 = time.time()
            ma.refresh()  # negative-partial fold
            dt_tomb = round(time.time() - t0, 3)
            sink.delete_keys(
                "sales_fact",
                spark.range(1, total, stride * 2).select(
                    F.col("id").alias("order_id")
                ),
                on=["order_id"],
                mode="rewrite",
            )
            t0 = time.time()
            ma.refresh()  # redaction -> rebase
            dt_rebase = round(time.time() - t0, 3)
            t0 = time.time()
            n_groups = ma.serve().count()
            dt_serve = round(time.time() - t0, 3)
            print(
                json.dumps(
                    {
                        "mode": "refresh",
                        "snapshots": n_snaps,
                        "table_rows": total,
                        "first_refresh_sec": round(times[0], 3),
                        "last_refresh_sec": round(times[-1], 3),
                        "mean_refresh_sec": round(
                            sum(times) / len(times), 3
                        ),
                        "tombstone_refresh_sec": dt_tomb,
                        "rebase_refresh_sec": dt_rebase,
                        "serve_sec": dt_serve,
                        "serve_groups": n_groups,
                        "cpu_probe": round(p0, 3),
                    }
                ),
                flush=True,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)


def cascade_mode(
    spark,
    table_counts: list[int],
    rows_per_table: int = 100_000,
    delete_n: int = 200,
) -> None:
    """Intent-logged takedown cascade wall-time vs the number of
    derived tables swept: the cascade is one intent commit + one
    O(keys) tombstone delete per table + one done commit, so cost
    must grow LINEARLY in the table count with a per-table constant,
    independent of which tables the keys actually hit. heal on a
    clean log must be metadata-only."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
        make_sink,
    )
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
        corpus as sc,
    )

    tables = list(sc.TAKEDOWN_TABLES.items())
    for k in table_counts:
        subset = tables[:k]
        root = tempfile.mkdtemp(prefix="scalecheck_cascade_")
        try:
            sink = make_sink(
                spark,
                root,
                keys={tbl: [col] for tbl, col in subset},
                backend="manifest",
            )
            for tbl, col in subset:
                sink.insert_if_absent(
                    tbl,
                    spark.range(rows_per_table).select(
                        F.col("id").alias(col),
                        F.md5(F.col("id").cast("string")).alias("v"),
                    ),
                )
            stride = max(1, rows_per_table // delete_n)
            ids = spark.range(0, rows_per_table, stride).select(
                F.col("id").alias("doc_id")
            )
            p0 = _probe()
            t0 = time.time()
            res = sc.takedown_with_intent(sink, ids, mode="tombstone")
            dt = round(time.time() - t0, 3)
            assert res["replayed"] is False
            t0 = time.time()
            assert sc.heal_takedowns(sink) == {}
            dt_heal = round(time.time() - t0, 3)
            print(
                json.dumps(
                    {
                        "mode": "cascade",
                        "tables": k,
                        "rows_per_table": rows_per_table,
                        "deleted_keys": len(
                            range(0, rows_per_table, stride)
                        ),
                        "cascade_sec": dt,
                        "heal_noop_sec": dt_heal,
                        "cpu_probe": round(p0, 3),
                    }
                ),
                flush=True,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "refresh":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-refresh")
        spark.sparkContext.setLogLevel("ERROR")
        refresh_mode(spark, counts=rest or [20, 80, 240])
        return
    if args and args[0] == "cascade":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-cascade")
        spark.sparkContext.setLogLevel("ERROR")
        cascade_mode(spark, table_counts=rest or [2, 5, 8])
        return
    if args and args[0] == "takedown":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-takedown")
        spark.sparkContext.setLogLevel("ERROR")
        takedown_mode(
            spark, sizes=rest or [640_000, 2_560_000, 10_240_000]
        )
        return
    if args and args[0] == "tiered":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-tiered")
        spark.sparkContext.setLogLevel("ERROR")
        tiered_mode(
            spark,
            n_batches=rest[0] if rest else 48,
            batch_rows=rest[1] if len(rest) > 1 else 2000,
        )
        return
    if args and args[0] == "zonemap":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-zonemap")
        spark.sparkContext.setLogLevel("ERROR")
        zonemap_mode(
            spark,
            n_batches=rest[0] if rest else 64,
            batch_rows=rest[1] if len(rest) > 1 else 20000,
        )
        return
    if args and args[0] == "lm":
        sizes = [int(a) for a in args[1:]] or [5000, 80000]
        spark = get_spark(app_name="scalecheck-lm")
        spark.sparkContext.setLogLevel("ERROR")
        lm_mode(spark, sizes)
        return
    if args and args[0] == "compact":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-compact")
        spark.sparkContext.setLogLevel("ERROR")
        compact_mode(
            spark,
            n_batches=rest[0] if rest else 64,
            batch_rows=rest[1] if len(rest) > 1 else 2000,
        )
        return
    if args and args[0] == "indexcompact":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-indexcompact")
        spark.sparkContext.setLogLevel("ERROR")
        index_compact_mode(
            spark,
            n_batches=rest[0] if rest else 32,
            batch_vecs=rest[1] if len(rest) > 1 else 2000,
        )
        return
    if args and args[0] == "bpe":
        rest = [int(a) for a in args[1:]]
        spark = get_spark(app_name="scalecheck-bpe")
        spark.sparkContext.setLogLevel("ERROR")
        bpe_mode(spark, merge_levels=rest or [1, 16, 64, 256])
        return
    emb_mode = bool(args) and args[0] == "emb"
    if emb_mode:
        args = args[1:]
        sizes = [int(a) for a in args] or [2000, 8000, 32000]
        spark = get_spark(app_name="scalecheck-emb")
        spark.sparkContext.setLogLevel("ERROR")
        run_suite(
            spark,
            sizes,
            make_embeddings,
            emb_operators,
            lambda d: d.select(F.sum(F.size("embedding"))).collect(),
            "vec",
            tempfile.mkdtemp(prefix="scalecheck_emb_"),
        )
        return
    sizes = [int(a) for a in args] or [5000, 20000, 80000]
    spark = get_spark(app_name="scalecheck")
    spark.sparkContext.setLogLevel("ERROR")
    run_suite(
        spark,
        sizes,
        make_corpus,
        operators,
        # warm the page cache over the FULL text column, not just
        # footers — otherwise the first timed operator absorbs the
        # cold read and reports inflated per-doc cost
        lambda d: d.select(F.sum(F.length("text"))).collect(),
        "doc",
        tempfile.mkdtemp(prefix="scalecheck_"),
    )


if __name__ == "__main__":
    main()
