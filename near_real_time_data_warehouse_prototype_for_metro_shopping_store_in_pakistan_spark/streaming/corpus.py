"""Near-real-time corpus curation: the LLM-data ingestion funnel as a
Structured Streaming pipeline.

Batch curation (``plans.pipeline_queries.corpus_curation_funnel``)
scores a finished corpus; a crawl never finishes, so the same funnel
has to run per micro-batch while staying globally consistent:

- **language + quality gates** are per-row column expressions
  (``text_profile.curation_flags``) — stateless, stream-ready as-is;
- **benchmark decontamination** is a broadcast-eval Arrow map
  (``dedup.ngram_decontaminate``) — stateless, stream-ready as-is;
- **exact dedup** is the only cross-batch concern: it becomes the
  warehouse's insert-if-absent keyed on the text fingerprint, the same
  anti-join idempotency the fact sink uses (SURVEY ST3) — the FIRST
  arrival of a text survives, every later duplicate (same batch or any
  later batch, including crash replays) is filtered by key.

State is therefore exactly the curated table itself — no streaming
dedup state to watermark, and replays are naturally idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _verify_candidate_sets,
    band_keys,
    broadcast_eval_grams,
    connected_components,
    minhash_signature_sets,
    ngram_decontaminate,
    shingle_hash_sets,
)
from ..operators.sinks import MergeSink, make_sink, resolve_auto_compact
from ..operators.text_profile import curation_flags

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

CURATED_TABLE = "curated_docs"
QUALITY_MIN = 100


def curate_batch(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    quality_min: int = QUALITY_MIN,
    eval_state=None,
    min_overlap: int = 10,
    max_dup_token_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    redact_pii: bool = False,
    min_classifier_score: int | None = None,
    lm_counts: "DataFrame | None" = None,
    max_fluency_invp: int | None = None,
    unicode_normalize: bool = False,
    gopher_kwargs: dict | None = None,
    c4_kwargs: dict | None = None,
    intradoc_kwargs: dict | None = None,
) -> DataFrame:
    """One batch through the gates (language, quality, decontamination,
    optional repetition / PII / classifier / LM fluency) — everything except the
    cross-batch dedup, which the sink owns. Returns the surviving docs
    with their fingerprints. Pass a prepared ``eval_state``
    (``dedup.broadcast_eval_grams``) when calling per micro-batch so
    the static eval set is collected and broadcast exactly once for
    the stream's lifetime.

    ``max_dup_token_frac`` / ``max_top_bigram_frac`` switch on the
    Gopher/MassiveText repetition cuts (text_profile.repetition_stats
    — a shuffle-free Arrow pass, stream-ready like the other gates);
    None leaves the corresponding signal ungated.

    ``redact_pii`` scrubs the text FIRST (operators.pii patterns as
    in-scan ``regexp_replace`` expressions — zero shuffle), so every
    downstream signal, fingerprint, and the stored corpus see only
    redacted text — the order a shipping pipeline requires.
    ``min_classifier_score`` switches on the hashed linear quality
    gate (operators.classify; deterministic stand-in weights — a
    learned model is the same plan).

    ``lm_counts`` + ``max_fluency_invp`` switch on the CCNet-style
    fluency gate: each doc scored against the STATIC held-out n-gram
    model (``text_profile.bigram_lm_counts``, materialized once for
    the stream's lifetime — the Wikipedia-LM configuration), kept when
    ``mean_invp_scaled <= max_fluency_invp``. Docs with nothing to
    score (< n tokens) are unscorable, not bad — they pass.

    ``gopher_kwargs`` (a dict, or ``{}`` for the published defaults)
    switches on the Gopher/MassiveText document-rule gate
    (``text_profile.gopher_gates`` — a pure projection, stream-ready
    like every per-row gate here): only docs with ``gopher_ok``
    survive. None (default) leaves the rules off.

    ``unicode_normalize`` applies the CCNet-style NFKC + accent-strip
    + lowercase + collapse normalization FIRST (after PII redaction,
    before every signal): fingerprints, dedup signatures, and the
    stored curated text all see the canonical form, so NFC/NFD/
    full-width variants of one document dedup as one. Opt-in — the
    default keeps byte-exact fingerprints.

    ``c4_kwargs`` (a dict, or ``{}`` for defaults) switches on the C4
    line corrections + document gates (text_profile.c4_clean): the
    batch's text is REWRITTEN to the surviving lines and docs failing
    the C4 gates are dropped, before any other signal runs.

    ``intradoc_kwargs`` (a dict, or ``{}`` for defaults) switches on
    within-doc repeated-segment repair (dedup.intradoc_dedup) —
    per-doc and thus batch-local, no cross-batch state."""
    if redact_pii:
        from ..operators.pii import redact

        docs = docs.withColumn("text", redact("text"))
    if unicode_normalize:
        from ..operators.text_profile import with_unicode_normalized_text

        docs = with_unicode_normalized_text(docs)
    if c4_kwargs is not None:
        # C4 line corrections REWRITE the text (like redact_pii) and
        # gate the doc — applied on the canonical form so every later
        # signal, fingerprint, and the stored corpus see the cleaned
        # lines; a pure per-row projection, stream-ready by shape
        from ..operators.text_profile import c4_clean

        c4 = c4_clean(docs, **c4_kwargs)
        docs = docs.drop("text").join(
            c4.filter(F.col("c4_ok")).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
    if intradoc_kwargs is not None:
        # within-doc repeated-segment repair: per-doc and therefore
        # batch-local by construction — no cross-batch state; rewrites
        # the text before the signal gates like the other repairs
        from ..operators.dedup import intradoc_dedup

        repaired = intradoc_dedup(docs, **intradoc_kwargs)
        docs = docs.drop("text").join(
            repaired.select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
    flags = curation_flags(docs).filter(
        F.col("lang_ok") & (F.col("quality_score") >= quality_min)
    )
    if max_dup_token_frac is not None or max_top_bigram_frac is not None:
        from ..operators.text_profile import repetition_stats

        rep = repetition_stats(docs)
        cond = F.lit(True)
        if max_dup_token_frac is not None:
            cond = cond & (F.col("dup_token_frac") <= max_dup_token_frac)
        if max_top_bigram_frac is not None:
            cond = cond & (F.col("top_bigram_frac") <= max_top_bigram_frac)
        flags = flags.join(
            rep.filter(cond).select("doc_id"), "doc_id", "left_semi"
        )
    if gopher_kwargs is not None:
        from ..operators.text_profile import gopher_gates

        g = gopher_gates(docs, **gopher_kwargs)
        flags = flags.join(
            g.filter(F.col("gopher_ok")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    if min_classifier_score is not None:
        from ..operators.classify import hashed_linear_score

        scores = hashed_linear_score(docs)
        flags = flags.join(
            scores.filter(
                F.col("score_sum") >= min_classifier_score
            ).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    if max_fluency_invp is not None:
        if lm_counts is None:
            raise ValueError(
                "max_fluency_invp needs lm_counts (the static model: "
                "text_profile.bigram_lm_counts over the reference corpus)"
            )
        from ..operators.text_profile import lm_surprisal_stats

        flu = lm_surprisal_stats(docs, lm_counts=lm_counts)
        flags = flags.join(
            flu.filter(
                (F.col("n_bigrams") == 0)
                | (F.col("mean_invp_scaled") <= max_fluency_invp)
            ).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    # min_overlap is the leak threshold, a corpus-calibration knob: on
    # natural text the default flags only real benchmark leaks, while
    # the synthetic testdata's tiny vocabulary makes EVERY doc share
    # grams with any eval sample — callers benching/testing on it pass
    # a threshold above the background so the cut is not degenerate.
    decont = ngram_decontaminate(
        docs, eval_docs, eval_state=eval_state, min_overlap=min_overlap
    ).filter(~F.col("contaminated"))
    return (
        docs.join(flags.select("doc_id", "quality_score", "text_fp"), "doc_id")
        .join(decont.select("doc_id", "is_eval"), "doc_id")
        .filter(~F.col("is_eval"))
        .select("doc_id", "text_fp", "quality_score", "text", "lang", "source")
    )


def stream_curate(
    spark: SparkSession,
    docs_dir: str,
    corpus_root: str,
    checkpoint_dir: str,
    eval_docs: DataFrame,
    quality_min: int = QUALITY_MIN,
    min_overlap: int = 10,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    redact_pii: bool = False,
    min_classifier_score: int | None = None,
    backend: str = "manifest",
    lm_docs: DataFrame | None = None,
    max_fluency_invp: int | None = None,
    auto_compact_segments: int | None | str = "auto",
    unicode_normalize: bool = False,
    sink_kwargs: dict | None = None,
    lm_counts: "DataFrame | str | None" = None,
    audit_rejects: bool = False,
) -> StreamingQuery:
    """Stream document files through the curation funnel into an
    idempotent curated-corpus table keyed on the text fingerprint.
    ``backend`` selects the insert-if-absent sink implementation
    (operators.sinks). ``lm_docs`` + ``max_fluency_invp`` switch on
    the streaming CCNet fluency gate: the held-out n-gram model
    trains ONCE here (like the eval grams) and every micro-batch
    scores against it. ``auto_compact_segments`` (manifest backend
    only) bounds the live segment-directory count per table under
    streaming cadence (operators.sinks.ManifestParquetSink).

    ``audit_rejects`` persists the rejection audit: every cut doc
    lands in the ``curation_rejects`` table as (doc_id, stage,
    reason) — gate cuts via ``curation_rejects`` (same args as the
    funnel), plus the dedup cuts the sink performs silently
    (in-batch and cross-batch ``exact_dup``). Keyed insert-if-absent
    on doc_id, so replays stay no-ops and the first rejection wins."""
    warehouse = make_sink(
        spark, corpus_root,
        keys={CURATED_TABLE: ["text_fp"], REJECTS_TABLE: ["doc_id"]},
        backend=backend, auto_compact_segments=resolve_auto_compact(
            backend, auto_compact_segments
        ),
        **(sink_kwargs or {}),
    )
    # the eval set is static for the stream's lifetime: collect and
    # broadcast it ONCE here, not per trigger
    eval_state = broadcast_eval_grams(eval_docs)
    if max_fluency_invp is not None:
        if lm_counts is None and lm_docs is None:
            raise ValueError(
                "max_fluency_invp needs lm_docs or lm_counts"
            )
        if isinstance(lm_counts, str):
            # a persisted model artifact (operators.artifacts
            # save_lm_counts) — the retrain-free restart path, like
            # the streaming ANN facades' centroid paths
            from ..operators.artifacts import load_lm_counts

            lm_counts = load_lm_counts(spark, lm_counts)
        if lm_counts is None:
            from ..operators.text_profile import bigram_lm_counts

            lm_counts = bigram_lm_counts(lm_docs)
        # the model is static for the stream's lifetime too —
        # materialize the count relation once
        lm_counts = lm_counts.localCheckpoint(eager=True)
    else:
        lm_counts = None
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(docs_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        kept = curate_batch(
            batch,
            quality_min=quality_min,
            eval_state=eval_state,
            min_overlap=min_overlap,
            redact_pii=redact_pii,
            min_classifier_score=min_classifier_score,
            lm_counts=lm_counts,
            max_fluency_invp=max_fluency_invp,
            unicode_normalize=unicode_normalize,
        )
        # in-batch first-arrival (min doc_id) per fingerprint; the
        # sink's anti-join handles every earlier batch and replays
        from pyspark.sql import Window

        w = Window.partitionBy("text_fp").orderBy("doc_id")
        first = (
            kept.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if audit_rejects:
            first = first.localCheckpoint(eager=False)
            gate_rejects = curation_rejects(
                batch,
                quality_min=quality_min,
                eval_state=eval_state,
                min_overlap=min_overlap,
                redact_pii=redact_pii,
                min_classifier_score=min_classifier_score,
                lm_counts=lm_counts,
                max_fluency_invp=max_fluency_invp,
                unicode_normalize=unicode_normalize,
            )
            _record_dedup_rejects(
                warehouse, kept, first, gate_rejects
            )
        warehouse.insert_if_absent(CURATED_TABLE, first)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _record_dedup_rejects(
    warehouse: MergeSink,
    kept: DataFrame,
    first: DataFrame,
    gate_rejects: DataFrame,
    admitted: DataFrame | None = None,
) -> None:
    """Persist one audit batch into ``REJECTS_TABLE``: the gate cuts
    plus the cuts the dedup layers make silently — in-batch exact
    dups (same fingerprint, not the min-id arrival), cross-batch
    exact dups (fingerprint already owned by a DIFFERENT doc in the
    curated table — same-id matches are replays, not cuts), and, when
    ``admitted`` is given (the near-dup facade), the batch docs the
    near-dup admission vetoed. The cross-batch probe is correct run
    before OR after the batch's own curated insert: an owner row with
    the SAME doc_id is this doc's own admission or replay (excluded),
    so only a genuinely earlier different-doc owner marks a cut.
    Insert-if-absent on doc_id: replays no-op, first rejection wins.
    """
    inbatch = kept.join(
        first.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.lit("exact_dup").alias("stage"))
    curated = warehouse.read(CURATED_TABLE)
    cross = None
    if curated is not None:
        owners = curated.select(
            F.col("text_fp").alias("_own_fp"),
            F.col("doc_id").alias("_own_id"),
        )
        cross = (
            first.join(
                owners,
                (F.col("text_fp") == F.col("_own_fp"))
                & (F.col("doc_id") != F.col("_own_id")),
                "left_semi",
            )
            .select("doc_id", F.lit("exact_dup").alias("stage"))
        )
    rejects = inbatch if cross is None else inbatch.unionByName(cross)
    if admitted is not None:
        nd = (
            first.join(admitted.select("doc_id"), "doc_id", "left_anti")
            .join(rejects.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", F.lit("neardup").alias("stage"))
        )
        rejects = rejects.unionByName(nd)
    reason = F.lit(None).cast("string")
    for st, why in REJECT_REASONS.items():
        reason = F.when(F.col("stage") == st, F.lit(why)).otherwise(reason)
    rejects = rejects.select("doc_id", "stage", reason.alias("reason"))
    warehouse.insert_if_absent(
        REJECTS_TABLE, gate_rejects.unionByName(rejects)
    )


BAND_INDEX_TABLE = "band_index"
NEARDUP_HASHES = 16
NEARDUP_BAND_SIZE = 2
NEARDUP_SHINGLE_N = 5


def admit_neardup_batch(
    warehouse: MergeSink,
    kept: DataFrame,
    n: int = NEARDUP_SHINGLE_N,
    num_hashes: int = NEARDUP_HASHES,
    band_size: int = NEARDUP_BAND_SIZE,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-batch NEAR-dup admission for one micro-batch: returns the
    admitted docs and claims their LSH band keys in the persisted band
    index. The full retrieve-verify ladder, streaming: band collisions
    only PROPOSE candidates; every rejection requires an exact-Jaccard
    verification at ``threshold`` — collision-only admission would
    collapse a high-background-similarity corpus to a handful of
    survivors (measured: 5 of 1844 on the synthetic testdata).

    Semantics (set-at-a-time, deterministic, replay-idempotent):

    - Within the batch, VERIFIED near-dup pairs (band collision AND
      jaccard ≥ threshold) form components; each component collapses
      to its min-id representative — groups admit one member, and
      chains resolve without order-dependence.
    - A component any of whose members is a verified near-dup of a
      PREVIOUS admission (band-key hit on the index, then jaccard
      against the owner's text from the curated table) is dropped
      whole — its content is already represented in corpus history.
    - Representatives of surviving components are admitted and claim
      all their band keys via the same insert-if-absent sink the
      exact-dedup path uses.

    Crash/replay safety, both orders: if the curated write landed but
    the index claim didn't, the replayed component's foreign hits are
    absent, the rep is re-admitted (curated insert-if-absent no-ops)
    and the claim completes; if the claim landed first, the replayed
    component sees its OWN rep as the owner (owner == component id is
    exempt), so the rep re-admits and the curated write completes.

    Invariant (holds for ANY batch partitioning of the input): no two
    admitted docs are banding-detectable verified near-dups — later
    batches are vetoed through the index probe, same-batch pairs share
    a component. (Recall stays bounded by the banding, exactly as in
    ``dedup.minhash_verified_pairs``.)

    Scale notes: signatures and shingle sets come from the shuffle-free
    fused Arrow passes; the collision self-join is key-bounded (band
    buckets, never all-pairs); verification joins are bounded by the
    candidate count, and the historical side re-shingles only the HIT
    owners (a semi-join against the curated table), never the corpus.
    The index grows one row per admitted doc per band; at cluster
    scale it would be bucketed by ``band_khash`` so probe and claim
    co-locate — same code path.
    """
    # ONE fused Arrow pass (r14): signature and shingle set share the
    # md5 work and ONE lazy checkpoint — the r13 shape ran the
    # shingling twice (minhash_signatures + shingle_hash_sets) and
    # materialized two checkpoints per micro-batch. Band keys derive
    # lazily from the checkpointed pass (a projection + explode over
    # cached partitions — cheaper than a third materialization).
    combined = minhash_signature_sets(
        kept, n, num_hashes, "text", "doc_id"
    ).localCheckpoint(eager=False)
    keys = band_keys(combined.drop("_shset"), num_hashes, band_size)
    sets = combined.select("doc_id", "_shset")
    a = keys.alias("a")
    b = keys.alias("b")
    cand = (
        a.join(b, F.col("a.band_khash") == F.col("b.band_khash"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = _verify_candidate_sets(sets, cand, threshold, "doc_id").select(
        "doc_a", "doc_b"
    )
    comps = connected_components(pairs)
    comp_map = (
        kept.select("doc_id")
        .join(comps.withColumnRenamed("vertex", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
        .localCheckpoint(eager=False)
    )
    idx = warehouse.read(BAND_INDEX_TABLE)
    curated = warehouse.read(CURATED_TABLE)
    poisoned = None
    if idx is not None and curated is not None:
        hits = (
            keys.join(idx, "band_khash")
            .join(comp_map, "doc_id")
            .filter(F.col("owner_doc_id") != F.col("component"))
            .select("doc_id", "owner_doc_id")
            .distinct()
            .localCheckpoint(eager=False)
        )
        owner_docs = curated.select("doc_id", "text").join(
            hits.select(F.col("owner_doc_id").alias("doc_id")).distinct(),
            "doc_id",
        )
        owner_sets = shingle_hash_sets(owner_docs, n, "text", "doc_id")
        # batch docs and hit owners can share ids only on replay, where
        # their texts (hence sets) are identical — dropDuplicates picks
        # an arbitrary but equal row
        both = sets.unionByName(owner_sets).dropDuplicates(["doc_id"])
        vhits = _verify_candidate_sets(
            both,
            hits.select(
                F.col("doc_id").alias("doc_a"),
                F.col("owner_doc_id").alias("doc_b"),
            ),
            threshold,
            "doc_id",
        )
        poisoned = (
            vhits.select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .join(comp_map, "doc_id")
            .select("component")
            .distinct()
        )
    reps = comp_map.filter(F.col("doc_id") == F.col("component"))
    if poisoned is not None:
        reps = reps.join(poisoned, "component", "left_anti")
    admitted = kept.join(reps.select("doc_id"), "doc_id")
    warehouse.insert_if_absent(CURATED_TABLE, admitted)
    claims = keys.join(reps.select("doc_id"), "doc_id").select(
        "band_khash", F.col("doc_id").alias("owner_doc_id")
    )
    warehouse.insert_if_absent(BAND_INDEX_TABLE, claims)
    return admitted


SUBSTR_CURATED_TABLE = "substr_curated"
GRAM_INDEX_TABLE = "gram_index"
SUBSTR_SPAN_TOKENS = 15


def admit_span_batch(
    warehouse: MergeSink,
    batch: DataFrame,
    span_tokens: int = SUBSTR_SPAN_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-batch ExactSubstr admission for one micro-batch: CUT
    duplicated ≥``span_tokens`` token spans — against both this batch
    and all corpus history — store the cleaned docs, and claim the
    batch's gram ids in the persisted gram index. The streaming twin
    of ``dedup.remove_duplicate_spans`` (Lee et al. 2022), completing
    the cross-batch treatment every other dedup tier has
    (``admit_neardup_batch``, ``admit_embedding_batch``).

    Semantics (set-at-a-time, deterministic, replay-idempotent):

    - Within the batch: a gram occurring more than once keeps its
      canonical occurrence (min (doc_id, pos)), every other occurrence
      is cut — identical to the batch operator scoped to the batch.
    - Cross-batch: a gram already claimed in the index by an EARLIER
      batch is cut at every occurrence, canonical included — its span
      is already represented in corpus history. "First batch wins"
      replaces the batch operator's global min — the streaming
      sequential order is the canonical order.
    - Cleaned docs land via insert-if-absent on doc_id; then the
      batch claims ALL its gram ids (insert-if-absent on gh, carrying
      the batch-canonical owner) — earlier claims win, replays no-op.

    Crash/replay safety, both orders: cleaned docs write FIRST, so a
    crash before the claim replays with the same foreign set (own
    grams unclaimed) → identical cuts → doc insert no-ops → claims
    complete. If both landed, the replay sees its own grams in the
    index, but hits whose owner doc is IN the batch are exempt (their
    owner is this very replay), so cuts are again identical and both
    writes no-op.

    Scale notes: gram ids come from the O(text bytes) rolling-hash
    Arrow pass (``dedup.span_gram_occurrences``); the index probe and
    claim are keyed on the uniform ~2^60 combined hash — skew-free,
    and at cluster scale the index would be bucketed by gh so probe
    and claim co-locate. Nothing re-reads history except the keyed
    index join.

    Returns the cleaned batch relation
    (id, clean_text, n_tokens, n_removed).
    """
    from ..functions.text import tokens as _tokens
    from ..operators.dedup import (
        cut_spans_and_reassemble,
        span_gram_occurrences,
    )

    tk = batch.select(
        id_col, _tokens(F.col(text_col)).alias("_tk")
    ).localCheckpoint(eager=False)
    occ = span_gram_occurrences(tk, span_tokens, id_col).localCheckpoint(
        eager=False
    )
    stats = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_canon"),
    )
    idx = warehouse.read(GRAM_INDEX_TABLE)
    occs = occ.join(stats, "gh")
    if idx is not None:
        # claimed by an owner OUTSIDE this batch (own claims = replay)
        foreign = (
            idx.join(
                tk.select(F.col(id_col).alias("owner_doc_id")),
                "owner_doc_id",
                "left_anti",
            )
            .select("gh")
            .distinct()
            .withColumn("_foreign", F.lit(True))
        )
        occs = occs.join(foreign, "gh", "left")
    else:
        occs = occs.withColumn("_foreign", F.lit(False))
    cut = occs.filter(
        F.coalesce(F.col("_foreign"), F.lit(False))
        | (
            (F.col("_c") > 1)
            & ~(
                (F.col(id_col) == F.col(f"_canon.{id_col}"))
                & (F.col("pos") == F.col("_canon.pos"))
            )
        )
    )
    cleaned = cut_spans_and_reassemble(tk, cut, span_tokens, id_col)
    warehouse.insert_if_absent(SUBSTR_CURATED_TABLE, cleaned)
    claims = stats.select(
        "gh",
        F.col(f"_canon.{id_col}").alias("owner_doc_id"),
        F.col("_canon.pos").alias("owner_pos"),
    )
    warehouse.insert_if_absent(GRAM_INDEX_TABLE, claims)
    return cleaned


ADAPTIVE_CURATED_TABLE = "adaptive_curated"
ADAPTIVE_STATS_TABLE = "adaptive_stats"


def admit_adaptive_quality_batch(
    warehouse: MergeSink,
    batch_scored: DataFrame,
    drop_permille: int = 200,
    score_col: str = "quality_score",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-batch PER-GROUP adaptive quality admission for one
    micro-batch: a doc is kept iff its integer score clears its
    group's adaptive threshold computed over ALL scored docs seen so
    far (history + this batch) — the streaming twin of
    ``text_profile.adaptive_quality_keep`` (FineWeb-style per-dump
    thresholds that a fixed global cutoff cannot give).

    Semantics (sequential, non-retroactive, replay-idempotent):

    - threshold(group) = the smallest score value whose cumulative
      count exceeds n_drop = (n_total · drop_permille) div 1000 over
      the group's full observed score distribution; docs with
      score >= threshold are admitted. VALUE-thresholded — the whole
      boundary score survives — where the batch operator is
      rank-exact with id tie-breaks; ranking by id across history
      would mean re-sorting all of history every batch, and the
      boundary-score difference is immaterial at corpus scale
      (declared, tested);
    - already-admitted docs are never revisited when later batches
      move the threshold (admission doctrine);
    - EVERY scored doc (kept or dropped) joins the distribution —
      the threshold tracks what was observed, not what survived.

    State design (the 100 TB point): the stats table stores one row
    per (batch fingerprint, group, score) — the batch's AGGREGATED
    score histogram, not raw docs — so per-batch state grows by
    groups × distinct-scores rows and the threshold computation reads
    O(batches · groups · scores), never re-scanning corpus history.
    The batch fingerprint is the content-derived sum of xxhash64(id)
    (the DatasetBuilder _relation_fingerprint trick): a replayed
    batch maps to the SAME fingerprint, its claim no-ops on the
    compound key, and its own rows are exempted from the history read
    so the replay computes identical thresholds. Admitted docs write
    FIRST (keyed on id), then the histogram claim — both orders of a
    crash replay converge, as in every admission surface here.

    ``batch_scored``: (id, group, score, ...) — caller scores, so any
    scorer (heuristic, classifier, LM) plugs in. Returns the admitted
    rows of ``batch_scored``.
    """
    if not 0 <= drop_permille < 1000:
        raise ValueError(
            f"drop_permille ({drop_permille}) must be in [0, 1000)"
        )
    from pyspark.sql import Window

    batch_scored = batch_scored.localCheckpoint(eager=False)
    # single-row content fingerprint of the batch (no collect — a
    # 1-row broadcast attach, exact decimal sum like
    # corpus_pipeline._relation_fingerprint)
    fprel = batch_scored.agg(
        F.concat(
            F.count(F.lit(1)).cast("string"),
            F.lit(":"),
            F.coalesce(
                F.sum(F.xxhash64(F.col(id_col)).cast("decimal(38,0)"))
                .cast("string"),
                F.lit("0"),
            ),
        ).alias("batch_fp")
    )
    batch_counts = (
        batch_scored.groupBy(group_col, score_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(fprel))
    ).localCheckpoint(eager=False)
    hist = warehouse.read(ADAPTIVE_STATS_TABLE)
    if hist is not None:
        own = fprel.withColumnRenamed("batch_fp", "_own_fp")
        hist_counts = (
            hist.join(
                F.broadcast(own),
                F.col("batch_fp") == F.col("_own_fp"),
                "left_anti",
            )
            .select(group_col, score_col, "n")
        )
        all_counts = hist_counts.unionByName(
            batch_counts.select(group_col, score_col, "n")
        )
    else:
        all_counts = batch_counts.select(group_col, score_col, "n")
    dist = all_counts.groupBy(group_col, score_col).agg(
        F.sum("n").alias("n")
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(F.col(score_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(group_col)
    ranked = dist.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "tot", F.sum("n").over(w_tot)
    )
    thresholds = (
        ranked.filter(
            F.col("cum") > F.expr(f"(tot * {drop_permille}) div 1000")
        )
        .groupBy(group_col)
        .agg(F.min(score_col).alias("_threshold"))
    )
    admitted = (
        batch_scored.join(F.broadcast(thresholds), group_col)
        .filter(F.col(score_col) >= F.col("_threshold"))
        .drop("_threshold")
    )
    warehouse.insert_if_absent(ADAPTIVE_CURATED_TABLE, admitted)
    warehouse.insert_if_absent(ADAPTIVE_STATS_TABLE, batch_counts)
    return admitted


def adaptive_warehouse(
    spark: SparkSession,
    corpus_root: str,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
    group_col: str = "source",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> MergeSink:
    """The adaptive-quality admission state: admitted docs keyed on
    the id, per-batch score histograms keyed on (batch fingerprint,
    group, score) — column names must match what
    ``admit_adaptive_quality_batch`` is called with."""
    return make_sink(
        spark,
        corpus_root,
        keys={
            ADAPTIVE_CURATED_TABLE: [id_col],
            ADAPTIVE_STATS_TABLE: ["batch_fp", group_col, score_col],
        },
        backend=backend,
        auto_compact_segments=resolve_auto_compact(
            backend, auto_compact_segments
        ),
        **(sink_kwargs or {}),
    )


def stream_curate_adaptive(
    spark: SparkSession,
    docs_dir: str,
    corpus_root: str,
    checkpoint_dir: str,
    drop_permille: int = 200,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
    expire_claims_every: int | None = None,
    expire_keep_snapshots: int = 64,
) -> StreamingQuery:
    """Per-source adaptive quality admission as a streaming pipeline:
    each micro-batch is scored (heuristic quality), admitted against
    its source's cumulative value threshold via
    ``admit_adaptive_quality_batch``, and recorded in histogram
    state. State is plain warehouse tables, replays are no-ops.
    ``expire_claims_every``/``expire_keep_snapshots``: periodic TTL
    on the histogram STATS table — the cumulative distribution then
    covers only the horizon (a sliding-window threshold instead of
    all-time, the FineWeb per-dump framing in time rather than dump
    units)."""
    from ..operators.text_profile import quality_scores

    warehouse = adaptive_warehouse(
        spark, corpus_root, backend, auto_compact_segments,
        sink_kwargs=sink_kwargs,
    )
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(docs_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        scored = (
            quality_scores(batch)
            .select("doc_id", "quality_score")
            .join(batch.select("doc_id", "source"), "doc_id")
        )
        admit_adaptive_quality_batch(
            warehouse, scored, drop_permille=drop_permille
        )
        if (
            expire_claims_every
            and batch_id > 0
            and batch_id % expire_claims_every == 0
        ):
            expire_claims(
                warehouse, ADAPTIVE_STATS_TABLE, expire_keep_snapshots
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


LINES_CURATED_TABLE = "lines_curated"
LINE_INDEX_TABLE = "line_index"


def admit_lines_batch(
    warehouse: MergeSink,
    batch: DataFrame,
    min_docs: int = 2,
    segmenter: str = "lines",
    words_per_segment: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-batch LINE-LEVEL boilerplate removal for one micro-batch:
    cut every segment whose cumulative distinct-doc count — corpus
    history plus this batch — reaches ``min_docs``, store the cleaned
    docs, and claim the batch's (segment fingerprint, doc) pairs in
    the persisted line index. The streaming twin of
    ``dedup.line_dedup``, completing the admission family
    (``admit_neardup_batch`` / ``admit_span_batch`` /
    ``admit_embedding_batch``).

    Semantics (sequential, non-retroactive, replay-idempotent):

    - a segment is boilerplate AT ADMISSION TIME iff distinct docs
      carrying it in batches 0..B (B = this batch) >= ``min_docs`` —
      earlier-admitted docs keep their stored text even if their
      segments later turn boilerplate (the admission doctrine: a
      decision is made once, when the doc enters the corpus);
    - the index stores one row per (fp, owner doc) — insert-if-absent
      on the compound key, so counts never inflate across replays or
      re-sent docs;
    - cleaned docs write FIRST, then claims: a replay after both
      writes sees its own claims, but claims whose owner is IN the
      batch are exempted from the history count, so cuts are
      identical and both writes no-op (the admit_span_batch replay
      argument, verbatim).

    Plan shape: the history probe is a keyed join on the uniform
    60-bit fingerprint (semi-join scoped to the batch's fingerprints
    — nothing re-reads history beyond the keyed probe); at cluster
    scale the index would be bucketed by fp so probe and claim
    co-locate.

    Returns the cleaned batch relation
    (id, clean_text, n_segments, n_removed).
    """
    from ..functions.text import md5_long
    from ..operators.dedup import (
        reassemble_kept_segments,
        segment_documents,
    )

    sep = "\n" if segmenter == "lines" else " "
    segs = (
        segment_documents(batch, text_col, id_col, segmenter, words_per_segment)
        .withColumn("_fp", md5_long(F.col("seg")))
        .localCheckpoint(eager=False)
    )
    fp_docs = segs.select("_fp", id_col).distinct().localCheckpoint(
        eager=False
    )
    batch_n = fp_docs.groupBy("_fp").agg(F.count(F.lit(1)).alias("_bn"))
    idx = warehouse.read(LINE_INDEX_TABLE)
    if idx is not None:
        batch_ids = batch.select(
            F.col(id_col).alias("owner_doc_id")
        ).distinct()
        hist = (
            idx.withColumnRenamed("fp", "_fp")
            # own claims = replay artifacts; exempt them so a replay
            # counts exactly what the original run counted
            .join(batch_ids, "owner_doc_id", "left_anti")
            .join(batch_n.select("_fp"), "_fp", "left_semi")
            .groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_hn"))
        )
        totals = batch_n.join(hist, "_fp", "left").select(
            "_fp",
            (F.col("_bn") + F.coalesce("_hn", F.lit(0))).alias("_tot"),
        )
    else:
        totals = batch_n.select("_fp", F.col("_bn").alias("_tot"))
    boiler = totals.filter(F.col("_tot") >= min_docs).select("_fp")
    kept = segs.join(boiler, "_fp", "left_anti")
    cleaned = reassemble_kept_segments(
        batch.select(id_col), segs, kept, sep, id_col
    )
    warehouse.insert_if_absent(LINES_CURATED_TABLE, cleaned)
    claims = fp_docs.select(
        F.col("_fp").alias("fp"), F.col(id_col).alias("owner_doc_id")
    )
    warehouse.insert_if_absent(LINE_INDEX_TABLE, claims)
    return cleaned


def lines_warehouse(
    spark: SparkSession,
    corpus_root: str,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
) -> MergeSink:
    """The line-dedup admission state: cleaned docs keyed on doc_id,
    line claims keyed on (fingerprint, owner doc)."""
    return make_sink(
        spark,
        corpus_root,
        keys={
            LINES_CURATED_TABLE: ["doc_id"],
            LINE_INDEX_TABLE: ["fp", "owner_doc_id"],
        },
        backend=backend,
        auto_compact_segments=resolve_auto_compact(
            backend, auto_compact_segments
        ),
        **(sink_kwargs or {}),
    )


def stream_curate_lines(
    spark: SparkSession,
    docs_dir: str,
    corpus_root: str,
    checkpoint_dir: str,
    min_docs: int = 2,
    segmenter: str = "lines",
    words_per_segment: int = 8,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
    expire_claims_every: int | None = None,
    expire_keep_snapshots: int = 64,
) -> StreamingQuery:
    """Line-level boilerplate removal as a streaming pipeline: each
    micro-batch cuts segments that reached ``min_docs`` distinct docs
    across itself and all corpus history via ``admit_lines_batch``.
    State is plain warehouse tables (cleaned docs + line index) — no
    streaming state store, replays are no-ops.

    ``expire_claims_every=N`` runs the claim-table TTL
    (``expire_claims``, keeping the newest ``expire_keep_snapshots``
    snapshots of the LINE INDEX) every N micro-batches — the bounded-
    state configuration for an unbounded stream, with the documented
    below-horizon recall trade. The CURATED table is never expired
    (that would delete admitted documents, not dedup state)."""
    warehouse = lines_warehouse(
        spark, corpus_root, backend, auto_compact_segments,
        sink_kwargs=sink_kwargs,
    )
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(docs_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        admit_lines_batch(
            warehouse, batch, min_docs, segmenter, words_per_segment
        )
        if (
            expire_claims_every
            and batch_id > 0
            and batch_id % expire_claims_every == 0
        ):
            expire_claims(
                warehouse, LINE_INDEX_TABLE, expire_keep_snapshots
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def substr_warehouse(
    spark: SparkSession,
    corpus_root: str,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
) -> MergeSink:
    """The ExactSubstr admission state: cleaned docs keyed on doc_id,
    gram claims keyed on the combined rolling hash."""
    return make_sink(
        spark,
        corpus_root,
        keys={
            SUBSTR_CURATED_TABLE: ["doc_id"],
            GRAM_INDEX_TABLE: ["gh"],
        },
        backend=backend,
        auto_compact_segments=resolve_auto_compact(
            backend, auto_compact_segments
        ),
        **(sink_kwargs or {}),
    )


def stream_curate_substr(
    spark: SparkSession,
    docs_dir: str,
    corpus_root: str,
    checkpoint_dir: str,
    span_tokens: int = SUBSTR_SPAN_TOKENS,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
    expire_claims_every: int | None = None,
    expire_keep_snapshots: int = 64,
) -> StreamingQuery:
    """ExactSubstr span removal as a streaming pipeline: each
    micro-batch cuts duplicated spans against itself and all corpus
    history via ``admit_span_batch``. State is plain warehouse tables
    (cleaned docs + gram index) — no streaming state store, replays
    are no-ops. ``auto_compact_segments``: see ``stream_curate``;
    ``expire_claims_every``/``expire_keep_snapshots``: periodic TTL
    on the GRAM index (see ``stream_curate_lines`` — a span whose
    only occurrences predate the horizon is treated as novel
    again)."""
    warehouse = substr_warehouse(
        spark, corpus_root, backend, auto_compact_segments,
        sink_kwargs=sink_kwargs,
    )
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(docs_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        admit_span_batch(warehouse, batch, span_tokens)
        if (
            expire_claims_every
            and batch_id > 0
            and batch_id % expire_claims_every == 0
        ):
            expire_claims(
                warehouse, GRAM_INDEX_TABLE, expire_keep_snapshots
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_curate_neardup(
    spark: SparkSession,
    docs_dir: str,
    corpus_root: str,
    checkpoint_dir: str,
    eval_docs: DataFrame,
    quality_min: int = QUALITY_MIN,
    min_overlap: int = 10,
    n: int = NEARDUP_SHINGLE_N,
    num_hashes: int = NEARDUP_HASHES,
    band_size: int = NEARDUP_BAND_SIZE,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    redact_pii: bool = False,
    min_classifier_score: int | None = None,
    backend: str = "manifest",
    lm_docs: DataFrame | None = None,
    max_fluency_invp: int | None = None,
    auto_compact_segments: int | None | str = "auto",
    unicode_normalize: bool = False,
    sink_kwargs: dict | None = None,
    lm_counts: "DataFrame | str | None" = None,
    expire_claims_every: int | None = None,
    expire_keep_snapshots: int = 64,
    audit_rejects: bool = False,
) -> StreamingQuery:
    """``stream_curate`` upgraded from exact to NEAR-dup cross-batch
    dedup: the same stateless gates per batch (including the optional
    static-LM fluency gate — see ``stream_curate``), then MinHash band
    admission against a persisted band index (see
    ``admit_neardup_batch``). State remains plain warehouse tables —
    no streaming state store, replays are no-ops. ``backend`` selects
    the insert-if-absent sink implementation (operators.sinks);
    ``sink_kwargs`` forwards extra ``make_sink`` options
    (``tier_factor``, ``stats_cols``...). ``audit_rejects`` persists (doc_id, stage,
    reason) for every cut doc — gate cuts, exact dups, AND near-dup
    vetoes — into ``curation_rejects`` (see ``stream_curate``)."""
    warehouse = make_sink(
        spark,
        corpus_root,
        # composite index key: verified admission lets two admitted docs
        # legitimately share a band key, so claims must not first-wins
        # collapse on the key alone
        keys={
            CURATED_TABLE: ["text_fp"],
            BAND_INDEX_TABLE: ["band_khash", "owner_doc_id"],
            REJECTS_TABLE: ["doc_id"],
        },
        backend=backend,
        auto_compact_segments=resolve_auto_compact(
            backend, auto_compact_segments
        ),
        **(sink_kwargs or {}),
    )
    eval_state = broadcast_eval_grams(eval_docs)
    if max_fluency_invp is not None:
        if lm_counts is None and lm_docs is None:
            raise ValueError(
                "max_fluency_invp needs lm_docs or lm_counts"
            )
        if isinstance(lm_counts, str):
            from ..operators.artifacts import load_lm_counts

            lm_counts = load_lm_counts(spark, lm_counts)
        if lm_counts is None:
            from ..operators.text_profile import bigram_lm_counts

            lm_counts = bigram_lm_counts(lm_docs)
        lm_counts = lm_counts.localCheckpoint(eager=True)
    else:
        lm_counts = None
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(docs_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        kept = curate_batch(
            batch,
            quality_min=quality_min,
            eval_state=eval_state,
            min_overlap=min_overlap,
            redact_pii=redact_pii,
            min_classifier_score=min_classifier_score,
            lm_counts=lm_counts,
            max_fluency_invp=max_fluency_invp,
            unicode_normalize=unicode_normalize,
        )
        from pyspark.sql import Window

        w = Window.partitionBy("text_fp").orderBy("doc_id")
        first = (
            kept.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=False)
        )
        admitted = admit_neardup_batch(
            warehouse, first, n, num_hashes, band_size
        )
        if audit_rejects:
            gate_rejects = curation_rejects(
                batch,
                quality_min=quality_min,
                eval_state=eval_state,
                min_overlap=min_overlap,
                redact_pii=redact_pii,
                min_classifier_score=min_classifier_score,
                lm_counts=lm_counts,
                max_fluency_invp=max_fluency_invp,
                unicode_normalize=unicode_normalize,
            )
            _record_dedup_rejects(
                warehouse,
                kept,
                first,
                gate_rejects,
                admitted=admitted.localCheckpoint(eager=False),
            )
        if (
            expire_claims_every
            and batch_id > 0
            and batch_id % expire_claims_every == 0
        ):
            expire_claims(
                warehouse, BAND_INDEX_TABLE, expire_keep_snapshots
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def expire_claims(
    warehouse: MergeSink,
    table: str,
    keep_snapshots: int,
    target_partitions: int = 1,
) -> int | None:
    """Retention/TTL for an admission CLAIM table (``band_index`` /
    ``gram_index`` / ``line_index`` / ``adaptive_stats``): rewrite the
    table keeping only rows first-admitted within the newest
    ``keep_snapshots`` snapshots, so an unbounded stream has a BOUNDED
    state story — without it the (fp, owner) claim relations grow one
    row per claimed key forever by design.

    The trade is RECALL BELOW THE HORIZON, stated plainly: a claim
    that ages out is forgotten, so a segment/gram/band whose only
    occurrences predate the horizon counts from zero again — e.g. a
    boilerplate line last seen ``keep_snapshots`` batches ago must
    re-accumulate ``min_docs`` sightings before it is cut again.
    INSIDE the horizon nothing changes: recent claims keep their
    owners, replays of recent batches still no-op, and cumulative
    counts over surviving claims are identical (asserted by tests).
    This is exactly the windowed-state semantics every production
    streaming dedup runs with (a watermark over admission time,
    expressed here in snapshot units — the sink's native clock).

    Run it on an operator schedule (every N batches); it composes
    with auto-compaction (both are ``compact`` commits under OCC).
    Only apply it to claim/index tables — expiring a CURATED table
    would delete admitted documents, not just dedup state.

    Returns the new snapshot id, or None when the table has too few
    snapshots (or too few live segments) to expire anything.
    """
    if keep_snapshots < 1:
        raise ValueError(
            f"keep_snapshots must be >= 1, got {keep_snapshots}"
        )
    snaps = warehouse.snapshots(table)
    if len(snaps) <= keep_snapshots:
        return None
    horizon = snaps[-(keep_snapshots + 1)]
    return warehouse.compact(
        table,
        target_partitions=target_partitions,
        expire_below=horizon,
        delete_covered=False,
    )


REJECTS_TABLE = "curation_rejects"

# stage -> human reason, shared with the oracle SQL generator so the
# audit relation and its DuckDB twin cannot drift
REJECT_REASONS: dict[str, str] = {
    "c4": "failed C4 document gates",
    "lang": "predicted language != recorded",
    "quality": "quality_score below minimum",
    "repetition": "dup-token/top-bigram fraction above bound",
    "gopher": "failed Gopher document rules",
    "classifier": "hashed classifier score below minimum",
    "fluency": "LM surprisal above bound",
    "decontaminate": "shares too many n-grams with the eval set",
    "eval_member": "document is in the evaluation set",
    "exact_dup": "exact duplicate of an admitted document",
    "neardup": "verified near-dup of an admitted document",
}


def curation_rejects(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    quality_min: int = QUALITY_MIN,
    eval_state=None,
    min_overlap: int = 10,
    max_dup_token_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    redact_pii: bool = False,
    min_classifier_score: int | None = None,
    lm_counts: "DataFrame | None" = None,
    max_fluency_invp: int | None = None,
    unicode_normalize: bool = False,
    gopher_kwargs: dict | None = None,
    c4_kwargs: dict | None = None,
    intradoc_kwargs: dict | None = None,
) -> DataFrame:
    """The funnel's REJECTION AUDIT: (doc_id, stage, reason) for every
    doc that ``curate_batch`` — called with the SAME arguments — cuts,
    attributed to the FIRST gate that failed it, in the exact order
    the gates apply (c4 → lang → quality → repetition → gopher →
    classifier → fluency → decontaminate → eval_member). Together with
    ``curate_batch``'s survivors this partitions the batch: every doc
    is either kept or has exactly one audit row (asserted by tests and
    the ``corpus_rejection_audit`` oracle row), which is what makes
    "why was doc X cut" answerable after the fact — the governance
    record a training-data pipeline owes its takedown/audit process.

    Rewrites (PII redaction, Unicode normalization, C4 line
    corrections, intra-doc repair) are applied exactly as in
    ``curate_batch`` before any signal, so the audited signals see the
    same text the funnel scored. Plan shape: the per-row gates remain
    fused column expressions over one scan (curation_flags); each
    OPTIONAL gate joins its signal relation exactly as curate_batch
    does — the audit costs one extra labeled projection, not a second
    funnel."""
    if redact_pii:
        from ..operators.pii import redact

        docs = docs.withColumn("text", redact("text"))
    if unicode_normalize:
        from ..operators.text_profile import with_unicode_normalized_text

        docs = with_unicode_normalized_text(docs)
    c4_rejects = None
    if c4_kwargs is not None:
        from ..operators.text_profile import c4_clean

        c4 = c4_clean(docs, **c4_kwargs)
        c4_rejects = c4.filter(~F.col("c4_ok")).select("doc_id")
        docs = docs.drop("text").join(
            c4.filter(F.col("c4_ok")).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
    if intradoc_kwargs is not None:
        from ..operators.dedup import intradoc_dedup

        repaired = intradoc_dedup(docs, **intradoc_kwargs)
        docs = docs.drop("text").join(
            repaired.select("doc_id", F.col("clean_text").alias("text")),
            "doc_id",
        )
    flags = curation_flags(docs)
    sig = docs.select("doc_id").join(flags, "doc_id")
    # optional signal relations join as boolean "failed" columns, each
    # mirroring curate_batch's keep-condition negated
    def _flag(col_df: DataFrame, name: str) -> None:
        nonlocal sig
        sig = sig.join(col_df, "doc_id", "left")
        sig = sig.withColumn(
            name, F.coalesce(F.col(name), F.lit(False))
        )

    if max_dup_token_frac is not None or max_top_bigram_frac is not None:
        from ..operators.text_profile import repetition_stats

        rep = repetition_stats(docs)
        bad = F.lit(False)
        if max_dup_token_frac is not None:
            bad = bad | (F.col("dup_token_frac") > max_dup_token_frac)
        if max_top_bigram_frac is not None:
            bad = bad | (F.col("top_bigram_frac") > max_top_bigram_frac)
        _flag(rep.select("doc_id", bad.alias("_rep_bad")), "_rep_bad")
    else:
        sig = sig.withColumn("_rep_bad", F.lit(False))
    if gopher_kwargs is not None:
        from ..operators.text_profile import gopher_gates

        g = gopher_gates(docs, **gopher_kwargs)
        _flag(
            g.select("doc_id", (~F.col("gopher_ok")).alias("_gopher_bad")),
            "_gopher_bad",
        )
    else:
        sig = sig.withColumn("_gopher_bad", F.lit(False))
    if min_classifier_score is not None:
        from ..operators.classify import hashed_linear_score

        s = hashed_linear_score(docs)
        _flag(
            s.select(
                "doc_id",
                (F.col("score_sum") < min_classifier_score).alias(
                    "_cls_bad"
                ),
            ),
            "_cls_bad",
        )
    else:
        sig = sig.withColumn("_cls_bad", F.lit(False))
    if max_fluency_invp is not None:
        if lm_counts is None:
            raise ValueError(
                "max_fluency_invp needs lm_counts (see curate_batch)"
            )
        from ..operators.text_profile import lm_surprisal_stats

        flu = lm_surprisal_stats(docs, lm_counts=lm_counts)
        _flag(
            flu.select(
                "doc_id",
                (
                    (F.col("n_bigrams") > 0)
                    & (F.col("mean_invp_scaled") > max_fluency_invp)
                ).alias("_flu_bad"),
            ),
            "_flu_bad",
        )
    else:
        sig = sig.withColumn("_flu_bad", F.lit(False))
    decont = ngram_decontaminate(
        docs, eval_docs, eval_state=eval_state, min_overlap=min_overlap
    ).select("doc_id", "contaminated", "is_eval")
    sig = sig.join(decont, "doc_id")
    stage = (
        F.when(~F.col("lang_ok"), F.lit("lang"))
        .when(F.col("quality_score") < quality_min, F.lit("quality"))
        .when(F.col("_rep_bad"), F.lit("repetition"))
        .when(F.col("_gopher_bad"), F.lit("gopher"))
        .when(F.col("_cls_bad"), F.lit("classifier"))
        .when(F.col("_flu_bad"), F.lit("fluency"))
        .when(F.col("contaminated"), F.lit("decontaminate"))
        .when(F.col("is_eval"), F.lit("eval_member"))
    )
    rejects = (
        sig.withColumn("stage", stage)
        .filter(F.col("stage").isNotNull())
        .select("doc_id", "stage")
    )
    if c4_rejects is not None:
        rejects = c4_rejects.select(
            "doc_id", F.lit("c4").alias("stage")
        ).unionByName(rejects)
    reason = F.lit(None).cast("string")
    for st, why in REJECT_REASONS.items():
        reason = F.when(F.col("stage") == st, F.lit(why)).otherwise(reason)
    return rejects.select("doc_id", "stage", reason.alias("reason"))


# Every admission-state table a corpus root can hold, mapped to the
# column a doc-keyed TAKEDOWN matches on. Curated/cleaned tables hold
# the document rows themselves; the claim/index tables hold the doc's
# dedup state, which must go WITH it — a deleted doc must neither veto
# future admissions (its band/gram/line claims) nor keep serving as a
# dedup owner. ``adaptive_stats`` is deliberately ABSENT: its rows are
# per-batch score HISTOGRAMS (no per-doc row exists to delete); a
# takedown therefore leaves the historical quality thresholds
# unchanged, which is the statistically correct reading — the doc was
# observed — and is bounded anyway by the table's TTL.
TAKEDOWN_TABLES: dict[str, str] = {
    CURATED_TABLE: "doc_id",
    # the quarantine record is personal data too: right-to-be-
    # forgotten cascades to the rejection audit rows
    REJECTS_TABLE: "doc_id",
    BAND_INDEX_TABLE: "owner_doc_id",
    SUBSTR_CURATED_TABLE: "doc_id",
    GRAM_INDEX_TABLE: "owner_doc_id",
    LINES_CURATED_TABLE: "doc_id",
    LINE_INDEX_TABLE: "owner_doc_id",
    ADAPTIVE_CURATED_TABLE: "doc_id",
}


def takedown(
    warehouse: MergeSink,
    ids: DataFrame,
    id_col: str = "doc_id",
    mode: str = "rewrite",
) -> dict[str, object]:
    """Cascaded key-targeted delete (right-to-be-forgotten) across
    every admission surface under one corpus root: remove the given
    doc ids from the curated/cleaned tables AND from every claim/index
    table that references them as owner (``TAKEDOWN_TABLES``), via the
    backend's ``delete_keys``. After a takedown the corpus behaves as
    if the doc never entered: it is absent from every read (manifest
    backend: from every SNAPSHOT — redaction-from-all-history,
    declared in ``ManifestParquetSink.delete_keys``), it no longer
    vetoes near-dup/substr/line admissions, and a re-sent copy of the
    same content is re-admittable. Replays are no-ops (a second
    takedown of the same ids matches nothing and commits nothing).

    Streaming ANN/PQ indexes live under their own roots — cascade
    those with ``streaming.ann_index.takedown_vectors``.

    ``mode`` (manifest backend only): ``"rewrite"`` (default —
    redaction from all snapshots, O(table) rewrite per table) or
    ``"tombstone"`` (O(keys) deletion-vector commits; physical
    redaction deferred to ``compact(materialize_deletes=True)`` —
    see ManifestParquetSink.delete_keys).

    Returns {table: backend delete result} for the tables that existed
    (manifest: new snapshot id or None; parquet: bool).
    """
    from ..operators.sinks import ManifestParquetSink

    kwargs: dict[str, object] = {}
    if isinstance(warehouse, ManifestParquetSink):
        kwargs["mode"] = mode
    elif mode != "rewrite":
        raise ValueError(
            "tombstone-mode takedown needs the manifest backend "
            f"(got {type(warehouse).__name__})"
        )
    results: dict[str, object] = {}
    for tbl, col in TAKEDOWN_TABLES.items():
        if warehouse.read(tbl) is None:
            continue
        keys = ids.select(F.col(id_col).alias(col))
        results[tbl] = warehouse.delete_keys(
            tbl, keys, on=[col], **kwargs
        )
    return results


# Intent log for the crash-atomic cascade (takedown_with_intent):
# one row per (takedown id, doc id) committed BEFORE any delete, one
# done-marker row per completed cascade. Underscore prefix: internal
# bookkeeping tables, not corpus surfaces.
TAKEDOWN_INTENTS_TABLE = "_takedown_intents"
TAKEDOWN_DONE_TABLE = "_takedown_done"


def _takedown_id_of(ids: DataFrame, id_col: str) -> str:
    """Deterministic takedown id: md5 over the sorted distinct key
    set — the same request (replayed, or re-derived from the same
    ids) maps to the same intent row. One-row aggregate; takedown
    requests are human-scale key lists, never corpus-scale."""
    return (
        ids.select(F.col(id_col).cast("string").alias("k"))
        .distinct()
        .agg(
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list("k"))))
            .alias("tid")
        )
        .first()["tid"]
    )


def _run_cascade(
    warehouse: MergeSink,
    ids: DataFrame,
    id_col: str,
    mode: str,
    ann_index_root: str | None,
) -> dict[str, object]:
    """The cascade body shared by ``takedown_with_intent`` and
    ``heal_takedowns``: corpus admission surfaces first, then the
    persisted ANN/PQ indexes under ``ann_index_root`` (vec ids ==
    doc ids in the pipeline wiring). Every per-table delete is an
    idempotent replay-no-op, so re-running a partially-completed
    cascade converges."""
    results = takedown(warehouse, ids, id_col=id_col, mode=mode)
    if ann_index_root:
        from .ann_index import takedown_vectors

        ann = takedown_vectors(
            warehouse.spark,
            ann_index_root,
            ids.select(F.col(id_col).alias("vec_id")),
            id_col="vec_id",
        )
        results.update({f"ann:{t}": v for t, v in ann.items()})
    return results


def takedown_with_intent(
    warehouse: MergeSink,
    ids: DataFrame,
    id_col: str = "doc_id",
    mode: str = "rewrite",
    ann_index_root: str | None = None,
) -> dict[str, object]:
    """``takedown`` with a CRASH-ATOMIC completion contract. The
    plain cascade is a loop of independent per-table commits: a crash
    mid-loop leaves the doc still serving as an ANN neighbor / dedup
    owner, and nothing records that the sweep is half done. Here:

    1. the INTENT — one row per (takedown_id, doc id), plus the mode
       and the ANN root — commits insert-if-absent FIRST (one
       crash-atomic manifest commit);
    2. the cascade runs (every per-table delete replays as a no-op);
    3. the DONE marker commits last.

    A crash at any point leaves the system healable: the intent rows
    survive, ``outstanding_takedowns`` reports the gap, and
    ``heal_takedowns`` re-runs the cascade from the recorded keys and
    marks it done — idempotent, any number of times. A REPLAYED
    request (same key set -> same deterministic takedown id) whose
    done marker exists skips the cascade entirely.

    Manifest backend only: the intent/done commits themselves must be
    crash-atomic. Returns the per-table results plus ``takedown_id``
    and ``replayed``."""
    from ..operators.sinks import ManifestParquetSink

    if not isinstance(warehouse, ManifestParquetSink):
        raise ValueError(
            "takedown_with_intent needs the manifest backend (the "
            "intent log must commit crash-atomically); got "
            f"{type(warehouse).__name__} — use plain takedown()"
        )
    warehouse.keys.setdefault(
        TAKEDOWN_INTENTS_TABLE, ["takedown_id", "doc_id"]
    )
    warehouse.keys.setdefault(TAKEDOWN_DONE_TABLE, ["takedown_id"])
    tid = _takedown_id_of(ids, id_col)
    done = warehouse.read(TAKEDOWN_DONE_TABLE)
    if done is not None and not done.filter(
        F.col("takedown_id") == tid
    ).isEmpty():
        return {"takedown_id": tid, "replayed": True}
    intent = ids.select(
        F.lit(tid).alias("takedown_id"),
        F.col(id_col).alias("doc_id"),
        F.lit(mode).alias("mode"),
        F.lit(ann_index_root).cast("string").alias("ann_index_root"),
    ).dropDuplicates(["doc_id"])
    warehouse.insert_if_absent(TAKEDOWN_INTENTS_TABLE, intent)
    results = _run_cascade(warehouse, ids, id_col, mode, ann_index_root)
    warehouse.insert_if_absent(
        TAKEDOWN_DONE_TABLE,
        warehouse.spark.createDataFrame([(tid,)], "takedown_id string"),
    )
    results["takedown_id"] = tid
    results["replayed"] = False
    return results


def outstanding_takedowns(warehouse: MergeSink) -> DataFrame | None:
    """Intents whose cascade has not recorded completion — the
    monitor's takedown-debt surface. One row per outstanding intent:
    (takedown_id, mode, ann_index_root, n_keys). None when the
    intent log does not exist; empty when every cascade completed."""
    intents = warehouse.read(TAKEDOWN_INTENTS_TABLE)
    if intents is None:
        return None
    done = warehouse.read(TAKEDOWN_DONE_TABLE)
    if done is not None:
        intents = intents.join(
            done.select("takedown_id"), "takedown_id", "left_anti"
        )
    return intents.groupBy(
        "takedown_id", "mode", "ann_index_root"
    ).agg(F.count(F.lit(1)).alias("n_keys"))


def heal_takedowns(warehouse: MergeSink) -> dict[str, dict]:
    """Finish every outstanding takedown intent: re-run its cascade
    from the recorded keys (each per-table delete is a replay-safe
    no-op where the earlier attempt already got through) and commit
    the done marker. Idempotent — run it at recovery, on a schedule,
    or before compliance audits. Returns {takedown_id: results}."""
    warehouse.keys.setdefault(TAKEDOWN_DONE_TABLE, ["takedown_id"])
    out = outstanding_takedowns(warehouse)
    if out is None:
        return {}
    healed: dict[str, dict] = {}
    intents = warehouse.read(TAKEDOWN_INTENTS_TABLE)
    for row in out.collect():  # metadata-scale: one row per intent
        keys = intents.filter(
            F.col("takedown_id") == row.takedown_id
        ).select("doc_id")
        healed[row.takedown_id] = _run_cascade(
            warehouse, keys, "doc_id", row.mode, row.ann_index_root
        )
        warehouse.insert_if_absent(
            TAKEDOWN_DONE_TABLE,
            warehouse.spark.createDataFrame(
                [(row.takedown_id,)], "takedown_id string"
            ),
        )
    return healed
