"""``CorpusPipeline`` — the user-facing façade for the training-data
side of the engine, the corpus twin of ``MetroWarehouse``.

The reference has no corpus tooling at all (its surface is the retail
ETL, src/Meshjoin.java); this façade composes the brief-extension
operator families — curation gates, decontamination, the dedup
ladder, chunking, packing, budgeting, mixing — into the end-to-end
prep flow an LLM-data pipeline runs, in either batch or streaming
form. Every method delegates to the tested building blocks
(``operators.*``, ``streaming.corpus``) — the façade adds no
semantics of its own.

Typical session::

    cp = CorpusPipeline(spark, "/data/corpus")
    kept = cp.curate(docs, eval_docs)          # gates + leak guard
    kept = cp.dedup(kept)                      # near-dup keepers
    cp.ingest(kept)                            # idempotent table
    chunks = cp.chunk(cp.table())              # context windows
    plan = cp.pack(chunks)                     # fixed-capacity bins
    q = cp.run_stream(docs_dir, ckpt, eval_docs)  # streaming twin
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .operators import dedup as _dedup
from .operators import packing as _packing
from .operators import text_profile as _text
from .operators import artifacts as _artifacts
from .operators.bpe import merges_fingerprint as _bpe_fingerprint
from .operators.sinks import make_sink
from .streaming.corpus import (
    CURATED_TABLE,
    QUALITY_MIN,
    curate_batch,
    stream_curate_neardup,
)


class CorpusPipeline:
    """Batch + streaming corpus curation over one idempotent
    manifest-backed corpus table (fingerprint-keyed insert-if-absent,
    same replay semantics as the warehouse fact sink)."""

    def __init__(
        self, spark: SparkSession, corpus_root: str,
        backend: str = "manifest",
        auto_compact_segments: int | None = None,
    ) -> None:
        self.spark = spark
        self.root = corpus_root
        self.backend = backend
        self.auto_compact_segments = auto_compact_segments
        self.warehouse = make_sink(
            spark, corpus_root, keys={CURATED_TABLE: ["text_fp"]},
            backend=backend,
            auto_compact_segments=auto_compact_segments,
        )

    # -- batch ----------------------------------------------------------
    def curate(
        self,
        docs: DataFrame,
        eval_docs: DataFrame,
        quality_min: int = QUALITY_MIN,
        min_overlap: int = 10,
        max_dup_token_frac: float | None = None,
        max_top_bigram_frac: float | None = None,
        redact_pii: bool = False,
        min_classifier_score: int | None = None,
        unicode_normalize: bool = False,
    ) -> DataFrame:
        """Language + quality gates, n-gram decontamination, and the
        optional Gopher-style repetition cuts, PII redaction (scrubs
        before any fingerprint/signal), hashed-classifier cut, and
        opt-in CCNet-style Unicode normalization (canonicalizes text
        before every fingerprint/signal — see curate_batch)."""
        return curate_batch(
            docs,
            eval_docs,
            quality_min=quality_min,
            min_overlap=min_overlap,
            max_dup_token_frac=max_dup_token_frac,
            max_top_bigram_frac=max_top_bigram_frac,
            redact_pii=redact_pii,
            min_classifier_score=min_classifier_score,
            unicode_normalize=unicode_normalize,
        )

    def dedup(
        self,
        docs: DataFrame,
        threshold: float = 0.5,
        method: str = "ladder",
        semantic_cells: int = 8,
        keeper_score: str | None = None,
    ) -> DataFrame:
        """Keep one representative per near-dup group (pairs →
        connected components → keeper). The keeper is the min id by
        default; pass ``keeper_score=<column>`` to keep each group's
        highest-scoring member instead (ties → min id) — the
        "keep the best copy" policy (longest text, classifier score;
        ``neardup_keepers_by_score``). Applies to the pair-based
        methods; ``"semantic"`` keeps its own farthest-from-centroid
        rule. ``method``:

        - ``"ladder"`` (default): ``minhash_verified_pairs`` (128
          hashes, 32×4 bands, exact verification) — the 100 TB path
          and therefore the default a naive caller gets; recall
          bounded by the banding (P(detect | J=0.5) ≈ 0.87, →1 above),
          precision exact.
        - ``"exact"``: every pair at ``threshold`` via
          ``jaccard_similar_pairs`` (itself cost-based: block-GEMM vs
          prefix-filtered join) — exact recall, but a
          corpus-quadratic candidate floor: opt-in for small or
          recall-audit runs, never the scale path.
        - ``"semantic"``: SemDeDup over feature-hashed bag-of-words
          sketches (``hashed_embedding_vectors`` — no model embedding
          column needed): k-means into ``semantic_cells`` cells, pair
          search confined within cells, keeper = farthest-from-centroid
          per component. ``threshold`` is COSINE between sketches, not
          Jaccard — hashed-cosine runs higher (0.9 ≈ strong overlap;
          set ``semantic_cells ≈ n_docs / target_cell_size`` at scale).
          Requires integral doc_id (integer centroid-id tie-breaks).
        """
        if method == "exact":
            pairs = _dedup.jaccard_similar_pairs(docs, threshold=threshold)
        elif method == "ladder":
            pairs = _dedup.minhash_verified_pairs(docs, threshold=threshold)
        elif method == "semantic":
            from .operators import similarity as _sim

            if keeper_score is not None:
                raise ValueError(
                    "keeper_score applies to the pair-based methods; "
                    "method='semantic' keeps farthest-from-centroid"
                )
            vecs = _text.hashed_embedding_vectors(docs, id_col="doc_id")
            marks = _sim.semdedup(
                vecs,
                k=semantic_cells,
                threshold=threshold,
                scale=1,  # sketch components are already integers
            )
            return docs.join(
                marks.filter(F.col("is_keeper"))
                .select(F.col("vec_id").alias("doc_id")),
                "doc_id",
            )
        else:
            raise ValueError(f"unknown dedup method {method!r}")
        if keeper_score is not None:
            keepers = _dedup.neardup_keepers_by_score(
                docs, pairs, keeper_score
            )
        else:
            keepers = _dedup.neardup_keepers(docs, pairs)
        return docs.join(
            keepers.filter(
                F.col("doc_id") == F.col("keeper_doc_id")
            ).select("doc_id"),
            "doc_id",
        )

    def cluster(
        self,
        docs: DataFrame,
        k: int = 3,
        graph: str = "ivf",
        n_centroids: int = 8,
        # default probe matches the knn_recall_report curve's chosen
        # operating point (recall >= 0.8 at 8 cells — see
        # plans.pipeline_queries.KNN_IVF_PROBE)
        n_probe: int = 5,
    ) -> DataFrame:
        """Group documents by reciprocal text affinity WITHOUT model
        embeddings: feature-hashed sketches → mutual-kNN edges →
        connected components. Returns (doc_id, cluster) for every doc
        (singletons keep their own id) — the input to cluster-aware
        sampling / diversity analysis over a text-only corpus.
        Requires integral doc_id (the graph builders' id arithmetic).

        ``graph="ivf"`` (default — the scale path) builds the edge
        relation with the cell-bounded IVF-probed builder
        (``knn_graph_ivf``: n_probe · Σ|cell| candidates; set
        ``n_centroids ≈ n_docs / target_cell_size``, raise ``n_probe``
        to buy edge recall — ``knn_recall_report`` pins the dial).
        ``graph="exact"`` opts into the all-pairs tile grid — exact
        edges, O((n/block)²) tiles, for small or audit runs only."""
        from .operators import similarity as _sim

        vecs = _text.hashed_embedding_vectors(docs, id_col="doc_id")
        return _sim.knn_clusters(
            vecs,
            k=k,
            vec_scale=1,
            graph=graph,
            n_centroids=n_centroids,
            n_probe=n_probe,
        ).select(F.col("vec_id").alias("doc_id"), "cluster")

    def ingest(self, docs: DataFrame) -> None:
        """Insert-if-absent into the curated table (idempotent under
        replay; exact cross-batch dedup by text fingerprint)."""
        self.warehouse.insert_if_absent(CURATED_TABLE, docs)

    def takedown(
        self, ids: DataFrame, id_col: str = "doc_id"
    ) -> dict[str, object]:
        """Key-targeted delete (right-to-be-forgotten), CASCADED
        through every admission surface under this corpus root: the
        curated/cleaned tables lose the docs, and the band/gram/line
        claim indexes lose the docs' ownership rows — so a removed doc
        neither serves from the corpus nor vetoes future admissions,
        and a re-sent copy of its content is re-admittable (see
        ``streaming.corpus.takedown`` for the full semantics; manifest
        backend deletes redact ALL snapshots). Streaming ANN/PQ
        indexes under separate roots cascade via
        ``streaming.ann_index.takedown_vectors``."""
        from .streaming.corpus import takedown as _takedown

        return _takedown(self.warehouse, ids, id_col=id_col)

    def takedown_with_intent(
        self,
        ids: DataFrame,
        id_col: str = "doc_id",
        mode: str = "rewrite",
        ann_index_root: str | None = None,
    ) -> dict[str, object]:
        """``takedown`` with the crash-atomic completion contract
        (manifest backend): the key set commits to an INTENT log
        before any delete, the cascade (including the persisted
        ANN/PQ indexes under ``ann_index_root``) replays idempotently,
        and a DONE marker records completion — a crash mid-cascade is
        healable via ``heal_takedowns`` instead of silently leaving
        the doc serving as an ANN neighbor. See
        ``streaming.corpus.takedown_with_intent``."""
        from .streaming.corpus import takedown_with_intent as _twi

        return _twi(
            self.warehouse,
            ids,
            id_col=id_col,
            mode=mode,
            ann_index_root=ann_index_root,
        )

    def heal_takedowns(self) -> dict[str, dict]:
        """Finish every outstanding takedown intent (crash recovery /
        compliance sweep) — see ``streaming.corpus.heal_takedowns``."""
        from .streaming.corpus import heal_takedowns as _heal

        return _heal(self.warehouse)

    def outstanding_takedowns(self):
        """Takedown intents without a completion marker (the
        monitor's takedown-debt surface), as a DataFrame or None."""
        from .streaming.corpus import outstanding_takedowns as _out

        return _out(self.warehouse)

    def table(self) -> DataFrame:
        got = self.warehouse.read(CURATED_TABLE)
        if got is None:
            raise ValueError(f"no curated table under {self.root}")
        return got

    def cut_spans(
        self, docs: DataFrame, span_tokens: int = 15
    ) -> DataFrame:
        """ExactSubstr span removal (Lee et al. 2022): cut duplicated
        ≥``span_tokens`` token spans, keeping each span's canonical
        occurrence — the span-granular tier below ``dedup``'s
        whole-document keepers. Returns (doc_id, clean_text,
        n_tokens, n_removed); the streaming twin is
        ``run_stream_substr``."""
        return _dedup.remove_duplicate_spans(docs, span_tokens=span_tokens)

    def remove_boilerplate(
        self,
        docs: DataFrame,
        min_docs: int = 2,
        segmenter: str = "lines",
        words_per_segment: int = 8,
    ) -> DataFrame:
        """Line/segment-level boilerplate removal (RefinedWeb
        line-wise corrections): a segment occurring verbatim in
        >= ``min_docs`` distinct docs is cut from EVERY doc — no
        keeper copy, unlike ``cut_spans``' canonical-occurrence rule
        (navigation bars and cookie banners are noise in each copy).
        ``segmenter="words"`` (fixed ``words_per_segment`` windows)
        serves corpora without newlines. Returns (doc_id, clean_text,
        n_segments, n_removed)."""
        return _dedup.line_dedup(
            docs,
            min_docs=min_docs,
            segmenter=segmenter,
            words_per_segment=words_per_segment,
        )

    def repair_intradoc(
        self,
        docs: DataFrame,
        segmenter: str = "lines",
        words_per_segment: int = 8,
    ) -> DataFrame:
        """WITHIN-doc repeated-segment removal (keep the first
        occurrence per doc — the per-page duplicate-paragraph repair
        that runs BEFORE any cross-doc dedup; contrast
        ``remove_boilerplate``'s cross-doc no-keeper rule). Returns
        (doc_id, clean_text, n_segments, n_removed)."""
        return _dedup.intradoc_dedup(
            docs,
            segmenter=segmenter,
            words_per_segment=words_per_segment,
        )

    def c4(
        self,
        docs: DataFrame,
        keep_only: bool = True,
        **c4_kwargs,
    ) -> DataFrame:
        """The C4 cleaning rules (text_profile.c4_clean): line
        corrections + doc gates in one zero-shuffle projection. With
        ``keep_only`` (default) returns the surviving docs with their
        CLEANED text joined back onto the input columns; pass
        ``keep_only=False`` for the full per-doc audit report."""
        report = _text.c4_clean(docs, **c4_kwargs)
        if not keep_only:
            return report
        return docs.drop("text").join(
            report.filter(F.col("c4_ok")).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )

    def soft_dedup(
        self,
        docs: DataFrame,
        threshold: float = 0.5,
        method: str = "ladder",
    ) -> DataFrame:
        """Soft dedup: the input docs with a ``weight_permille``
        training-weight column (1000 div near-dup-component-size)
        instead of dropped rows — coverage preserved, over-sampling
        bias removed. Same pair ladder as ``dedup`` (``"ladder"``
        default, ``"exact"`` opt-in)."""
        if method == "exact":
            pairs = _dedup.jaccard_similar_pairs(docs, threshold=threshold)
        elif method == "ladder":
            pairs = _dedup.minhash_verified_pairs(docs, threshold=threshold)
        else:
            raise ValueError(
                f"unknown soft_dedup method {method!r}: expected "
                "'ladder' or 'exact'"
            )
        weights = _dedup.soft_dedup_weights(
            docs, pairs.select("doc_a", "doc_b")
        )
        return docs.join(
            weights.select("doc_id", "group_size", "weight_permille"),
            "doc_id",
        )

    def health_report(self, docs: DataFrame) -> DataFrame:
        """Per-source corpus health profile (one aggregate pass):
        docs, tokens, centi-mean quality, Gopher pass count,
        exact-dup surplus — the dashboard a curation run reads before
        deciding which sources need which gates."""
        return _text.corpus_health(docs)

    def score_fluency(
        self, docs: DataFrame, lm_docs: DataFrame | None = None
    ) -> DataFrame:
        """CCNet-style bigram-LM surprisal per document (integer-exact
        inverse transition probability). ``lm_docs=None`` trains on
        ``docs`` itself (fluency-outlier detection); pass a reference
        corpus for CCNet's held-out configuration. Compose
        ``classify.quantile_prune`` on ``mean_invp_scaled`` for the
        head/middle/tail cut."""
        return _text.lm_surprisal_stats(docs, lm_docs=lm_docs)

    def dsir_weights(
        self,
        docs: DataFrame,
        target_rate: float = 0.05,
        target_docs: DataFrame | None = None,
    ) -> DataFrame:
        """DSIR importance weights (Xie et al. 2023): how target-like
        each raw doc is under hashed-n-gram likelihood ratios — the
        importance-resampling data selector. Pass ``target_docs`` (the
        high-quality corpus you want more of) for DSIR proper; without
        it the target is md5-carved from ``docs`` at ``target_rate``
        (see operators.classify.dsir_importance)."""
        from .operators import classify as _classify

        return _classify.dsir_importance(
            docs, target_rate=target_rate, target_docs=target_docs
        )

    def chunk(
        self, docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16
    ) -> DataFrame:
        return _text.chunk_documents(docs, chunk_tokens, overlap)

    def pack(
        self,
        chunks: DataFrame,
        capacity: int = 256,
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Greedy sequence packing of chunks into fixed-capacity
        bins, keyed by the composite (doc, chunk) id."""
        sized = chunks.select(
            F.concat_ws(
                "#",
                F.col(id_col).cast("string"),
                F.col("chunk_id").cast("string"),
            ).alias("chunk_key"),
            "chunk_text",
        )
        return _packing.pack_sequences(
            sized, capacity, text_col="chunk_text", id_col="chunk_key"
        )

    # -- streaming ------------------------------------------------------
    def run_stream(
        self,
        docs_dir: str,
        checkpoint_dir: str,
        eval_docs: DataFrame,
        quality_min: int = QUALITY_MIN,
        min_overlap: int = 10,
        max_files_per_trigger: int | None = None,
        redact_pii: bool = False,
        min_classifier_score: int | None = None,
        lm_docs: DataFrame | None = None,
        max_fluency_invp: int | None = None,
    ) -> StreamingQuery:
        """The same funnel as micro-batched ingestion with cross-batch
        MinHash near-dup admission (see streaming.corpus).
        ``lm_docs`` + ``max_fluency_invp`` switch on the streaming
        CCNet fluency gate (held-out model trained once per stream)."""
        return stream_curate_neardup(
            self.spark,
            docs_dir,
            self.root,
            checkpoint_dir,
            eval_docs,
            quality_min=quality_min,
            min_overlap=min_overlap,
            max_files_per_trigger=max_files_per_trigger,
            redact_pii=redact_pii,
            min_classifier_score=min_classifier_score,
            backend=self.backend,
            lm_docs=lm_docs,
            max_fluency_invp=max_fluency_invp,
            auto_compact_segments=self.auto_compact_segments,
        )

    def run_stream_substr(
        self,
        docs_dir: str,
        checkpoint_dir: str,
        span_tokens: int = 15,
        max_files_per_trigger: int | None = None,
    ) -> StreamingQuery:
        """Streaming ExactSubstr span removal: each micro-batch cuts
        duplicated spans against itself and the persisted gram index
        (first batch wins, replays no-op) — see
        streaming.corpus.admit_span_batch. Uses its own tables
        (substr_curated / gram_index) under the same corpus root."""
        from .streaming.corpus import stream_curate_substr

        return stream_curate_substr(
            self.spark,
            docs_dir,
            self.root,
            checkpoint_dir,
            span_tokens=span_tokens,
            max_files_per_trigger=max_files_per_trigger,
            backend=self.backend,
            auto_compact_segments=self.auto_compact_segments,
        )


def _relation_fingerprint(df: DataFrame, id_col: str) -> str:
    """Order-insensitive content fingerprint of a relation's id
    MULTISET: ``<count>:<sum of xxhash64(id)>``. One constant-size
    aggregate — usable on a target corpus of any size (nothing is
    collected but two scalars), deterministic across replays and
    partitionings (sum is commutative/associative). The sum runs in
    decimal(38,0), exact under ANSI arithmetic up to ~1e19 rows, and —
    unlike the earlier bit_xor — is multiplicity-sensitive: duplicate
    ids self-cancel under xor ({a,a,b} and {c,c,b} xor-collide), so a
    duplicate-carrying target relation could silently pass the config
    guard with different content."""
    row = df.select(
        F.count(id_col).alias("n"),
        F.expr(
            f"sum(cast(xxhash64(cast({id_col} as string)) "
            f"as decimal(38,0)))"
        ).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


DATASET_TABLE = "dataset"


class DatasetBuilder:
    """End-to-end training-dataset builds over the manifest sink's
    snapshot surface: each ``build`` runs the full selection chain —

        curate → near-dup dedup → (optional) LM-fluency prune →
        temperature mix → size-balanced shards → per-epoch order →
        snapshot commit

    — and returns an immutable snapshot id. Every stage is a
    deterministic pure function of the input ids/text (md5 draws,
    integer-exact scores, hash permutations — no RNG anywhere), so the
    SAME inputs always produce the SAME dataset, and
    ``read(snapshot)`` reproduces any historical build forever (the
    "which exact rows did run N train on, in which order" answer).
    Builds append via insert-if-absent on (doc_id, epoch): re-running
    a build is a no-op commit (a new snapshot id with identical
    content), and a crashed build is invisible
    (ManifestParquetSink's commit protocol).

    Per-epoch config guard: the replay-no-op guarantee holds only when
    the SAME build re-runs. A DIFFERENT config (budget, fluency cut,
    shard count…) at an already-built epoch would silently merge the
    two selections' rows under insert-if-absent — per-shard positions
    would stop being a contiguous permutation and the reproducible
    training order would break without an error. So every build
    records a config fingerprint per epoch (a JSON sidecar next to the
    sink root, written before the commit so a crashed build still
    blocks a conflicting retry) and a mismatched rebuild raises
    instead of merging.
    """

    def __init__(self, pipeline: CorpusPipeline) -> None:
        self.pipeline = pipeline
        self.sink = make_sink(
            pipeline.spark,
            pipeline.root,
            keys={DATASET_TABLE: ["doc_id", "epoch"]},
            backend="manifest",  # snapshots need the segment protocol
        )

    # -- per-epoch build-config fingerprints ---------------------------
    def _config_dir(self) -> str:
        import os

        d = os.path.join(self.pipeline.root, "_dataset_builds")
        os.makedirs(d, exist_ok=True)
        return d

    def _guard_epoch_config(self, epoch: int, params: dict) -> None:
        """Record ``params`` for ``epoch`` on first build; raise on a
        rebuild whose params differ (same params = legitimate replay,
        a no-op commit). The record is written BEFORE the data commit:
        a build that crashes mid-commit leaves the fingerprint behind,
        so a conflicting retry is still refused — conservative, and
        the error names the sidecar file to remove if the operator
        really intends a different epoch-``epoch`` dataset."""
        import json
        import os

        path = os.path.join(self._config_dir(), f"epoch_{int(epoch)}.json")
        fingerprint = json.dumps(params, sort_keys=True)
        if os.path.exists(path):
            with open(path) as fh:
                recorded = fh.read()
            if recorded != fingerprint:
                raise ValueError(
                    f"epoch {epoch} was already built with a different "
                    f"config: recorded {recorded} vs requested "
                    f"{fingerprint}. Rebuilding the same epoch with a "
                    "different config would silently merge two "
                    "selections into one table; use a fresh epoch (or "
                    f"delete {path} AND the epoch's rows if the old "
                    "build must be replaced)."
                )
            return
        with open(path, "w") as fh:
            fh.write(fingerprint)

    # -- tokenizer artifacts --------------------------------------------
    def tokenizer_path(self, merges: list[str]) -> str:
        import os

        return os.path.join(
            self.pipeline.root, "_tokenizer", _bpe_fingerprint(merges)
        )

    def _persist_tokenizer(self, merges: list[str]) -> str:
        """Write the merge table as an immutable parquet artifact keyed
        by its fingerprint. Idempotent: a replayed build finds the
        directory already present (same fingerprint = bit-identical
        content, so nothing to compare) and skips the write."""
        import os

        from .operators.bpe import save_merges

        path = self.tokenizer_path(merges)
        if not os.path.isdir(path):
            save_merges(self.pipeline.spark, merges, path)
        return path

    def load_tokenizer(self, fingerprint: str) -> list[str]:
        """Load a persisted tokenizer by the fingerprint recorded in
        an epoch's config (the ``bpe:<fingerprint>`` value) — the
        re-load path that makes 'we trained on snapshot N' fully
        reproducible INCLUDING the token denomination."""
        import os

        from .operators.bpe import load_merges, merges_fingerprint

        path = os.path.join(
            self.pipeline.root, "_tokenizer", fingerprint.removeprefix("bpe:")
        )
        merges = load_merges(self.pipeline.spark, path)
        if "bpe:" + merges_fingerprint(merges) != (
            fingerprint if fingerprint.startswith("bpe:")
            else "bpe:" + fingerprint
        ):
            raise ValueError(
                f"tokenizer artifact at {path} does not hash to its "
                "directory name — artifact corrupted or tampered"
            )
        return merges

    # -- ANN artifacts (operators.artifacts discipline) -----------------
    def ann_artifact_path(self, fingerprint: str) -> str:
        import os

        return os.path.join(
            self.pipeline.root, "_ann", fingerprint.replace(":", "_")
        )

    def persist_centroids(
        self, cents: DataFrame, fingerprint: str | None = None
    ) -> str:
        """Write trained centroids as an immutable artifact keyed by
        their content fingerprint; idempotent like the tokenizer
        (same fingerprint = bit-identical content). Returns the
        path — the value a streaming facade accepts directly
        (streaming.ann_index centroids=<path>)."""
        import os

        from .operators import artifacts as _a

        fp = fingerprint or _a.centroids_fingerprint(cents)
        path = self.ann_artifact_path(fp)
        if not os.path.isdir(path):
            _a.save_centroids(cents, path)
        return path

    def persist_codebooks(
        self, books: DataFrame, fingerprint: str | None = None
    ) -> str:
        import os

        from .operators import artifacts as _a

        fp = fingerprint or _a.codebooks_fingerprint(books)
        path = self.ann_artifact_path(fp)
        if not os.path.isdir(path):
            _a.save_codebooks(books, path)
        return path

    def load_ann_centroids(self, fingerprint: str) -> DataFrame:
        """Re-load a build's centroid artifact by the fingerprint
        recorded in its epoch config, verifying content integrity —
        the loader twin of load_tokenizer."""
        from .operators import artifacts as _a

        cents = _a.load_centroids(
            self.pipeline.spark, self.ann_artifact_path(fingerprint)
        )
        if _a.centroids_fingerprint(cents) != fingerprint:
            raise ValueError(
                f"centroid artifact at {self.ann_artifact_path(fingerprint)} "
                "does not hash to its directory name — corrupted or "
                "tampered"
            )
        return cents

    def load_ann_codebooks(self, fingerprint: str) -> DataFrame:
        from .operators import artifacts as _a

        books = _a.load_codebooks(
            self.pipeline.spark, self.ann_artifact_path(fingerprint)
        )
        if _a.codebooks_fingerprint(books) != fingerprint:
            raise ValueError(
                f"codebook artifact at {self.ann_artifact_path(fingerprint)} "
                "does not hash to its directory name — corrupted or "
                "tampered"
            )
        return books

    def build(
        self,
        docs: DataFrame,
        eval_docs: DataFrame,
        budget_docs: int,
        n_shards: int = 8,
        epoch: int = 0,
        quality_min: int = 100,
        min_overlap: int = 10,
        dedup_method: str = "ladder",
        fluency_keep_pct: int | None = None,
        dsir_target: DataFrame | None = None,
        tokenizer_merges: list[str] | None = None,
        ann_centroids: DataFrame | None = None,
        pq_books: DataFrame | None = None,
    ) -> int:
        """Run the chain and commit one snapshot; returns its id.

        ``fluency_keep_pct``: when set (1-99), score every surviving
        doc with the self-trained bigram LM and keep docs at or below
        the corpus's pct-th surprisal percentile (the CCNet
        head+middle cut) — implemented by quantile-pruning the
        NEGATED mean surprisal, since ``quantile_prune`` keeps high
        scores. Docs with no bigram to score (< 2 tokens) are
        UNSCORABLE, not bad: they are kept regardless of the cut.
        ``100`` is an explicit no-op (keep everything).
        """
        return self.build_epochs(
            docs,
            eval_docs,
            budget_docs,
            n_epochs=1,
            first_epoch=epoch,
            n_shards=n_shards,
            quality_min=quality_min,
            min_overlap=min_overlap,
            dedup_method=dedup_method,
            fluency_keep_pct=fluency_keep_pct,
            dsir_target=dsir_target,
            tokenizer_merges=tokenizer_merges,
            ann_centroids=ann_centroids,
            pq_books=pq_books,
        )

    def _select(
        self,
        docs: DataFrame,
        eval_docs: DataFrame,
        budget_docs: int,
        n_shards: int,
        quality_min: int,
        min_overlap: int,
        dedup_method: str,
        fluency_keep_pct: int | None,
        dsir_target: DataFrame | None,
        tokenizer_merges: list[str] | None = None,
    ) -> DataFrame:
        """The epoch-independent selection chain: curate → dedup →
        (optional) fluency prune → budget draw → shards. The budget
        draw is ``temperature_mix_plan`` by default; with
        ``dsir_target`` it is DSIR importance RESAMPLING instead
        (weights vs the target corpus, Sequential-Poisson draw —
        operators.classify.dsir_select), the Xie 2023 configuration
        where the dataset is tilted toward a high-quality target
        distribution. Returns (doc_id, n_chars, shard) — membership
        and sharding; per-epoch order is layered on top."""
        from .operators import classify as _classify
        from .operators import partitioning as _part

        kept = self.pipeline.curate(
            docs, eval_docs, quality_min=quality_min,
            min_overlap=min_overlap,
        )
        kept = self.pipeline.dedup(kept, method=dedup_method)
        if fluency_keep_pct is not None and fluency_keep_pct != 100:
            flu = self.pipeline.score_fluency(kept)
            scorable = flu.filter(F.col("n_bigrams") > 0)
            sel = _classify.quantile_prune(
                scorable.select(
                    "doc_id", (-F.col("mean_invp_scaled")).alias("_neg")
                ),
                pct=100 - fluency_keep_pct,
                score_col="_neg",
            )
            # unscorable (<2-token) docs are kept, not silently cut
            keep_ids = (
                sel.filter(F.col("keep"))
                .select("doc_id")
                .unionByName(
                    flu.filter(F.col("n_bigrams") == 0).select("doc_id")
                )
            )
            kept = kept.join(keep_ids, "doc_id")
        if dsir_target is not None:
            sel = _classify.dsir_select(
                kept, budget_docs,
                weights=_classify.dsir_importance(
                    kept, target_docs=dsir_target
                ),
            )
            mixed = sel.filter(F.col("selected"))
        else:
            mixed = _part.temperature_mix_plan(kept, budget_docs)
        sized = kept.join(mixed.select("doc_id"), "doc_id")
        rows = sized.select("doc_id", F.length("text").alias("n_chars"))
        if tokenizer_merges is None:
            return _part.shard_assignments(rows, n_shards, "n_chars")
        # tokenizer-denominated builds: shards balance on the LEARNED
        # subword counts (what a trainer actually consumes), not raw
        # chars — which is why the tokenizer artifact belongs in the
        # epoch config guard: a different merge table re-weights the
        # shard assignment, so rebuilding under it must refuse
        from .operators import bpe as _bpe

        counts = _bpe.bpe_token_counts(sized, tokenizer_merges).select(
            "doc_id", "n_bpe_tokens"
        )
        return _part.shard_assignments(
            rows.join(counts, "doc_id"), n_shards, "n_bpe_tokens"
        ).drop("n_bpe_tokens")

    def build_epochs(
        self,
        docs: DataFrame,
        eval_docs: DataFrame,
        budget_docs: int,
        n_epochs: int,
        first_epoch: int = 0,
        n_shards: int = 8,
        quality_min: int = 100,
        min_overlap: int = 10,
        dedup_method: str = "ladder",
        fluency_keep_pct: int | None = None,
        dsir_target: DataFrame | None = None,
        tokenizer_merges: list[str] | None = None,
        ann_centroids: DataFrame | None = None,
        pq_books: DataFrame | None = None,
    ) -> int:
        """A whole training run's worth of epochs in ONE commit: the
        selection chain runs once, then every epoch in
        ``[first_epoch, first_epoch + n_epochs)`` contributes its own
        deterministic order permutation, all committed under one
        snapshot id. Membership and shard assignment are identical
        across the epochs BY CONSTRUCTION (one ``_select`` feeds every
        ``epoch_order``); only the within-shard order differs. A
        caller looping ``build()`` per epoch gets N unrelated
        snapshots instead — this binds (snapshot, epoch) in one
        manifest row, which is what a training manifest wants to pin.

        Returns the one snapshot id; ``read(snapshot)`` then holds
        every epoch's rows, distinguished by the ``epoch`` column.
        """
        from .operators import partitioning as _part

        if n_epochs < 1:
            raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
        params = {
            "budget_docs": int(budget_docs),
            "n_shards": int(n_shards),
            "quality_min": int(quality_min),
            "min_overlap": int(min_overlap),
            "dedup_method": dedup_method,
            "fluency_keep_pct": fluency_keep_pct,
            # content fingerprint of the DSIR target, not just a mode
            # flag: rebuilding an epoch against a DIFFERENT target
            # corpus must raise like any other config change, or the
            # two selections silently merge under insert-if-absent.
            # Order-insensitive constant-size aggregate (count + sum
            # of per-id hashes), so it is replay-deterministic and
            # never collects the target to the driver.
            "selection": (
                "temperature"
                if dsir_target is None
                else "dsir:" + _relation_fingerprint(dsir_target, "doc_id")
            ),
            # the tokenizer that denominated the build is part of the
            # dataset's identity (it re-weights shard assignment and
            # is what a trainer consumes alongside the rows): its
            # order-sensitive fingerprint goes in the guard, and the
            # merge table itself is persisted as an immutable parquet
            # artifact next to the dataset (the dsir_target precedent,
            # but with the full artifact — a tokenizer must be
            # re-LOADABLE, not just re-checkable)
            "tokenizer": (
                None
                if tokenizer_merges is None
                else "bpe:" + _bpe_fingerprint(tokenizer_merges)
            ),
            # trained ANN artifacts used alongside the build (the
            # embedding-space quantizer the served index / semantic
            # dedup ran under) join the dataset's identity the same
            # way the tokenizer does: order-insensitive CONTENT
            # fingerprints in the guard, full artifacts persisted
            # immutably next to the dataset (operators.artifacts) —
            # a rebuild against retrained centroids/codebooks must
            # refuse, not silently merge.
            "ann_centroids": (
                None
                if ann_centroids is None
                else _artifacts.centroids_fingerprint(ann_centroids)
            ),
            "pq_books": (
                None
                if pq_books is None
                else _artifacts.codebooks_fingerprint(pq_books)
            ),
        }
        epochs = range(int(first_epoch), int(first_epoch) + int(n_epochs))
        for e in epochs:
            self._guard_epoch_config(e, params)
        if tokenizer_merges is not None:
            self._persist_tokenizer(tokenizer_merges)
        if ann_centroids is not None:
            self.persist_centroids(ann_centroids, params["ann_centroids"])
        if pq_books is not None:
            self.persist_codebooks(pq_books, params["pq_books"])
        sharded = self._select(
            docs,
            eval_docs,
            budget_docs,
            n_shards,
            quality_min,
            min_overlap,
            dedup_method,
            fluency_keep_pct,
            dsir_target,
            tokenizer_merges,
        )
        # one physical pass of the (expensive) selection chain feeds
        # every epoch's order; the lazy checkpoint pins it so N epochs
        # don't re-run curate/dedup N times
        if n_epochs > 1:
            sharded = sharded.localCheckpoint(eager=False)
        ordered = None
        for e in epochs:
            one = _part.epoch_order(sharded, epoch=e).withColumn(
                "epoch", F.lit(int(e)).cast("int")
            )
            ordered = one if ordered is None else ordered.unionByName(one)
        self.sink.insert_if_absent(DATASET_TABLE, ordered)
        return self.sink.snapshots(DATASET_TABLE)[-1]

    def takedown(
        self, doc_ids: DataFrame, mode: str = "rewrite"
    ) -> int | None:
        """Right-to-be-forgotten over the BUILT datasets: remove the
        given docs' rows from EVERY epoch of every snapshot
        (``delete_keys`` on doc_id alone — the (doc_id, epoch)
        compound key deletes across epochs). In the default rewrite
        mode history is redacted: a training run pinned to
        ``read(snapshot N)`` no longer serves the doc, which is the
        point of a dataset takedown. Declared consequence: per-shard
        ``position`` sequences stop being contiguous permutations
        where docs were removed — a consumer must treat position gaps
        as skips, not corruption (re-keying positions would silently
        change every OTHER doc's training order, a worse lie).
        ``mode="tombstone"`` defers the rewrite
        (ManifestParquetSink.delete_keys semantics)."""
        return self.sink.delete_keys(
            DATASET_TABLE, doc_ids, on=["doc_id"], mode=mode
        )

    def snapshots(self) -> list[int]:
        return self.sink.snapshots(DATASET_TABLE)

    def compact(self) -> int | None:
        """Rewrite the dataset table's accumulated build segments into
        one (ManifestParquetSink.compact): every historical snapshot id
        keeps answering identically — run it when many builds have
        accumulated and reads slow down. Returns the compaction's own
        snapshot id, or None when there is nothing to compact."""
        return self.sink.compact(DATASET_TABLE)

    def read(self, snapshot: int) -> DataFrame:
        got = self.sink.read_at(DATASET_TABLE, snapshot)
        if got is None:
            raise ValueError(f"snapshot {snapshot} is empty")
        return got
