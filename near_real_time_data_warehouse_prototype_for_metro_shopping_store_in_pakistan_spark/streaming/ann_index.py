"""Streaming IVF index maintenance: the train → ingest → serve loop.

``similarity.kmeans_centroids`` trains the coarse quantizer offline;
this module keeps the inverted index CURRENT as new vectors stream in,
and serves top-k searches from the persisted index with
partition-pruned scans — the near-real-time counterpart of
``ann_ivf_topk`` (which indexes its input in-flight):

- **ingest** (``stream_index_embeddings``): per micro-batch, each
  vector is assigned to its nearest trained centroid by the broadcast
  argmax (``similarity.ivf_assignments`` — zero shuffle, zero row
  inflation) and upserted into a parquet index HIVE-PARTITIONED BY
  CELL via the warehouse's insert-if-absent anti-join. The dedup key
  (vec_id) determines the partition (cell is a pure function of the
  vector under fixed centroids), so the anti-join prunes to only the
  touched cells and replays are no-ops — the exact contract the fact
  sink has.
- **serve** (``ivf_index_topk``): per query, the ``n_probe`` closest
  cells are computed against the same broadcast centroids; the probe
  cell list (≤ queries × n_probe ints — metadata-scale) becomes a
  static ``cell IN (...)`` filter on the index scan, so Spark reads
  ONLY those cell directories (directory-level partition pruning — the
  plan's PartitionFilters, asserted by test). Quantized vectors and
  norms are stored in the index, so serving re-reads no raw
  embeddings and re-quantizes nothing.

Search results are IDENTICAL to ``ann_ivf_topk(emb,
centroids=...)`` over the same accumulated vectors (asserted
stream ≡ batch in tests): same scoring expressions, same
tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.sinks import MergeSink, make_sink, resolve_auto_compact
from ..operators.similarity import (
    _centroid_array_from,
    _dot,
    ivf_assignments,
    probe_cells,
    scaled_vectors,
)

INDEX_TABLE = "ivf_index"


def _resolve_artifact(spark: SparkSession, rel, kind: str):
    """Accept either an in-session relation or a PATH to a persisted
    artifact (operators.artifacts save_centroids/save_codebooks) —
    the re-load seam that lets a streaming facade serve a quantizer
    trained in an earlier session instead of retraining per stream."""
    if isinstance(rel, str):
        from ..operators import artifacts

        loader = (
            artifacts.load_centroids
            if kind == "centroids"
            else artifacts.load_codebooks
        )
        return loader(spark, rel)
    return rel

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def index_warehouse(
    spark: SparkSession,
    index_root: str,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
) -> MergeSink:
    """The IVF index's insert-if-absent store. Default backend is
    ``manifest`` with inline auto-compaction: the index is the
    highest-cadence writer in the engine (one segment per micro-batch,
    one file per TOUCHED CELL per segment), so an unbounded segment
    count is the small-file death spiral squared — compaction rewrites
    live segments into one, preserving the cell hive layout the serve
    path partition-prunes on (``compact`` repartitions by the
    configured partition columns). ``sink_kwargs`` forwards extra
    ``make_sink`` options (``tier_factor``, ``stats_cols``...) so
    deployments tune the compaction policy without a facade fork."""
    return make_sink(
        spark,
        index_root,
        keys={INDEX_TABLE: ["vec_id"]},
        partitioning={INDEX_TABLE: ["cell"]},
        backend=backend,
        auto_compact_segments=resolve_auto_compact(
            backend, auto_compact_segments
        ),
        **(sink_kwargs or {}),
    )


def stream_index_embeddings(
    spark: SparkSession,
    emb_dir: str,
    index_root: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
) -> StreamingQuery:
    """Micro-batched IVF index ingestion against TRAINED centroids
    (``kmeans_centroids`` output: centroid_id, cq, cn).

    ``auto_compact_segments`` (manifest backend, default "auto" = 8)
    bounds the live segment count inline, so the persisted index never
    accumulates one directory per cell per micro-batch — the analogue
    of the reference's MySQL table (src/Meshjoin.java:612-626) never
    fragmenting under its storage engine."""
    warehouse = index_warehouse(
        spark, index_root, backend, auto_compact_segments
    )
    # the trained quantizer is static for the stream's lifetime:
    # materialize the k-row relation once, not per trigger
    centroids = _resolve_artifact(spark, centroids, "centroids")
    cent = centroids.localCheckpoint(eager=True)
    reader = spark.readStream.schema(EMBEDDINGS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(emb_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        assigned = ivf_assignments(
            batch, vec_col=vec_col, id_col=id_col, centroids=cent
        ).select(id_col, "q", "norm_sq", "cell")
        warehouse.insert_if_absent(INDEX_TABLE, assigned)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def probe_cells_for(
    queries: DataFrame, centroids: DataFrame, n_probe: int
) -> DataFrame:
    """(query_id, qq, qn, cell) — the ``n_probe`` best cells per
    query. Quantizes the queries, then delegates to the SHARED
    ``similarity.probe_cells`` (the same expressions ``ann_ivf_topk``
    probes with, so serve ≡ batch tie-breaks hold by construction).

    Queries are deduplicated on ``query_id`` up front: downstream
    serve paths join candidates on (query_id, cell) WITHOUT a
    distinct (the pairs are unique per deduplicated query by
    construction of the top-n_probe explode), so a caller-supplied
    duplicate id must not fan the join out."""
    qv = scaled_vectors(
        queries.dropDuplicates(["query_id"]), "embedding", "query_id"
    ).select(
        "query_id",
        F.col("q").alias("qq"),
        F.col("norm_sq").alias("qn"),
    )
    return probe_cells(qv, _centroid_array_from(centroids), n_probe)


def ivf_index_topk(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    backend: str = "manifest",
) -> DataFrame:
    """Top-k cosine search served from the PERSISTED cell-partitioned
    index: the probe-cell set (metadata-scale) is collected into a
    static ``cell IN (...)`` predicate so the parquet scan touches
    only the probed directories; exact cosine + row_number tie-break
    inside, identical to ``ann_ivf_topk``.

    ``queries`` is (query_id, embedding). Self-matches (an indexed
    vector queried by its own id) are excluded, as in the ANN family.
    """
    # Lazy checkpoint: the probe relation feeds BOTH the cell collect
    # below and the scoring join — without it each consumer re-runs
    # query quantization, centroid scoring, and the caller's entire
    # centroids lineage (a raw kmeans_centroids() argument would
    # re-train per consumer).
    centroids = _resolve_artifact(spark, centroids, "centroids")
    probes = probe_cells_for(queries, centroids, n_probe).localCheckpoint(
        eager=False
    )
    # metadata-scale collect: <= |queries| * n_probe distinct ints —
    # same pattern as the fact sink's touched-partition pruning
    cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    index = (
        index_warehouse(spark, index_root, backend).read(INDEX_TABLE)
    )
    if index is None:
        raise ValueError(f"no {INDEX_TABLE} under {index_root}")
    pruned = index.filter(F.col("cell").isin(cells))
    cos = _dot(F.col("qq"), F.col("q")) / (
        F.sqrt(F.col("qn").cast("double"))
        * F.sqrt(F.col("norm_sq").cast("double"))
    )
    scored = pruned.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
        )
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


PQ_INDEX_TABLE = "ivfpq_index"


def pq_index_warehouse(
    spark: SparkSession,
    index_root: str,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    sink_kwargs: dict | None = None,
) -> MergeSink:
    return make_sink(
        spark,
        index_root,
        keys={PQ_INDEX_TABLE: ["vec_id"]},
        partitioning={PQ_INDEX_TABLE: ["cell"]},
        backend=backend,
        auto_compact_segments=resolve_auto_compact(
            backend, auto_compact_segments
        ),
        **(sink_kwargs or {}),
    )


def stream_index_embeddings_pq(
    spark: SparkSession,
    emb_dir: str,
    index_root: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    books: DataFrame,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
    by_residual: bool = False,
) -> StreamingQuery:
    """IVF-PQ index ingestion: like ``stream_index_embeddings`` but
    the persisted rows are (vec_id, codes array<int>, norm_sq, cell) —
    m small codes + one norm instead of the full quantized vector, so
    index storage is O(corpus × m) bytes, not O(corpus × dim). The
    trained coarse centroids AND the trained PQ codebooks
    (``operators.pq.pq_codebooks``, or ``pq_codebooks_residual`` with
    ``by_residual=True`` — the codes then encode residuals against
    the coarse centroids and serving MUST pass the same flag) are
    static for the stream's lifetime, materialized once. Encoding is
    the zero-shuffle broadcast-codebook argmin per micro-batch.
    """
    from ..operators.pq import (
        _validated_subwidth,
        pq_encode,
        pq_encode_residual,
    )

    warehouse = pq_index_warehouse(
        spark, index_root, backend, auto_compact_segments
    )
    centroids = _resolve_artifact(spark, centroids, "centroids")
    books = _resolve_artifact(spark, books, "codebooks")
    cent = centroids.localCheckpoint(eager=True)
    bks = books.localCheckpoint(eager=True)
    reader = spark.readStream.schema(EMBEDDINGS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(emb_dir)
    # validate (m, codebook width) against the FIRST non-empty batch
    # and reuse the width for the stream's lifetime — the validation
    # probes are two driver-side jobs, which should not recur per
    # micro-batch
    width_cache: list[int] = []

    def _width(batch: DataFrame) -> int | None:
        if not width_cache:
            width_cache.append(
                _validated_subwidth(batch, vec_col, bks, m)
            )
        return width_cache[0]

    def process(batch: DataFrame, batch_id: int) -> None:
        sw = _width(batch)
        if by_residual:
            # residual encode carries its own cell assignment
            enc = pq_encode_residual(
                batch, cent, bks, m, vec_col, id_col, subwidth=sw
            )
            warehouse.insert_if_absent(PQ_INDEX_TABLE, enc)
            return
        assigned = ivf_assignments(
            batch, vec_col=vec_col, id_col=id_col, centroids=cent
        ).select(id_col, "cell")
        enc = pq_encode(batch, bks, m, vec_col, id_col, subwidth=sw)
        warehouse.insert_if_absent(PQ_INDEX_TABLE, enc.join(assigned, id_col))

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ivfpq_index_topk(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    centroids: DataFrame,
    books: DataFrame,
    m: int = 4,
    k: int = 5,
    n_probe: int = 4,
    backend: str = "manifest",
    by_residual: bool = False,
) -> DataFrame:
    """Top-k ADC search served from the PERSISTED cell-partitioned
    IVF-PQ index: probe-cell partition pruning exactly as
    ``ivf_index_topk``, then m-lookup ADC scoring against the
    broadcast per-query lookup tables instead of a dim-length dot
    product — the serve path never touches a raw vector. With
    ``by_residual=True`` (index built by residual-encoding ingestion)
    the ADC decomposes as ``<q, c_cell> + Σ LUT`` — the coarse term
    is one integer dot per (query, probed cell), broadcast, exactly
    as ``operators.pq.ann_ivfpq_res_topk``. Results are
    identical to in-flight ``operators.pq.ann_ivfpq_topk`` over the
    same accumulated vectors (same probe, LUT, and tie-break
    expressions — asserted stream ≡ batch in tests)."""
    from ..operators.pq import adc_dot, query_luts

    centroids = _resolve_artifact(spark, centroids, "centroids")
    books = _resolve_artifact(spark, books, "codebooks")
    probes = probe_cells_for(queries, centroids, n_probe).localCheckpoint(
        eager=False
    )
    cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    index = pq_index_warehouse(spark, index_root, backend).read(PQ_INDEX_TABLE)
    if index is None:
        raise ValueError(f"no {PQ_INDEX_TABLE} under {index_root}")
    pruned = index.filter(F.col("cell").isin(cells))
    qv = probes.select("query_id", F.col("qq"), F.col("qn")).dropDuplicates(
        ["query_id"]
    )
    luts = query_luts(qv, books, m)
    scored = (
        pruned.join(F.broadcast(probes.select("query_id", "cell")),
                    "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(luts), "query_id")
    )
    dot = adc_dot()
    if by_residual:
        from ..operators.pq import _dot

        qc = probes.join(
            F.broadcast(
                centroids.select(
                    F.col("centroid_id").alias("cell"),
                    F.col("cq").alias("_ccq"),
                )
            ),
            "cell",
        ).select(
            "query_id", "cell", _dot(F.col("qq"), F.col("_ccq")).alias("_qc")
        )
        scored = scored.join(F.broadcast(qc), ["query_id", "cell"])
        dot = F.col("_qc") + dot
    adc_cos = dot / (
        F.sqrt(F.col("qn").cast("double"))
        * F.sqrt(F.col("norm_sq").cast("double"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cosine"), F.asc("neighbor_id")
    )
    return (
        scored.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc_cos.alias("adc_cosine"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def admit_embedding_batch(
    warehouse: MergeSink,
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Cross-batch EMBEDDING near-dup admission for one micro-batch —
    the online SemDeDup: within-cell cosine pairs form components,
    each component admits its min-id representative, and a component
    any of whose members is a near-dup of an already-INDEXED vector in
    the same cell is dropped whole (its content is represented).
    Mirrors ``streaming.corpus.admit_neardup_batch``'s semantics and
    crash-safety exactly, with cells in place of band keys.

    Scale shape: in-batch pair search is one groupBy(cell) Arrow GEMM
    (batch-sized); the HISTORY side reads ONLY the cells this batch
    touches — a metadata-scale collected cell list becomes static
    partition filters on the cell-partitioned index, so history cost
    scales with the batch's cells, never the index. Replay-safe in
    both write orders: a replayed vector meets ITSELF in the index
    (same id — exempt), so it re-admits and the insert-if-absent
    no-ops.

    Recall contract: like batch ``semdedup``, detection is confined to
    cells — a cross-cell near-dup pair is not examined.
    """
    import numpy as np
    import pandas as pd

    from ..operators.dedup import connected_components

    assigned = assigned.localCheckpoint(eager=False)

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        A = np.array([np.asarray(x, dtype=np.int64) for x in pdf["q"]])
        dots = A @ A.T
        n = np.sqrt(pdf["norm_sq"].to_numpy(dtype=np.float64))
        cos = dots / (n[:, None] * n[None, :])
        ids = pdf[id_col].to_numpy()
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ii, jj = np.nonzero(keep)
        return pd.DataFrame({"vec_a": ids[ii], "vec_b": ids[jj]})

    pairs = assigned.select(id_col, "q", "norm_sq", "cell").groupBy(
        "cell"
    ).applyInPandas(cell_pairs, "vec_a long, vec_b long")
    comps = connected_components(pairs, "vec_a", "vec_b")
    comp_map = (
        assigned.select(id_col, "cell")
        .join(comps.withColumnRenamed("vertex", id_col), id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .localCheckpoint(eager=False)
    )
    index = warehouse.read(INDEX_TABLE)
    poisoned = None
    if index is not None:
        cells = sorted(
            r["cell"]
            for r in assigned.select("cell").distinct().collect()
        )
        hist = index.filter(F.col("cell").isin(cells)).select(
            F.col(id_col).alias("hid"),
            F.col("q").alias("hq"),
            F.col("norm_sq").alias("hnorm_sq"),
            "cell",
        )

        def hist_hits(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            if lpdf.empty or rpdf.empty:
                return pd.DataFrame({"vec_id": []}).astype("int64")
            A = np.array([np.asarray(x, dtype=np.int64) for x in lpdf["q"]])
            B = np.array([np.asarray(x, dtype=np.int64) for x in rpdf["hq"]])
            dots = A @ B.T
            na = np.sqrt(lpdf["norm_sq"].to_numpy(dtype=np.float64))
            nb = np.sqrt(rpdf["hnorm_sq"].to_numpy(dtype=np.float64))
            cos = dots / (na[:, None] * nb[None, :])
            ia = lpdf[id_col].to_numpy()
            ib = rpdf["hid"].to_numpy()
            # same id = a crash replay meeting itself — exempt
            hit = (cos >= threshold) & (ia[:, None] != ib[None, :])
            return pd.DataFrame({"vec_id": ia[hit.any(axis=1)]})

        hits = (
            assigned.select(id_col, "q", "norm_sq", "cell")
            .groupby("cell")
            .cogroup(hist.groupby("cell"))
            .applyInPandas(hist_hits, f"{id_col} long")
        )
        poisoned = (
            hits.join(comp_map, id_col)
            .select("component")
            .distinct()
        )
    reps = comp_map.filter(F.col(id_col) == F.col("component"))
    if poisoned is not None:
        reps = reps.join(poisoned, "component", "left_anti")
    admitted = assigned.join(reps.select(id_col), id_col)
    warehouse.insert_if_absent(INDEX_TABLE, admitted)
    return admitted


def takedown_vectors(
    spark: SparkSession,
    index_root: str,
    ids: DataFrame,
    id_col: str = "vec_id",
    backend: str = "manifest",
) -> dict[str, object]:
    """Cascaded takedown for the persisted ANN indexes under one root:
    delete the given vector ids from the IVF index and/or the IVF-PQ
    index (whichever exist), via the backend's ``delete_keys``. After
    the delete the vector can neither be SERVED as a neighbor
    (``ivf_index_topk``/``ivfpq_index_topk`` read only live rows) nor
    VETO future admissions (``admit_embedding_batch``'s history probe
    reads the same live rows) — and a re-sent copy of the vector is
    re-admittable, the same forgotten-key semantics as
    ``streaming.corpus.takedown``. Replays are no-ops. Returns
    {table: delete result} for the indexes that existed."""
    results: dict[str, object] = {}
    for tbl, maker in (
        (INDEX_TABLE, index_warehouse),
        (PQ_INDEX_TABLE, pq_index_warehouse),
    ):
        wh = maker(spark, index_root, backend, auto_compact_segments=None)
        if wh.read(tbl) is None:
            continue
        keys = ids.select(F.col(id_col).alias("vec_id"))
        results[tbl] = wh.delete_keys(tbl, keys, on=["vec_id"])
    return results


def stream_index_embeddings_dedup(
    spark: SparkSession,
    emb_dir: str,
    index_root: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    backend: str = "manifest",
    auto_compact_segments: int | None | str = "auto",
) -> StreamingQuery:
    """``stream_index_embeddings`` with cross-batch near-dup
    admission: only vectors no near-dup of which is already indexed
    enter the index (see ``admit_embedding_batch``). State is the
    index itself — no streaming state store, replays are no-ops."""
    warehouse = index_warehouse(
        spark, index_root, backend, auto_compact_segments
    )
    centroids = _resolve_artifact(spark, centroids, "centroids")
    cent = centroids.localCheckpoint(eager=True)
    reader = spark.readStream.schema(EMBEDDINGS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(emb_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        assigned = ivf_assignments(
            batch, vec_col=vec_col, id_col=id_col, centroids=cent
        ).select(id_col, "q", "norm_sq", "cell")
        admit_embedding_batch(warehouse, assigned, threshold, id_col)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
