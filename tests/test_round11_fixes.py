"""Round-11 storage-layer fixes:

- size-tiered auto-compaction (no more full-table rewrite every
  `bound` batches — O(N log N) cumulative rewrite bytes),
- the OCC/exactly-once contract under racing writers,
- _zvalue bit-budget guard (>=4 z-order columns must not touch the
  sign bit or wrap shifts mod 64),
- read_at schema stability under schema evolution + compaction.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    ManifestParquetSink,
    make_sink,
)

def _mk(spark, *ks):
    return spark.createDataFrame([(int(k),) for k in ks], "k long")


def _sink(spark, root, **kw):
    return make_sink(
        spark, str(root), keys={"t": ["k"]}, backend="manifest", **kw
    )


# ---------------------------------------------------------------- #
# the rename commit: snapshots, compaction, racing writers          #
# ---------------------------------------------------------------- #


def test_basic_contract(spark, tmp_path):
    """insert/replay/read/snapshots/read_at/compact on the exclusive
    rename commit."""
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _mk(spark, 0, 1))
    sink.insert_if_absent("t", _mk(spark, 1, 2))  # 1 replays
    sink.insert_if_absent("t", _mk(spark, 3))
    assert {r["k"] for r in sink.read("t").collect()} == {0, 1, 2, 3}
    assert sink.snapshots("t") == [0, 1, 2]
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {0, 1, 2}
    n = sink.compact("t")
    assert n == 3
    assert sink.snapshots("t") == [0, 1, 2, 3]
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {0, 1, 2}
    assert {r["k"] for r in sink.read("t").collect()} == {0, 1, 2, 3}
    # replay after compaction: still a no-op
    sink.insert_if_absent("t", _mk(spark, 0, 1, 2, 3))
    assert sink.read("t").count() == 4


def test_concurrent_writers_exactly_once(spark, tmp_path):
    """Two racing writers commit every key exactly once and keep the
    snapshot numbers dense."""
    root = str(tmp_path)
    w1 = _sink(spark, root)
    w2 = _sink(spark, root)
    batches1 = [list(range(2 * b, 2 * b + 30, 2)) for b in range(3)]
    batches2 = [list(range(3 * b, 3 * b + 45, 3)) for b in range(3)]
    errs = []
    gate = threading.Barrier(2)

    def run(sink, batches):
        try:
            gate.wait()
            for ks in batches:
                sink.insert_if_absent("t", _mk(spark, *ks))
        except Exception as e:  # pragma: no cover - failure evidence
            errs.append(e)

    t1 = threading.Thread(target=run, args=(w1, batches1))
    t2 = threading.Thread(target=run, args=(w2, batches2))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errs, errs
    expect = {k for b in batches1 + batches2 for k in b}
    got = [r["k"] for r in w1.read("t").collect()]
    assert len(got) == len(set(got)), "duplicate keys committed"
    assert set(got) == expect, "lost rows"
    snaps = w1.snapshots("t")
    assert snaps == list(range(len(snaps)))


# ---------------------------------------------------------------- #
# size-tiered auto-compaction                                       #
# ---------------------------------------------------------------- #


def _simulate_policy(n_batches, bound, factor, batch_rows=1):
    """Drive ManifestParquetSink.tier_take over a synthetic stream:
    returns (cumulative rows rewritten by compactions, max live
    segments ever). Mirrors _maybe_auto_compact's trigger exactly."""
    live = []  # sizes, ascending by segment number
    rewritten = 0
    max_live = 0
    for _ in range(n_batches):
        live.append(batch_rows)
        max_live = max(max_live, len(live))
        if len(live) > bound:
            take = ManifestParquetSink.tier_take(live, bound, factor)
            take = min(take, len(live))
            merged = sum(live[-take:])
            live = live[:-take] + [merged]
            rewritten += merged
    return rewritten, max_live


def test_tiered_policy_subquadratic_write_volume():
    """The O(N log N) claim, asserted at a scale where it is visible:
    over 512 batches with bound 8, the size-tiered policy rewrites
    <25% of the rows the full-rewrite policy (tier_factor=inf — r10's
    behavior) pays, while holding the same live-segment bound."""
    tiered, live_t = _simulate_policy(512, 8, 2.0)
    full, live_f = _simulate_policy(512, 8, float("inf"))
    assert live_t <= 9 and live_f <= 9  # bound + just-published
    assert tiered < 0.25 * full, (tiered, full)
    # and the gap widens with N (the quadratic-vs-linearithmic shape)
    t2, _ = _simulate_policy(2048, 8, 2.0)
    f2, _ = _simulate_policy(2048, 8, float("inf"))
    assert t2 / f2 < tiered / full, (t2 / f2, tiered / full)


def test_tiered_spark_end_state_matches_full_policy(spark, tmp_path):
    """Both policies produce the identical logical table, snapshots
    set, and replay behavior — tiering is purely a write-volume
    optimization."""
    reads = {}
    for label, factor in (("tiered", 2.0), ("full", float("inf"))):
        sink = _sink(spark, tmp_path / label, auto_compact_segments=3)
        sink.tier_factor = factor
        for b in range(10):
            sink.insert_if_absent("t", _mk(spark, 2 * b, 2 * b + 1))
        assert set(range(10)) <= set(sink.snapshots("t"))
        sink.insert_if_absent("t", _mk(spark, 0, 1))  # replay no-op
        reads[label] = {r["k"] for r in sink.read("t").collect()}
        # snapshot 3 = the 4th batch (compaction commits claim later
        # numbers): keys 0..7 under both policies
        assert {
            r["k"] for r in sink.read_at("t", 3).collect()
        } == set(range(8))
    assert reads["tiered"] == reads["full"] == set(range(20))


def test_tiered_compaction_leaves_large_segment_alone(spark, tmp_path):
    """Steady state: the big previously-compacted segment must NOT be
    rewritten by tail merges — its directory survives across several
    auto-compaction rounds until the accumulated tail grows to a
    comparable size."""
    sink = _sink(spark, tmp_path, auto_compact_segments=3)
    # build one big segment: 3 batches x 20 keys, force a full merge
    for b in range(4):
        sink.insert_if_absent("t", _mk(spark, *range(20 * b, 20 * b + 20)))
    live, _, _ = sink._segments("t")
    big = max(live, key=lambda t: sink._segment_bytes(t[1]))
    assert big[2] is not None, "expected a compacted big segment"
    big_num = big[0]
    # now trickle 1-key batches: tail merges must leave `big` live
    for b in range(6):
        sink.insert_if_absent("t", _mk(spark, 1000 + b))
    live, _, _ = sink._segments("t")
    assert big_num in {n for n, _, _ in live}, (
        "tiered policy rewrote the big segment for a tiny tail merge"
    )
    # history and replay still exact
    assert sink.read("t").count() == 86
    sink.insert_if_absent("t", _mk(spark, 1000, 1001))
    assert sink.read("t").count() == 86


def test_compaction_republishes_without_restaging(spark, tmp_path):
    """A compaction that loses its publish to a RACING INGEST (targets
    all still live) must re-attempt the publish with the SAME staged
    covering segment at the fresh number — not restage the whole
    rewrite (the starvation/write-amplification bug a compaction
    under sustained ingest exposed: one full rewrite per lost race)."""
    sink = _sink(spark, tmp_path)
    for b in range(3):
        sink.insert_if_absent("t", _mk(spark, 2 * b, 2 * b + 1))
    stage_calls = []
    orig_stage = sink._stage_segment

    def counting_stage(name, df, covers=None, min_row=None, **kw):
        if covers is not None:
            stage_calls.append(1)
        return orig_stage(name, df, covers=covers, min_row=min_row, **kw)

    sink._stage_segment = counting_stage
    orig_publish = sink._publish
    state = {"intercepted": False}

    def racing_publish(name, stage, num):
        if not state["intercepted"] and "_stage_" in str(stage):
            state["intercepted"] = True
            # a racing ingest claims the number first
            loser = orig_stage(name, _mk(spark, 100))
            assert orig_publish(name, loser, num)
        return orig_publish(name, stage, num)

    sink._publish = racing_publish
    snap = sink.compact("t", delete_covered=False)
    assert snap == 4, "covering segment must land at the NEXT number"
    assert len(stage_calls) == 1, (
        f"compaction restaged {len(stage_calls)} times for an "
        "ingest-only race"
    )
    assert {r["k"] for r in sink.read("t").collect()} == set(range(6)) | {
        100
    }
    snaps = sink.snapshots("t")
    assert snaps == list(range(len(snaps)))
    assert {r["k"] for r in sink.read_at("t", 1).collect()} == {0, 1, 2, 3}


def test_tiered_history_preserved_across_partial_compactions(
    spark, tmp_path
):
    """since-bounded (suffix) compactions preserve every read_at /
    added_between answer bit-for-bit, like full ones."""
    sink = _sink(spark, tmp_path)
    for b in range(6):
        sink.insert_if_absent("t", _mk(spark, 2 * b, 2 * b + 1))
    before = {
        s: sorted(r["k"] for r in sink.read_at("t", s).collect())
        for s in sink.snapshots("t")
    }
    diff_before = sorted(
        (r["k"], r["_snapshot"])
        for r in sink.added_between("t", 1, 4).collect()
    )
    # partial merge of the newest 3 (since = seg 2), then of the rest
    assert sink.compact("t", since=2, delete_covered=False) == 6
    assert sink.compact("t", upto=2) == 7
    for s, keys in before.items():
        assert (
            sorted(r["k"] for r in sink.read_at("t", s).collect()) == keys
        )
    diff_after = sorted(
        (r["k"], r["_snapshot"])
        for r in sink.added_between("t", 1, 4).collect()
    )
    assert diff_after == diff_before


# ---------------------------------------------------------------- #
# ADVICE fixes                                                      #
# ---------------------------------------------------------------- #


def test_zvalue_bit_budget_auto_scales(spark):
    """4+ z-order columns must keep every interleaved bit below the
    long sign bit: the max-corner row's z-value stays non-negative
    (the unguarded 16-bit layout put rank bit 15 of column 3 at
    position 63) and the Morton order still sorts the min corner
    first."""
    df = spark.createDataFrame(
        [(0, 0, 0, 0), (1000, 1000, 1000, 1000), (500, 500, 500, 500)],
        "a long, b long, c long, d long",
    )
    z = ManifestParquetSink._zvalue(df, ["a", "b", "c", "d"])
    rows = df.withColumn("z", z).orderBy("a").collect()
    zs = [r["z"] for r in rows]
    assert all(v >= 0 for v in zs), f"sign bit touched: {zs}"
    assert zs[0] < zs[1] < zs[2], "Morton order corrupted"


def test_read_at_schema_stable_after_evolution_and_compact(
    spark, tmp_path
):
    """Under schema evolution, read_at returns the table's CURRENT
    unified schema (later-added columns backfilled with typed NULLs),
    and the column set does not change when a compaction folds the
    history — the contract the r10 docstring promised."""
    sink = _sink(spark, tmp_path)
    sink.allow_schema_evolution = True
    sink.insert_if_absent(
        "t", spark.createDataFrame([(0, "a")], "k long, v string")
    )
    sink.insert_if_absent(
        "t",
        spark.createDataFrame([(1, "b", 7)], "k long, v string, w long"),
    )
    at0 = sink.read_at("t", 0)
    assert set(at0.columns) == {"k", "v", "w"}
    row = at0.collect()[0]
    assert (row["k"], row["v"], row["w"]) == (0, "a", None)
    assert dict(at0.dtypes)["w"] == "bigint"
    cols_before = at0.columns
    sink.compact("t")
    at0c = sink.read_at("t", 0)
    assert at0c.columns == cols_before
    row = at0c.collect()[0]
    assert (row["k"], row["v"], row["w"]) == (0, "a", None)


def test_c4_terminal_rule_survives_crlf(spark):
    """C4's terminal-punctuation rule applies to STRIPPED lines: CRLF
    web text (every line carries a trailing \\r after the newline
    split) and trailing spaces must not cut otherwise-terminal
    lines."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
        text_profile,
    )

    text = (
        "a proper sentence ends here.\r\n"
        "no terminal punctuation line\r\n"
        "trailing spaces after terminal.   \r\n"
        "is it a question?\r"
    )
    out = text_profile.c4_clean(
        spark.createDataFrame([(1, text)], "doc_id long, text string"),
        min_words_per_line=3,
        min_lines=1,
        require_terminal=True,
    ).first()
    kept = out["clean_text"].split("\n")
    assert len(kept) == 3, kept
    assert out["n_kept_lines"] == 3


class TestClaimRetention:
    """expire_claims: bounded admission state under TTL, semantics
    unchanged inside the horizon, recall loss below it (documented)."""

    SHARED = "shared boiler line alpha beta gamma"

    def _wh(self, spark, root):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.corpus import (
            lines_warehouse,
        )

        return lines_warehouse(spark, str(root))

    def _admit(self, wh, spark, doc_id, extra=None):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.corpus import (
            admit_lines_batch,
        )

        text = (
            f"{extra}\nunique line {doc_id} one two"
            if extra
            else f"unique line {doc_id} one two\nsecond unique {doc_id}"
        )
        batch = spark.createDataFrame(
            [(doc_id, text)], "doc_id long, text string"
        )
        return admit_lines_batch(wh, batch, min_docs=2)

    def test_horizon_semantics(self, spark, tmp_path):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.corpus import (
            LINE_INDEX_TABLE,
            LINES_CURATED_TABLE,
            expire_claims,
        )

        wh = self._wh(spark, tmp_path)
        self._admit(wh, spark, 1, self.SHARED)  # first sighting: kept
        out2 = self._admit(wh, spark, 2, self.SHARED).first()
        assert out2["n_removed"] == 1, "2nd sighting must cut"
        self._admit(wh, spark, 3)  # batch without the shared line
        before = wh.read(LINE_INDEX_TABLE).count()
        snap = expire_claims(wh, LINE_INDEX_TABLE, keep_snapshots=1)
        assert snap is not None
        after = wh.read(LINE_INDEX_TABLE).count()
        assert after < before
        # only the newest batch's claims survive
        assert after == 2  # doc 3's two unique lines
        # recall loss BELOW the horizon (the documented trade): the
        # shared line was forgotten, so a new carrier is NOT cut
        out4 = self._admit(wh, spark, 4, self.SHARED).first()
        assert out4["n_removed"] == 0
        # INSIDE the horizon semantics unchanged: next sighting counts
        # doc 4's surviving claim and cuts again
        out5 = self._admit(wh, spark, 5, self.SHARED).first()
        assert out5["n_removed"] == 1
        # replay of a recent batch still no-ops on the curated table
        n = wh.read(LINES_CURATED_TABLE).count()
        self._admit(wh, spark, 5, self.SHARED)
        assert wh.read(LINES_CURATED_TABLE).count() == n

    def test_bounded_state_under_periodic_expiry(self, spark, tmp_path):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.corpus import (
            LINE_INDEX_TABLE,
            expire_claims,
        )

        wh = self._wh(spark, tmp_path / "ttl")
        wh_free = self._wh(spark, tmp_path / "free")
        sizes = []
        for b in range(8):
            self._admit(wh, spark, b)
            self._admit(wh_free, spark, b)
            expire_claims(wh, LINE_INDEX_TABLE, keep_snapshots=2)
            sizes.append(wh.read(LINE_INDEX_TABLE).count())
        # unbounded twin grows linearly; TTL'd table stays flat
        assert wh_free.read(LINE_INDEX_TABLE).count() == 16
        assert max(sizes[3:]) <= 6, sizes


def test_expire_below_sink_row_semantics(spark, tmp_path):
    """compact(expire_below=h): rows first-admitted <= h vanish, rows
    above survive exactly, snapshot ids all remain valid."""
    sink = _sink(spark, tmp_path)
    for b in range(5):
        sink.insert_if_absent("t", _mk(spark, 2 * b, 2 * b + 1))
    assert sink.compact("t", expire_below=2, delete_covered=False) == 5
    got = {r["k"] for r in sink.read("t").collect()}
    assert got == {6, 7, 8, 9}, got  # snapshots 3 and 4 survive
    assert sink.snapshots("t") == [0, 1, 2, 3, 4, 5]
    # expired keys re-admit (the documented recall trade) while
    # surviving keys still dedup
    sink.insert_if_absent("t", _mk(spark, 0, 6))
    got = {r["k"] for r in sink.read("t").collect()}
    assert got == {0, 6, 7, 8, 9}
    assert sink.read("t").count() == 5


def test_facades_forward_sink_kwargs(spark, tmp_path):
    """The streaming warehouse constructors forward make_sink options:
    the option lands on the built sink, which keeps the admission
    contract."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.corpus import (
        LINES_CURATED_TABLE,
        admit_lines_batch,
        lines_warehouse,
    )

    wh = lines_warehouse(
        spark, str(tmp_path), sink_kwargs={"tier_factor": 3.0}
    )
    assert isinstance(wh, ManifestParquetSink) and wh.tier_factor == 3.0
    batch = spark.createDataFrame(
        [(1, "alpha beta\ngamma delta")], "doc_id long, text string"
    )
    admit_lines_batch(wh, batch, min_docs=2)
    admit_lines_batch(wh, batch, min_docs=2)  # replay no-op
    assert wh.read(LINES_CURATED_TABLE).count() == 1


def test_stream_curate_lines_with_auto_ttl(spark, tmp_path):
    """stream_curate_lines(expire_claims_every=) keeps the line-index
    claim table bounded at streaming cadence while the curated docs
    table stays complete and replayable."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.corpus import (
        LINE_INDEX_TABLE,
        LINES_CURATED_TABLE,
        lines_warehouse,
        stream_curate_lines,
    )

    rows = [
        (i, f"unique line {i} one two\nsecond unique {i} three")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "in")
    docs.withColumn("_b", F.col("doc_id") % 8).repartition(8, "_b").drop(
        "_b"
    ).write.parquet(src)
    root = str(tmp_path / "wh")
    q = stream_curate_lines(
        spark, src, root, str(tmp_path / "ckpt"),
        min_docs=2, max_files_per_trigger=1,
        expire_claims_every=2, expire_keep_snapshots=2,
    )
    q.awaitTermination()
    wh = lines_warehouse(spark, root)
    assert wh.read(LINES_CURATED_TABLE).count() == 8
    # every doc claims 2 line fps; without TTL the index holds 16
    n_idx = wh.read(LINE_INDEX_TABLE).count()
    assert n_idx < 16, n_idx


def test_stream_curate_substr_with_auto_ttl(spark, tmp_path):
    """The TTL switch on the substr facade: gram-index state stays
    bounded across micro-batches; every doc still lands cleaned."""
    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming.corpus import (
        GRAM_INDEX_TABLE,
        SUBSTR_CURATED_TABLE,
        stream_curate_substr,
        substr_warehouse,
    )

    rows = [
        (
            i,
            f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h w{i}i",
            "en",
            "s0",
        )
        for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    src = str(tmp_path / "in")
    docs.withColumn("_b", F.col("doc_id") % 6).repartition(6, "_b").drop(
        "_b"
    ).write.parquet(src)
    root = str(tmp_path / "wh")
    q = stream_curate_substr(
        spark, src, root, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        expire_claims_every=2, expire_keep_snapshots=2,
    )
    q.awaitTermination()
    wh = substr_warehouse(spark, root)
    assert wh.read(SUBSTR_CURATED_TABLE).count() == 6
    # without TTL every doc's grams persist; with it only the newest
    # horizon's claims survive
    idx = wh.read(GRAM_INDEX_TABLE)
    per_doc = idx.groupBy("owner_doc_id").count().count()
    assert per_doc < 6, per_doc


def test_fact_store_week_probe_prunes_files(spark, sf_dir):
    """The manifest-backed fact store (order_date zone maps + range-
    clustered compaction): a one-week probe opens <50% of the data
    files (in practice ~1 band file), and scan ≡ read+filter."""
    import datetime as dt

    from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans import (
        fact_store as fs,
    )

    sink = fs.build_fact_store(spark, sf_dir)
    lo, hi = dt.datetime(1996, 6, 1), dt.datetime(1996, 6, 7)
    total, opened = sink.prune_files_report(
        fs.FACT_TABLE, {"order_date": (lo, hi)}
    )
    assert total >= fs.CLUSTER_FILES
    assert opened * 2 < total, (total, opened)
    scan = sink.scan(fs.FACT_TABLE, {"order_date": (lo, hi)})
    full = sink.read(fs.FACT_TABLE).filter(
        (F.col("order_date") >= lo) & (F.col("order_date") <= hi)
    )
    assert sorted(r["line_uid"] for r in scan.collect()) == sorted(
        r["line_uid"] for r in full.collect()
    )
    # the store holds exactly the source join's rows
    assert sink.read(fs.FACT_TABLE).count() == fs.narrow_fact(
        spark, sf_dir
    ).count()


CJK = "東京都の天気は晴れです"
THAI = "สวัสดีครับ"


class TestTokenModes:
    """No-whitespace-script tokenization fallback (token_mode=
    'mixed'): sane counts on CJK/Thai, bit-identical behavior on
    ASCII."""

    def test_counts(self, spark):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.functions.text import (
            token_count,
        )

        df = spark.createDataFrame(
            [
                (1, "plain ascii text here"),
                (2, CJK),
                (3, THAI),
                (4, f"mixed {CJK} and latin"),
                (5, ""),
            ],
            "doc_id long, text string",
        ).select(
            "doc_id",
            token_count(F.col("text")).alias("ws"),
            token_count(F.col("text"), "mixed").alias("mx"),
        )
        got = {r["doc_id"]: (r["ws"], r["mx"]) for r in df.collect()}
        assert got[1] == (4, 4), "ASCII must be identical in both modes"
        assert got[2] == (1, len(CJK)), "CJK doc = 1 giant ws token"
        assert got[3] == (1, len(THAI))
        assert got[4] == (4, 3 + len(CJK))
        assert got[5] == (0, 0)

    def test_unknown_mode_rejected(self, spark):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.functions.text import (
            tokens,
        )

        with pytest.raises(ValueError, match="token mode"):
            tokens(F.col("x"), "bpe")

    def test_gopher_gates_mixed_mode(self, spark):
        """A 60-char CJK doc fails every word-denominated Gopher rule
        under ws mode (1 giant word) and passes under mixed mode with
        a CJK-appropriate required-word list."""
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
            text_profile,
        )

        doc = CJK * 5  # 55 ideographs
        docs = spark.createDataFrame(
            [(1, doc)], "doc_id long, text string"
        )
        ws = text_profile.gopher_gates(
            docs, min_words=50, required_words=list(CJK[:3]),
        ).first()
        assert ws["n_words"] == 1 and not ws["words_ok"]
        mx = text_profile.gopher_gates(
            docs,
            min_words=50,
            required_words=list(CJK[:3]),
            token_mode="mixed",
        ).first()
        assert mx["n_words"] == 55
        assert mx["words_ok"] and mx["mean_len_ok"] and mx["alpha_ok"]
        assert mx["required_words_ok"] and mx["gopher_ok"]

    def test_chunking_mixed_mode(self, spark):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
            text_profile,
        )

        doc = CJK * 10  # 110 chars -> 2 chunks (64-wide, stride 48)
        docs = spark.createDataFrame(
            [(1, doc)], "doc_id long, text string"
        )
        ws = text_profile.chunk_documents(docs, 64, 16).collect()
        assert len(ws) == 1, "ws mode: whole CJK doc is one token"
        mx = text_profile.chunk_documents(
            docs, 64, 16, token_mode="mixed"
        ).collect()
        assert [r["n_chunk_tokens"] for r in sorted(
            mx, key=lambda r: r["chunk_id"]
        )] == [64, 62]

    def test_runs_mode_keeps_cjk_runs_whole(self, spark):
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.functions.text import (
            tokens,
        )

        df = spark.createDataFrame(
            [(1, f"latin {CJK} more")], "doc_id long, text string"
        ).select(tokens(F.col("text"), "runs").alias("tk"))
        assert df.first()["tk"] == ["latin", CJK, "more"]

    def test_bpe_merges_learn_cjk_pairs(self, spark):
        """Under 'runs' pre-tokenization a CJK run is one base word,
        so BPE learns ideograph pair merges within it — under ws mode
        the run glues to adjacent Latin and under 'mixed' each char is
        its own word (nothing to merge within)."""
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
            bpe,
        )

        docs = spark.createDataFrame(
            [(i, f"{CJK[:4]} {CJK[:2]}") for i in range(4)],
            "doc_id long, text string",
        )
        merges = bpe.train_merges(
            docs, n_merges=4, top_words=8, token_mode="runs"
        )
        assert merges, "no merges learned from CJK runs"
        assert any(
            all(ch in CJK[:4] for ch in m.replace("\x01", ""))
            for m in merges
        )


def test_make_sink_rejects_protocol_knobs_off_manifest(spark, tmp_path):
    with pytest.raises(ValueError, match="materialize_tombstones_after"):
        make_sink(
            spark, str(tmp_path), keys={"t": ["k"]},
            backend="delta", materialize_tombstones_after=2,
        )
    with pytest.raises(ValueError, match="tier_factor"):
        make_sink(
            spark, str(tmp_path), keys={"t": ["k"]},
            backend="delta", tier_factor=3.0,
        )
