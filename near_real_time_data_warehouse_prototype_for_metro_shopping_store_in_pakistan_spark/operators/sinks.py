"""Pluggable transactional insert-if-absent sinks.

Every idempotent table in the engine — the star-schema warehouse
(``operators.etl.ManifestWarehouse``), the curated corpus
(``streaming.corpus``), and the streaming IVF index
(``streaming.ann_index``) — shares ONE protocol: *insert each incoming
row unless a row with its key already exists*. That protocol is the
Spark re-expression of the reference's per-row ``alreadyExists`` +
INSERT pattern (src/Meshjoin.java:612-626), and it is what makes
at-least-once streaming replays no-ops.

Two physical backends implement it (``BACKENDS``):

- ``ManifestParquetSink`` (``"manifest"``, the default of every
  constructor): plain parquet with CRASH-ATOMIC visibility AND
  optimistic concurrency — each batch is staged as an immutable
  segment directory and published by one atomic exclusive rename to
  its segment number; two concurrent writers serialize without a
  coordinator (the loser re-reads the now-visible segments, re-runs
  its anti-join, and retries with the next number), and a crashed
  batch is an invisible orphan instead of a half-visible table.
  Compactions and deletes commit through the same rename, and
  auto-compaction runs inline in the insert that triggers it. No
  optional dependency, so the transactional commit semantics are
  tested in every environment.
- ``DeltaMergeSink`` (``"delta"``): the same contract as one atomic
  ``MERGE ... WHEN NOT MATCHED THEN INSERT`` per batch against a
  Delta table. Env-gated on the ``delta`` package (like the PIL image
  path): constructing it without ``delta-spark`` installed raises
  ``ImportError``, and tests for it are skip-marked where the package
  is absent. ``"auto"`` picks it when importable.

Both backends expose the same methods (``path``, ``read``,
``insert_if_absent``, ``delete_keys``), so every façade takes a
``backend=`` switch and the streaming/replay semantics are
backend-independent (asserted by the shared contract tests in
tests/test_sinks.py). The snapshot surface (time travel, diffs,
compaction, tombstones, zone maps) is manifest-only; its options are
validated by backend name in ``manifest_options``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def delta_available() -> bool:
    """True when the ``delta-spark`` package is importable (the Delta
    backend is optional, like PIL for real image decode)."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _nullable(t):
    """A JSON data type (``DataType.jsonValue``) with every field,
    array element and map value made nullable — parquet reads always
    return nullable types, so a recorded schema must too."""
    if not isinstance(t, dict):
        return t
    kind = t.get("type")
    if kind == "struct":
        return {
            **t,
            "fields": [
                {**f, "nullable": True, "type": _nullable(f["type"])}
                for f in t["fields"]
            ],
        }
    if kind == "array":
        return {
            **t,
            "containsNull": True,
            "elementType": _nullable(t["elementType"]),
        }
    if kind == "map":
        return {
            **t,
            "valueContainsNull": True,
            "keyType": _nullable(t["keyType"]),
            "valueType": _nullable(t["valueType"]),
        }
    return t


def _read_schema_json(schema: T.StructType, parts: list[str]) -> dict:
    """The schema a parquet reader of a segment written from
    ``schema`` (hive-partitioned on ``parts``) returns, as JSON: data
    columns in written order, then the partition columns, all
    nullable."""
    fields = [f for f in schema.fields if f.name not in parts]
    fields += [schema[p] for p in parts]
    return _nullable(T.StructType(fields).jsonValue())


@dataclass
class MergeSink:
    """Shared shape of a keyed insert-if-absent table store.

    ``keys`` maps table name -> dedup key columns; ``partitioning``
    maps table name -> hive partition columns (passed to
    ``partitionBy`` on write).
    """

    spark: SparkSession
    root: str
    keys: dict[str, list[str]] = field(default_factory=dict)
    partitioning: dict[str, list[str]] = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> DataFrame | None:  # pragma: no cover
        raise NotImplementedError

    def insert_if_absent(self, name: str, batch: DataFrame) -> None:  # pragma: no cover
        raise NotImplementedError

    def delete_keys(
        self, name: str, keys_df: DataFrame, on: list[str] | None = None
    ):  # pragma: no cover
        raise NotImplementedError

    def _delete_match(
        self, keys_df: DataFrame, on: list[str]
    ) -> tuple[DataFrame, "F.Column"]:
        """Shared delete-predicate shape: the deduplicated key relation
        renamed to ``__del_*`` plus the null-safe equality condition
        against it (NULL key components match NULL column values, the
        same ``<=>`` semantics every insert-if-absent backend uses).
        ``keys_df`` is pinned with an eager localCheckpoint because a
        caller frequently derives it FROM the table being rewritten
        (e.g. "delete the ids I just read") — a lazy plan would
        recompute from files the rewrite is about to delete."""
        missing = [c for c in on if c not in keys_df.columns]
        if missing:
            raise ValueError(
                f"delete_keys match columns {missing} missing from the "
                f"keys relation (has {keys_df.columns})"
            )
        kd = (
            keys_df.select(*on)
            .dropDuplicates(on)
            .localCheckpoint(eager=True)
        )
        seen = kd.select(*[F.col(c).alias(f"__del_{c}") for c in on])
        cond = F.lit(True)
        for c in on:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__del_{c}"))
        return seen, cond


@dataclass
class DeltaMergeSink(MergeSink):
    """Insert-if-absent as one atomic Delta ``MERGE`` per batch.

    Same contract as ``ManifestParquetSink`` — first writer of a key
    wins, replays are no-ops — with the key-match and the file commit
    as a single transaction in the Delta log. Delta's MERGE also
    prunes files by the per-file key min/max its log keeps.

    Requires the optional ``delta-spark`` package AND a session built
    with the Delta SQL extension + catalog (see
    ``delta_session_builder_conf``); both are environment concerns,
    not logic: every test for this backend is skip-marked when
    ``delta_available()`` is false.
    """

    def __post_init__(self) -> None:
        if not delta_available():
            raise ImportError(
                "DeltaMergeSink requires the optional 'delta-spark' "
                "package (pip install delta-spark) and a SparkSession "
                "configured with the Delta extension/catalog; use the "
                "default 'manifest' backend (ManifestParquetSink) "
                "otherwise — same insert-if-absent contract, with "
                "crash-atomic optimistic-concurrency commits"
            )

    def read(self, name: str) -> DataFrame | None:
        try:
            return self.spark.read.format("delta").load(self.path(name))
        except Exception:
            return None

    def insert_if_absent(self, name: str, batch: DataFrame) -> None:
        from delta.tables import DeltaTable

        key = self.keys[name]
        incoming = batch.dropDuplicates(key)
        path = self.path(name)
        if not DeltaTable.isDeltaTable(self.spark, path):
            writer = incoming.write.format("delta").mode("append")
            parts = self.partitioning.get(name)
            if parts:
                writer = writer.partitionBy(*parts)
            writer.save(path)
            return
        target = DeltaTable.forPath(self.spark, path)
        # <=> so NULL key components behave like the manifest
        # backend's anti-join (SQL null-safe equality, not three-valued =)
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key)
        (
            target.alias("t")
            .merge(incoming.alias("s"), cond)
            .whenNotMatchedInsertAll()
            .execute()
        )

    def delete_keys(
        self, name: str, keys_df: DataFrame, on: list[str] | None = None
    ) -> bool:
        """Key-targeted delete as one atomic Delta
        ``MERGE ... WHEN MATCHED THEN DELETE`` — transactional in the
        Delta log, correct under concurrent writers (the form the
        manifest backend's OCC rewrite reproduces without the
        dependency). Same match semantics as the other backends:
        null-safe equality on ``on`` (default the table's key).
        Returns False when the table does not exist yet OR when no
        visible row matched — the replay-is-a-no-op contract every
        backend implements (a probing left-semi join runs before the
        MERGE so a duplicate/replayed takedown reports "nothing
        deleted" instead of a false positive to its caller)."""
        from delta.tables import DeltaTable

        on = list(on or self.keys[name])
        path = self.path(name)
        if not DeltaTable.isDeltaTable(self.spark, path):
            return False
        seen, cond_df = self._delete_match(keys_df, on)
        existing = self.read(name)
        if existing is None or (
            existing.join(seen, cond_df, "left_semi").isEmpty()
        ):
            return False  # nothing matched — replay no-op
        target = DeltaTable.forPath(self.spark, path)
        cond = " AND ".join(f"t.{c} <=> s.{c}" for c in on)
        (
            target.alias("t")
            .merge(keys_df.select(*on).dropDuplicates(on).alias("s"), cond)
            .whenMatchedDelete()
            .execute()
        )
        return True


@dataclass
class ManifestParquetSink(MergeSink):
    """Insert-if-absent with CRASH-ATOMIC visibility on plain parquet —
    no table-format dependency, testable everywhere (unlike the
    env-gated Delta backend).

    Each batch is STAGED as a complete immutable directory (data
    part-files, hive-partitioned when configured, plus its
    ``_COMMITTED.json`` manifest) under ``<table>/_stage_<token>/``,
    then PUBLISHED by one atomic exclusive rename to
    ``<table>/seg_<n>/``. The rename is simultaneously the commit
    point and the claim on segment number ``n``: it cannot replace an
    existing ``seg_<n>`` (POSIX rename onto a non-empty directory
    fails), so exactly one writer wins each number. Readers union ONLY
    published segments, so a crash mid-write leaves an invisible
    staging orphan, never a half-visible table (a plain parquet
    append that dies between writing some part-files and finishing
    leaks partial rows into the next read's anti-join AND into
    queries).

    OPTIMISTIC CONCURRENCY across writers: a writer anti-joins against
    the segments visible at its read, then attempts to publish at
    ``n = max(visible)+1``. Numbers are only ever attempted at
    current-max+1, so publishes are dense and strictly ordered — if a
    writer's rename succeeds, no segment numbered below it committed
    after the writer's read, hence its anti-join saw every committed
    key. A loser (rename fails because another writer took ``n``)
    discards its staged directory, re-reads the now-visible segments,
    re-runs the anti-join, and retries at the new next number — so two
    concurrent writers serialize without a coordinator and
    first-writer-wins still holds per key.

    Besides the file list, each manifest records the segment's read
    schema (readers pass it to Spark instead of inferring it from a
    footer, one Spark job per read saved) and, for commits made
    through ``insert_with_horizon``, the source snapshot an
    incremental consumer has folded to (``horizon``).

    Superseded-directory GC (after compaction) assumes a one-batch
    vacuum horizon, exactly like Delta's VACUUM: a lazy reader plan
    older than one writer turn may lose its files and must re-read.

    ``compact(name, since=, upto=)`` bounds the small-file growth
    streaming cadence causes (one immutable segment dir per
    micro-batch, forever): it rewrites the live segments in
    ``(since, upto]`` into ONE new segment whose rows carry their
    first-admission snapshot number in a ``_snapshot`` column and
    whose manifest lists the ``covers`` snapshot numbers — so all
    historical ``snapshots()``/``read_at()``/``added_between()``
    answers are preserved bit-for-bit while the read path drops from
    O(batches) directories to O(tiers). Publishing the covering
    segment is the commit point (covered dirs become invisible the
    instant it lands, deleted afterwards as cleanup), keeping the
    crash-atomicity story intact.
    """

    # When set, ``insert_if_absent`` compacts the table as soon as
    # the LIVE segment count exceeds this bound — the streaming-sink
    # policy knob that keeps the read path O(bound) directories at
    # any micro-batch cadence without an external maintenance job.
    # The policy is SIZE-TIERED (LSM-style): only the newest run of
    # comparably-sized segments merges (see _tier_since); a large
    # previously-compacted segment is rewritten only when the
    # accumulated newer data grows to within ``tier_factor`` of it,
    # so cumulative compaction writes are O(N log N) bytes over N
    # batches instead of the O(N^2/bound) a full rewrite every
    # `bound` batches would cost.
    auto_compact_segments: int | None = None

    # Tombstone-debt bound: when set, as soon as the count of LIVE
    # tombstone segments (delete_keys mode="tombstone") reaches this
    # bound, the table is FULLY rewritten with
    # compact(materialize_deletes=True) — restoring the multi-path
    # fast reader (outstanding tombstones force per-segment tagged
    # reads + a conditional anti-join per read: a measured ~8x read
    # tax on a 10M-row table, SCALE.md). This is the storage-policy
    # answer to a takedown QUEUE: each delete commits O(keys) now,
    # and the O(table) rewrite is paid once per `bound` deletes
    # instead of per delete. Checked after every tombstone delete and
    # every insert, inline like the segment-count policy.
    materialize_tombstones_after: int | None = None

    # Size-tiered merge aggressiveness: a next-older segment joins
    # the merging tail only while its bytes are <= tier_factor x the
    # tail's accumulated bytes. 2.0 = classic geometric tiers; larger
    # values merge deeper (fewer live segments, more rewrite bytes).
    tier_factor: float = 2.0

    # Zone maps: table name -> columns whose per-segment [min, max]
    # is recorded in the committing manifest, harvested from the
    # parquet FOOTERS of the staged files (metadata-only — no extra
    # scan of the data; the writers already wrote the statistics).
    # ``scan(name, ranges)`` then skips whole segments whose recorded
    # range cannot intersect the predicate — Iceberg/Delta file
    # skipping at segment granularity. On an event-time-keyed stream
    # (each micro-batch covers a narrow timestamp/id band) a range
    # query reads O(matching segments) instead of O(all segments).
    # Timestamp and date stats are recorded as fixed-width ISO
    # strings, and ``scan`` reads datetime, date and string bounds on
    # such columns as times (``_zone_bound``). Columns with other
    # non-JSON-native footer stats (nested) and hive-partition columns
    # (their values live in directory names, not footers) record no
    # stats and are simply never pruned on — conservative, never
    # incorrect.
    stats_cols: dict[str, list[str]] = field(default_factory=dict)

    # Schema evolution (ADD-column only, the Delta/Iceberg default):
    # when False (default) a batch whose column set differs from the
    # table's raises a loud ValueError naming the exact difference —
    # a typo'd column should fail, not silently fork the schema. When
    # True, a batch may carry NEW columns (old segments backfill NULL
    # at read) and may omit existing non-key columns (filled with
    # typed NULLs at write). Readers always return the table's
    # CURRENT unified schema — including ``read_at`` time travel,
    # which backfills columns added after the snapshot with typed
    # NULLs so its column set is STABLE across later adds and
    # compactions (declared deviation from Delta, which replays the
    # historical schema: one schema per table keeps every
    # union/anti-join in this sink single-shaped). Key columns can
    # never evolve away (the anti-join requires them in every
    # segment).
    allow_schema_evolution: bool = False

    def _table_dir(self, name: str) -> str:
        return self.path(name)

    def _list_committed(
        self, name: str
    ) -> tuple[list[tuple[int, str, dict]], set[int]]:
        """(committed (number, segment dir, manifest meta) ascending,
        ALL claimed numbers — committed plus crashed claims, which
        must never be re-issued). A segment is ``seg_<n>/`` holding
        its data files and ``_COMMITTED.json``; a dir without a
        readable manifest is a crashed claim (invisible)."""
        import json

        tdir = self._table_dir(name)
        committed: list[tuple[int, str, dict]] = []
        claimed: set[int] = set()
        if not os.path.isdir(tdir):
            return committed, claimed
        for d in os.listdir(tdir):
            if not (d.startswith("seg_") and d[4:].isdigit()):
                continue
            n = int(d[4:])
            p = os.path.join(tdir, d)
            claimed.add(n)
            try:
                with open(os.path.join(p, "_COMMITTED.json")) as fh:
                    meta = json.load(fh)
                meta["files"]
            except (OSError, ValueError, KeyError):
                continue  # uncommitted / crashed — invisible
            committed.append((n, p, meta))
        committed.sort()
        return committed, claimed

    def _segments(
        self, name: str
    ) -> tuple[list[tuple[int, str, list[int] | None]], list[int], int]:
        """(live committed NON-EMPTY DATA (number, dir, covers)
        ascending, ALL committed snapshot numbers ascending, next free
        segment number). Tombstone segments (see ``delete_keys``
        ``mode="tombstone"``) are NOT data: they are excluded here
        (listed by ``_split_live``) but their numbers remain
        snapshots.

        ``covers`` is None for a plain per-batch segment and the list
        of superseded snapshot numbers for a compacted segment (whose
        rows carry a ``_snapshot`` first-admission column). A segment
        whose number appears in any committed segment's ``covers`` is
        superseded: its directory is skipped by scans (and normally
        deleted by ``compact``), but its number remains a valid
        snapshot, answered from the covering segment's ``_snapshot``
        column. A fully-deduplicated replay batch commits a zero-file
        segment — valid (the commit records the batch happened, and it
        is a snapshot id) but skipped by scans, since an empty parquet
        directory has no schema."""
        live, _, all_nums, nxt = self._split_live(name)
        return live, all_nums, nxt

    def _split_live(
        self,
        name: str,
        listing: tuple[list[tuple[int, str, dict]], set[int]] | None = None,
    ) -> tuple[
        list[tuple[int, str, list[int] | None]],
        list[tuple[int, str, list[str]]],
        list[int],
        int,
    ]:
        """(live DATA segments, live TOMBSTONE segments (number, dir,
        match columns) ascending, all committed snapshot numbers, next
        free number) — the tombstone-aware twin of ``_segments``.
        ``listing`` is a ``_list_committed(name)`` result to split
        instead of listing again (a caller that reads other manifest
        fields from the same listing)."""
        rows, claimed = listing or self._list_committed(name)
        committed = []  # (num, dir, covers, nonempty, tombstone_on)
        superseded: set[int] = set()
        for n, p, meta in rows:
            covers = self._parse_covers(meta)
            if covers is not None:
                superseded.update(covers)
            committed.append(
                (n, p, covers, bool(meta["files"]),
                 meta.get("tombstone_on"))
            )
        all_nums = sorted(
            {n for n, _, _, _, _ in committed} | superseded
        )
        live = [
            (n, p, covers)
            for n, p, covers, nonempty, ts in committed
            if nonempty and n not in superseded and ts is None
        ]
        tombs = [
            (n, p, list(ts))
            for n, p, _, nonempty, ts in committed
            if nonempty and n not in superseded and ts is not None
        ]
        # next free number clears every number ever seen: claimed
        # (committed or crashed) AND covered numbers whose dirs may
        # already be deleted — a reused snapshot id would corrupt
        # time travel
        seen = claimed | superseded
        nxt = max(seen) + 1 if seen else 0
        return live, tombs, all_nums, nxt

    @staticmethod
    def _parse_covers(meta: dict):
        """The superseded snapshot numbers of a committed manifest as
        an ASCENDING sequence, or None for a plain segment. Committed
        numbers are dense (each publish claims current-max+1), so a
        compaction's covers set is contiguous and is stored as
        ``covers_range: [lo, hi]`` — O(1) manifest bytes instead of a
        list that grows with every micro-batch ever ingested (at 1M
        batches a list manifest is ~8 MB, re-written per compaction
        and re-parsed per listing). Decoded to a lazy ``range``;
        legacy ``covers`` lists are still read."""
        cr = meta.get("covers_range")
        if cr is not None:
            return range(int(cr[0]), int(cr[1]) + 1)
        return meta.get("covers")

    def _manifest_min_row(self, seg: str, covers) -> int:
        """Visibility floor of a compacted segment: the smallest
        first-admission ``_snapshot`` among its rows, recorded in the
        covering manifest at compaction time (``min_row``). Falls back
        to ``min(covers)`` for manifests written before the field
        existed (conservative: may under-floor, never over-floor)."""
        import json

        try:
            with open(os.path.join(seg, "_COMMITTED.json")) as fh:
                meta = json.load(fh)
            mr = meta.get("min_row")
            if mr is not None:
                return int(mr)
        except (OSError, ValueError):
            pass
        return covers[0] if covers else 0  # ascending by invariant

    def _stage_segment(
        self,
        name: str,
        df: DataFrame | None,
        covers: set[int] | None = None,
        min_row: int | None = None,
        tombstone_on: list[str] | None = None,
        redacted_at: list[int] | None = None,
        upto: int | None = None,
        drop_if_empty: bool = False,
    ) -> str:
        """Write ``df`` (hive-partitioned when configured) plus its
        complete ``_COMMITTED.json`` manifest into a fresh staging
        directory and return the staging path. The directory is a
        fully-formed segment — publishing it is a single rename (see
        ``_publish``). ``df=None`` stages a zero-file segment: a
        manifest-only commit (it carries ``upto`` — see
        ``insert_with_horizon``). With
        ``drop_if_empty``, a write the footers prove held 0 rows is
        turned into one too (its empty part-files are deleted), so
        scans never open it.

        The manifest records the staged data bytes (``bytes``) so the
        size-tiered auto-compaction policy reads segment sizes from
        manifests, never by walking data directories, the row count
        (``rows``, omitted when any footer is unreadable — an
        undercount would make ``window_admission_rows`` report an
        admitting window as empty), and the segment's READ schema
        (``schema``: data columns, then partition columns, all
        nullable — what parquet inference would return), which readers
        pass to ``spark.read.schema`` instead of paying one inference
        job per read (see ``_read_parquet``)."""
        import glob
        import json
        import shutil
        import uuid

        stage = os.path.join(
            self._table_dir(name),
            f"_stage_{os.getpid()}_{uuid.uuid4().hex[:12]}",
        )
        # tombstone segments hold the bare key relation — never the
        # table's hive layout (the partition columns may not exist)
        parts = (None if tombstone_on else self.partitioning.get(name)) or []
        if df is None:
            os.makedirs(stage)
            files: list[str] = []
        else:
            writer = df.write.mode("error")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(stage)
            files = sorted(
                os.path.relpath(p, stage)
                for p in glob.glob(
                    os.path.join(stage, "**", "*.parquet"), recursive=True
                )
            )
        import pyarrow.parquet as papq

        nbytes = 0
        nrows: int | None = 0
        for rel in files:
            fp = os.path.join(stage, rel)
            try:
                nbytes += os.path.getsize(fp)
                n = papq.ParquetFile(fp).metadata.num_rows
            except OSError:
                nrows = None
                continue
            if nrows is not None:
                nrows += n
        if drop_if_empty and files and nrows == 0:
            shutil.rmtree(stage)
            os.makedirs(stage)
            files, nbytes, df = [], 0, None
        meta: dict = {"files": files, "bytes": nbytes}
        if nrows is not None:
            meta["rows"] = nrows
        if df is not None:
            meta["schema"] = _read_schema_json(df.schema, parts)
        if upto is not None:
            meta["upto"] = int(upto)
        if tombstone_on is not None:
            meta["tombstone_on"] = list(tombstone_on)
        if redacted_at:
            # snapshots at which visible history was REDACTED (rewrite
            # deletes, tombstone materializations, retention expiry) —
            # carried forward by every covering commit so the full
            # redaction history survives compaction chains and GC of
            # covered dirs. Read by redactions_between; the signal
            # incremental consumers (etl.MaintainedAggregate) use to
            # know their folded history was rewritten under them.
            meta["redacted_at"] = sorted(set(redacted_at))
        if covers is not None:
            cs = sorted(covers)
            if cs and cs[-1] - cs[0] + 1 == len(cs):
                meta["covers_range"] = [cs[0], cs[-1]]  # contiguous
            else:
                meta["covers"] = cs
            meta["min_row"] = min_row
        stat_cols = self.stats_cols.get(name)
        if stat_cols:
            seg_stats, file_stats = self._footer_stats(
                stage, files, stat_cols
            )
            meta["stats"] = seg_stats
            meta["file_stats"] = file_stats
        with open(os.path.join(stage, "_COMMITTED.json"), "w") as fh:
            json.dump(meta, fh)
        return stage

    @staticmethod
    def _stat_value(v):
        """Normalize a footer statistic (or a caller's range bound) to
        a JSON-native, ORDER-PRESERVING value. Timestamps become
        fixed-width UTC ISO strings (microseconds always printed, so
        lexicographic order == chronological order); naive datetimes
        are taken as already-UTC (Spark's parquet representation).
        None = unsupported type (the column records no stats)."""
        import datetime as _dt

        if isinstance(v, bool) or isinstance(v, (int, float, str)):
            return v
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
        if isinstance(v, _dt.date):
            return v.strftime("%Y-%m-%d")
        return None

    @staticmethod
    def _zone_bound(v, typ, upper: bool):
        """A caller's range bound (``upper`` or lower) in the zone-map
        form of a column of Spark type ``typ`` (its JSON name in the
        manifest-recorded schema; None when unknown). On a timestamp
        or date column a ``date`` bound is midnight and a string bound
        is parsed as an ISO date or date-time (``"2024-01-05"``,
        ``"2024-01-05 10:00:00"``, ``"2024-01-05T10:00:00"``), the way
        the scan's filter casts it, so it orders against the stats'
        fixed-width ISO strings by time instead of as text. On a date
        column the filter casts a string bound to its date but widens
        the column to midnight against a date-time bound, so a lower
        date-time bound past midnight starts at the next day. On any
        other column, or one of unknown type (a manifest without a
        recorded schema), the bound keeps its ``_stat_value`` form.
        Raises ValueError when the bound does not parse — the caller
        then never prunes on the column."""
        import datetime as _dt

        if typ in ("timestamp", "timestamp_ntz", "date"):
            text = isinstance(v, str)
            if text:
                v = _dt.datetime.fromisoformat(v)
            elif isinstance(v, _dt.date) and not isinstance(
                v, _dt.datetime
            ):
                v = _dt.datetime.combine(v, _dt.time())
            if not isinstance(v, _dt.datetime):
                raise ValueError(f"{v!r} is not a {typ} bound")
            iso = ManifestParquetSink._stat_value(v)
            if typ != "date":
                return iso
            day = _dt.date.fromisoformat(iso[:10])
            if not (upper or text or iso.endswith("T00:00:00.000000")):
                day += _dt.timedelta(days=1)
            return day.isoformat()
        out = ManifestParquetSink._stat_value(v)
        if out is None:
            raise ValueError(f"{v!r} has no zone-map form")
        return out

    def _zone_ranges(
        self,
        live: list[tuple[int, str, list[int] | None]],
        ranges: dict[str, tuple],
    ) -> dict[str, tuple]:
        """``ranges`` with every bound in its column's zone-map form
        (``_zone_bound``; column types from the live segments'
        recorded schemas). A column with a bound that does not parse
        is left out, so no segment or file is pruned on it."""
        types: dict = {}
        for _, seg, _ in live:
            if set(ranges) <= set(types):
                break
            rec = self._manifest_meta(seg).get("schema") or {}
            for f in rec.get("fields", []):
                types.setdefault(f["name"], f["type"])
        zones = {}
        for c, bounds in ranges.items():
            try:
                zones[c] = tuple(
                    None if b is None
                    else self._zone_bound(b, types.get(c), upper)
                    for b, upper in zip(bounds, (False, True))
                )
            except ValueError:
                continue
        return zones

    @staticmethod
    def _footer_stats(
        stage: str, files: list[str], cols: list[str]
    ) -> tuple[dict[str, list | None], dict[str, dict[str, list | None]]]:
        """(segment-level, per-FILE) [min, max] per column over every
        row group, read from the parquet FOOTERS (pyarrow metadata —
        no data scan). A column records None — and is then never
        pruned on — when any row group with non-null values lacks
        usable min/max (missing column, non-JSON-native type,
        suppressed stats); all-null row groups are SKIPPED, not
        disqualifying: a NULL never satisfies a range predicate, so
        non-null bounds stay sufficient for pruning. The per-file map
        is what makes CLUSTERED compaction pay off: one sorted
        range-partitioned segment with disjoint per-file bands prunes
        to O(matching files) on the clustered column."""
        import pyarrow.parquet as papq

        per_file: dict[str, dict[str, list | None]] = {}
        for rel in files:
            md = papq.ParquetFile(os.path.join(stage, rel)).metadata
            names = {
                md.schema.column(i).path: i for i in range(md.num_columns)
            }
            entry: dict[str, list | None] = {}
            for c in cols:
                i = names.get(c)
                if i is None:
                    entry[c] = None
                    continue
                ok, lo, hi = True, None, None
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(i)
                    st = col.statistics
                    if st is not None and st.null_count == col.num_values:
                        continue  # all-null row group: unprunable rows
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mn = ManifestParquetSink._stat_value(st.min)
                    mx = ManifestParquetSink._stat_value(st.max)
                    if mn is None or mx is None:
                        ok = False
                        break
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
                # [] = the file holds NO non-null value for c (every
                # row is NULL there — prunable by any bounded range);
                # None = stats unusable (never pruned)
                if not ok:
                    entry[c] = None
                elif lo is None:
                    entry[c] = []
                else:
                    entry[c] = [lo, hi]
            per_file[rel] = entry
        seg: dict[str, list | None] = {}
        for c in cols:
            vals = [per_file[f][c] for f in files]
            if any(v is None for v in vals):
                seg[c] = None  # one unusable file blinds the segment
                continue
            bounded = [v for v in vals if v]
            if bounded:
                seg[c] = [
                    min(v[0] for v in bounded),
                    max(v[1] for v in bounded),
                ]
            else:
                seg[c] = [] if vals else None  # all-null (or no files)
        return seg, per_file

    def _manifest_meta(self, seg: str) -> dict:
        import json

        try:
            with open(os.path.join(seg, "_COMMITTED.json")) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _recorded_schema(self, segs: list[str]) -> T.StructType | None:
        """The read schema every segment in ``segs`` recorded at
        commit, or None — infer instead — when one did not (a manifest
        written before the field existed), when they differ, or under
        ``allow_schema_evolution`` (footer merging unifies there)."""
        if self.allow_schema_evolution:
            return None
        first = None
        for seg in segs:
            rec = self._manifest_meta(seg).get("schema")
            if rec is None or (first is not None and rec != first):
                return None
            first = rec
        return None if first is None else T.StructType.fromJson(first)

    def _read_parquet(
        self, segs: list[str], paths: list[str] | None = None
    ) -> DataFrame:
        """One parquet reader over the segment directories ``segs`` (or
        over ``paths``, data files inside them) with the schema their
        manifests recorded, so the read launches no inference job;
        inferred — merging footers under ``allow_schema_evolution`` —
        when there is no common recorded schema."""
        reader = self.spark.read
        schema = self._recorded_schema(segs)
        if schema is not None:
            reader = reader.schema(schema)
        elif self.allow_schema_evolution:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*(segs if paths is None else paths))

    def _segment_stats(self, seg: str) -> dict[str, list | None]:
        """The committed manifest's zone-map entry ({} when the
        segment predates ``stats_cols`` or records none)."""
        return self._manifest_meta(seg).get("stats") or {}

    @staticmethod
    def _may_match(
        stats: dict[str, list | None],
        ranges: dict[str, tuple],
    ) -> bool:
        """False only when some predicate column's recorded [min, max]
        is PROVABLY disjoint from its queried range (bounds already in
        zone-map form, see ``_zone_ranges``) — unknown stats (None)
        always scan (conservative, never incorrect). A recorded ``[]``
        means the unit holds no non-null value for the column:
        prunable by any BOUNDED range (NULL never satisfies one), read
        for a degenerate unbounded one."""
        for c, (qlo, qhi) in ranges.items():
            rec = stats.get(c)
            if rec is None:
                continue
            if not rec:
                if qlo is not None or qhi is not None:
                    return False
                continue
            mn, mx = rec
            if qlo is not None and mx < qlo:
                return False
            if qhi is not None and mn > qhi:
                return False
        return True

    def scan(
        self,
        name: str,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame | None:
        """Predicate-pruned read: like ``read`` but skips every live
        segment whose zone maps prove it cannot contain a row matching
        ``ranges`` ({col: (lo, hi)}, either bound None = unbounded),
        then applies the SAME predicate as a real filter on the
        survivors — pruning is an access-path optimization, never a
        semantic change (``scan(name, r)`` ≡ ``read(name).filter(r)``,
        asserted by the contract tests). None when no segment survives
        (provably-empty result without touching one data file)."""
        live, tombs, _, _ = self._split_live(name)
        if ranges:
            zones = self._zone_ranges(live, ranges)
            live = [
                t for t in live
                if self._may_match(self._segment_stats(t[1]), zones)
            ]
        if ranges and not tombs and not self.partitioning.get(name):
            df = self._read_pruned_files(name, live, zones)
        else:
            # hive-partitioned tables keep per-segment directory reads
            # (partition pruning handles the partition columns; direct
            # file paths would lose partition-value discovery);
            # outstanding tombstones force the tagged read too
            # (segment-level zone pruning above still applies — fewer
            # rows can never resurrect a deleted key)
            df = self._read_live(name, live, tombs)
        if df is None or not ranges:
            return df
        for c, (qlo, qhi) in ranges.items():
            if qlo is not None:
                df = df.filter(F.col(c) >= F.lit(qlo))
            if qhi is not None:
                df = df.filter(F.col(c) <= F.lit(qhi))
        return df

    def _pruned_paths(
        self,
        live: list[tuple[int, str, list[int] | None]],
        ranges: dict[str, tuple],
    ) -> tuple[list[str], list[str], int]:
        """(surviving plain file paths, surviving compacted file
        paths, total live files): within each surviving segment, drop
        every data file whose per-file zone maps prove it disjoint
        from ``ranges`` (the clustered-compaction payoff — a sorted
        range-partitioned segment has disjoint per-file bands);
        segments without per-file stats keep all their files."""
        plain: list[str] = []
        compacted: list[str] = []
        total = 0
        for _, seg, covers in live:
            meta = self._manifest_meta(seg)
            files = meta.get("files") or []
            total += len(files)
            fstats = meta.get("file_stats") or {}
            keep = [
                f for f in files
                if self._may_match(fstats.get(f) or {}, ranges)
            ]
            (plain if covers is None else compacted).extend(
                os.path.join(seg, f) for f in keep
            )
        return plain, compacted, total

    def _read_pruned_files(
        self,
        name: str,
        live: list[tuple[int, str, list[int] | None]],
        ranges: dict[str, tuple],
    ) -> DataFrame | None:
        plain, compacted, _ = self._pruned_paths(live, ranges)
        dfs = []
        if plain:
            segs = [seg for _, seg, covers in live if covers is None]
            dfs.append(self._read_parquet(segs, plain))
        if compacted:
            segs = [seg for _, seg, covers in live if covers is not None]
            dfs.append(
                self._read_parquet(segs, compacted).drop("_snapshot")
            )
        if not dfs:
            return None
        out = dfs[0]
        for df in dfs[1:]:
            out = self._union(out, df)
        return out

    def prune_report(
        self, name: str, ranges: dict[str, tuple]
    ) -> tuple[int, int]:
        """(live segments, segments a ``scan`` with ``ranges`` would
        read) — the zone-map effectiveness evidence scalecheck pins."""
        live, _, _ = self._segments(name)
        zones = self._zone_ranges(live, ranges)
        kept = [
            t for t in live
            if self._may_match(self._segment_stats(t[1]), zones)
        ]
        return len(live), len(kept)

    def prune_files_report(
        self, name: str, ranges: dict[str, tuple]
    ) -> tuple[int, int]:
        """(live data files, files a ``scan`` with ``ranges`` would
        open) — the FILE-granular twin of ``prune_report``, the number
        a clustered compaction drives toward O(matching bands)."""
        live, _, _ = self._segments(name)
        zones = self._zone_ranges(live, ranges)
        live = [
            t for t in live
            if self._may_match(self._segment_stats(t[1]), zones)
        ]
        plain, compacted, _ = self._pruned_paths(live, zones)
        total = 0
        for _, seg, _c in self._segments(name)[0]:
            total += len(self._manifest_meta(seg).get("files") or [])
        return total, len(plain) + len(compacted)

    @staticmethod
    def _is_vanished_input(exc: Exception) -> bool:
        """True when a Spark job died because its input files were
        removed underneath it — the signature of racing a concurrent
        compaction's covered-dir cleanup. The OCC loops treat this
        like a lost rename: discard and redo against a fresh listing."""
        msg = str(exc)
        return (
            "FileNotFoundException" in msg
            or "PATH_NOT_FOUND" in msg
            or "does not exist" in msg
        )

    def _publish(self, name: str, stage: str, num: int) -> bool:
        """Atomically publish a staged segment as snapshot ``num`` by
        one POSIX exclusive directory rename of the stage to
        ``seg_<num>`` — simultaneously the commit point and the claim
        (rename onto an existing non-empty dir fails). False when
        another writer already owns the number (the OCC loser
        signal)."""
        seg = os.path.join(self._table_dir(name), f"seg_{num}")
        try:
            os.rename(stage, seg)
            return True
        except OSError:
            return False

    def snapshots(self, name: str) -> list[int]:
        """Committed segment numbers, ascending — every one is a
        REPRODUCIBLE dataset version: ``read_at(name, s)`` returns the
        table exactly as it stood when segment ``s`` committed,
        forever (segments are immutable). This is the dataset-
        versioning surface a training pipeline pins its runs to — "we
        trained on snapshot 41" stays re-readable after any number of
        later batches. Crashed (uncommitted) segments are not
        snapshots."""
        _, all_nums, _ = self._segments(name)
        return all_nums

    def read_at(self, name: str, snapshot: int) -> DataFrame | None:
        """The table as of ``snapshot`` (inclusive): the union of
        committed non-empty segments numbered <= snapshot, plus — for
        compacted segments — their rows whose first-admission
        ``_snapshot`` is <= snapshot. Identical before and after
        ``compact`` by construction, INCLUDING the None case: None
        when no row is visible at that point (a compacted segment is
        skipped when its recorded ``min_row`` visibility floor — the
        smallest first-admission snapshot among its rows — exceeds
        ``snapshot``, exactly when its pre-compaction constituents
        were all empty or later)."""
        live, tombs, all_nums, _ = self._split_live(name)
        if snapshot not in all_nums:
            raise ValueError(
                f"unknown snapshot {snapshot} for table {name!r}: "
                f"committed snapshots are {all_nums}"
            )
        out = None
        for n, seg, covers in live:
            if covers is None:
                if n > snapshot:
                    continue
                df = self._read_parquet([seg]).withColumn(
                    "_snapshot", F.lit(n).cast("long")
                )
            else:
                if self._manifest_min_row(seg, covers) > snapshot:
                    continue
                df = self._read_parquet([seg]).filter(
                    F.col("_snapshot") <= F.lit(snapshot)
                )
            out = df if out is None else self._union(out, df)
        if out is not None:
            if tombs:
                # tombstone-mode time travel is VISIBLE-ONLY-BELOW-
                # HORIZON (declared): deletes committed at or before
                # `snapshot` apply; later deletes have not happened
                # yet, so pre-delete history keeps serving the row —
                # the opposite trade from mode="rewrite"'s redaction
                out = self._apply_tombstones(out, tombs, upto=snapshot)
            out = out.drop("_snapshot")
        if out is not None and self.allow_schema_evolution:
            # project to the table's CURRENT unified schema: columns
            # added after `snapshot` backfill typed NULLs, so the
            # column set of read_at(name, s) is stable across later
            # adds AND across compactions (which otherwise fold later
            # columns into the covering segment's files)
            cur = self._read_live(name, live, tombs)
            if cur is not None:
                for f in cur.schema.fields:
                    if f.name not in out.columns:
                        out = out.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                out = out.select(*cur.columns)
        return out

    def read(self, name: str) -> DataFrame | None:
        live, tombs, _, _ = self._split_live(name)
        return self._read_live(name, live, tombs)

    def _align_schema(
        self, name: str, incoming: DataFrame, existing: T.StructType
    ) -> DataFrame:
        """Reconcile a batch's columns with the table's (``existing``,
        its live read schema): identical sets are re-ordered to the
        table's order; differing sets either fail loudly (default) or
        — under ``allow_schema_evolution`` — fill omitted non-key
        columns with typed NULLs and append new columns (sorted, for a
        stable staged layout)."""
        inc, exi = set(incoming.columns), set(existing.names)
        if inc == exi:
            return incoming.select(*existing.names)
        if not self.allow_schema_evolution:
            raise ValueError(
                f"schema mismatch for table {name!r}: batch adds "
                f"{sorted(inc - exi)}, omits {sorted(exi - inc)}; "
                "construct the sink with allow_schema_evolution=True "
                "to add columns"
            )
        missing_keys = set(self.keys[name]) - inc
        if missing_keys:
            raise ValueError(
                f"batch for table {name!r} omits key columns "
                f"{sorted(missing_keys)} — keys cannot evolve away"
            )
        for c in exi - inc:
            incoming = incoming.withColumn(
                c, F.lit(None).cast(existing[c].dataType)
            )
        return incoming.select(*existing.names, *sorted(inc - exi))

    def _union(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return a.unionByName(
            b, allowMissingColumns=self.allow_schema_evolution
        )

    def _apply_tombstones(
        self,
        out: DataFrame,
        tombs: list[tuple[int, str, list[str]]],
        upto: int | None = None,
    ) -> DataFrame:
        """Apply live tombstone segments (``delete_keys``
        ``mode="tombstone"``) to a data relation carrying a per-row
        ``_snapshot`` first-admission column: a tombstone committed at
        snapshot T hides exactly the rows admitted BEFORE T — so a key
        re-inserted after its delete survives (its new row's snapshot
        is above every tombstone that names it). One broadcast
        conditional anti-join per distinct match-column signature
        (normally one); the tombstone relation is O(deleted keys) —
        that asymmetry is the whole point of the mode. ``upto`` caps
        which tombstones apply (time travel: deletes after the read
        snapshot have not happened yet)."""
        groups: dict[tuple, list[tuple[int, str]]] = {}
        for n, p, on in tombs:
            if upto is not None and n > upto:
                continue
            groups.setdefault(tuple(on), []).append((n, p))
        for on, segs in groups.items():
            trel = None
            for n, p in segs:
                t = (
                    self._read_parquet([p])
                    .select(*[F.col(c).alias(f"__ts_{c}") for c in on])
                    .withColumn("__ts_snap", F.lit(n).cast("long"))
                )
                trel = t if trel is None else trel.unionByName(t)
            cond = F.col("__ts_snap") > F.col("_snapshot")
            for c in on:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__ts_{c}"))
            out = out.join(F.broadcast(trel), cond, "left_anti")
        return out

    def _read_live(
        self,
        name: str,
        live: list[tuple[int, str, list[int] | None]],
        tombs: list[tuple[int, str, list[str]]] | None = None,
    ) -> DataFrame | None:
        """Union of an already-listed live segment set — shared by
        ``read`` and the insert path's OCC loop (which must anti-join
        against exactly the listing its commit attempt validates).
        With live ``tombs`` the read switches to TOMBSTONE-TAGGED mode
        (per-segment readers so every row carries its first-admission
        snapshot, then the conditional anti-join) — the multi-path
        fast reader below stays the hot path whenever the table has no
        outstanding tombstones, which is the common state (a
        materializing ``compact`` consumes them)."""
        if not live:
            return None
        if tombs:
            out = None
            for n, seg, covers in live:
                df = self._read_parquet([seg])
                if covers is None:
                    df = df.withColumn(
                        "_snapshot", F.lit(n).cast("long")
                    )
                out = df if out is None else self._union(out, df)
            return self._apply_tombstones(out, tombs).drop("_snapshot")
        plain = [seg for _, seg, covers in live if covers is None]
        compacted = [seg for _, seg, covers in live if covers is not None]
        parts = self.partitioning.get(name)
        dfs = []
        if plain:
            if parts and len(plain) > 1:
                # hive-partitioned segments cannot share one reader
                # (no valid common basePath: seg_N is not a k=v dir),
                # so each keeps its own partition discovery
                dfs.extend(self._read_parquet([p]) for p in plain)
            else:
                # ONE multi-path reader: this is the per-micro-batch
                # hot path (the anti-join reads the table every
                # insert), and N separate readers + N-1 unions cost
                # O(N) driver plan-building per batch
                dfs.append(self._read_parquet(plain))
        for seg in compacted:
            dfs.append(self._read_parquet([seg]).drop("_snapshot"))
        out = dfs[0]
        for df in dfs[1:]:
            out = self._union(out, df)
        return out

    def added_between(
        self, name: str, since: int | None, until: int
    ) -> DataFrame | None:
        """Provenance diff: the rows that ENTERED the table after
        snapshot ``since`` (exclusive; None = since the beginning) up
        to snapshot ``until`` (inclusive), each tagged with the
        committing snapshot number in a ``_snapshot`` column.

        This answers the dataset-governance audit question — "which
        docs entered the training set between snapshot A and B, and
        from where" — directly from the manifest structure: segments
        are immutable and insert-if-absent means every row belongs to
        exactly ONE segment (its first admission), so the diff is a
        union of whole segments, no key-level anti-join needed.
        On a table with NO outstanding tombstones,
        ``added_between(name, None, s)`` equals ``read_at(name, s)``
        minus the tag column, and ``added_between(name, a, b)``
        equals ``read_at(b)`` minus ``read_at(a)`` by key — asserted
        by the sink contract tests. With live tombstones the two
        relations deliberately DIVERGE until materialization:
        ``read_at`` applies tombstones at/below its horizon while
        this diff reports ADMISSIONS only (per ``delete_keys``'s
        contract); and a rewrite-mode delete / materializing
        compaction REDACTS matched rows from this diff too (history
        rewrite — see ``delete_keys``). ``deleted_between`` is the
        deletion-side counterpart. Compacted segments answer from
        their persisted per-row ``_snapshot`` column, so the diff
        survives a plain ``compact`` unchanged. None when no
        committed non-empty segment falls in the range.
        """
        live, all_nums, _ = self._segments(name)
        for label, s in (("until", until), ("since", since)):
            if s is not None and s not in all_nums:
                raise ValueError(
                    f"unknown {label} snapshot {s} for table {name!r}: "
                    f"committed snapshots are {all_nums}"
                )
        if since is not None and since > until:
            raise ValueError(
                f"since snapshot {since} is after until snapshot {until}"
            )
        lo = -1 if since is None else since
        out = None
        for n, seg, covers in live:
            if covers is None:
                if not (lo < n <= until):
                    continue
                df = self._read_parquet([seg]).withColumn(
                    "_snapshot", F.lit(n).cast("long")
                )
            else:
                if covers and (covers[0] > until or covers[-1] <= lo):
                    continue
                df = self._read_parquet([seg]).filter(
                    (F.col("_snapshot") > F.lit(lo))
                    & (F.col("_snapshot") <= F.lit(until))
                )
            out = df if out is None else self._union(out, df)
        return out

    def window_admission_rows(
        self, name: str, since: int | None, until: int
    ) -> int | None:
        """Rows ADMITTED in ``(since, until]`` answered from manifest
        metadata alone — no Spark job: the sum of the committed live
        plain data segments' manifest ``rows`` in the window. Returns
        None when a compacted covering segment overlaps the window
        (its rows carry per-row first-admission ``_snapshot`` tags the
        manifest does not split by snapshot), in which case callers
        fall back to counting the ``added_between`` relation.

        This is the incremental consumers' no-new-data fast path
        (``operators.etl.MaintainedAggregate.refresh``): a refresh
        over a window that admitted nothing — the all-replay case —
        answers 0 here and skips building and probing the diff
        DataFrame entirely."""
        rows, _ = self._list_committed(name)
        superseded: set[int] = set()
        parsed = []
        for n, _p, meta in rows:
            covers = self._parse_covers(meta)
            if covers is not None:
                superseded.update(covers)
            parsed.append((n, meta, covers))
        lo = -1 if since is None else since
        total = 0
        for n, meta, covers in parsed:
            if n in superseded or meta.get("tombstone_on") is not None:
                continue
            if covers is None:
                if lo < n <= until:
                    r = meta.get("rows")
                    if r is None:
                        return None  # pre-``rows`` manifest: count
                    total += int(r)
            elif covers and not (covers[0] > until or covers[-1] <= lo):
                return None  # per-snapshot split not in metadata
        return total

    def _carry_redactions(
        self, rows: list[tuple[int, str, dict]], nums: set[int]
    ) -> list[int]:
        """Union of ``redacted_at`` markers across the committed
        manifests whose snapshot number is in ``nums`` — what a
        covering commit must carry forward so redaction history
        survives the covered dirs' GC."""
        out: set[int] = set()
        for n, _, meta in rows:
            if n in nums:
                out.update(meta.get("redacted_at") or ())
        return sorted(out)

    def redactions_between(
        self, name: str, since: int | None, until: int | None = None
    ) -> list[int]:
        """Snapshot numbers in ``(since, until]`` (``since``
        exclusive, None = from the beginning; ``until`` None = head)
        at which visible HISTORY was redacted — a rewrite-mode
        ``delete_keys``, a ``compact(materialize_deletes=True)`` that
        consumed tombstones (each reported at the consumed
        TOMBSTONE's own snapshot), or a ``compact(expire_below=)``
        that aged rows out. Tombstone commits themselves are NOT
        redactions (their deletions stay recoverable via
        ``deleted_between`` until materialized).

        This is the staleness signal for incremental consumers of
        ``added_between``/``deleted_between`` (the maintained
        aggregates in ``operators.etl``): an empty answer means every
        row their last fold saw is still derivable from the table's
        diffs; a non-empty answer means history was rewritten under
        them and the fold must rebase from the current table. O(live
        manifests) metadata read — every covering commit carries its
        covered segments' markers forward, so the union over live
        (plus any not-yet-GC'd) manifests is the complete history."""
        rows, _ = self._list_committed(name)
        marks: set[int] = set()
        for _, _, meta in rows:
            marks.update(meta.get("redacted_at") or ())
        lo = -1 if since is None else since
        return sorted(
            m for m in marks if m > lo and (until is None or m <= until)
        )

    def deleted_between(
        self, name: str, since: int | None, until: int
    ) -> DataFrame | None:
        """Deletion-side provenance diff: the rows HIDDEN by live
        tombstones (``delete_keys(mode="tombstone")``) committed in
        ``(since, until]``, each tagged with its first-admission
        snapshot (``_snapshot``) and the hiding tombstone's snapshot
        (``_deleted_at``) — the negative-diff input a maintained
        aggregate folds so a takedown reflects in its serve path
        without rescanning the fact (``operators.etl``).

        Exactly-once attribution: a row already hidden by a tombstone
        AT OR BELOW ``since`` is excluded (its deletion was reported
        by an earlier window), and a row matched by several tombstones
        in range is attributed to the EARLIEST one — mirroring the
        read path's semantics (hidden is hidden once). A key
        re-inserted after a tombstone is not reported (its admission
        snapshot is above the tombstone).

        Scope: tombstone deletions only. Rewrite-mode deletes and
        materializing compactions REDACT — the deleted rows are
        physically unrecoverable, by design — and are reported by
        ``redactions_between`` instead; a consumer seeing a redaction
        in its window must rebase rather than diff. Returns None when
        no live tombstone falls in the range.

        Cost: one pass over admissions at/below ``until`` with every
        tombstone relation broadcast (they are O(deleted keys)) — the
        same order as the read tax outstanding tombstones already
        impose, paid only when a window actually contains deletes."""
        live, tombs, all_nums, _ = self._split_live(name)
        for label, s in (("until", until), ("since", since)):
            if s is not None and s not in all_nums:
                raise ValueError(
                    f"unknown {label} snapshot {s} for table {name!r}: "
                    f"committed snapshots are {all_nums}"
                )
        lo = -1 if since is None else since
        new_tombs = sorted(t for t in tombs if lo < t[0] <= until)
        if not new_tombs:
            return None
        base = self.added_between(name, None, until)
        if base is None:
            return None
        # rows already hidden at the window's start are not this
        # window's deletions
        old_tombs = [t for t in tombs if t[0] <= lo]
        if old_tombs:
            base = self._apply_tombstones(base, old_tombs)
        out = None
        cur = base
        for n, p, on in new_tombs:
            trel = self._read_parquet([p]).select(
                *[F.col(c).alias(f"__ts_{c}") for c in on]
            )
            cond = F.col("_snapshot") < F.lit(n).cast("long")
            for c in on:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__ts_{c}"))
            hit = cur.join(F.broadcast(trel), cond, "left_semi")
            hit = hit.withColumn(
                "_deleted_at", F.lit(n).cast("long")
            )
            out = hit if out is None else out.unionByName(hit)
            # earliest-tombstone attribution: later tombstones in the
            # window never re-report a row this one already hid
            cur = cur.join(F.broadcast(trel), cond, "left_anti")
        return out

    def truncate(self, name: str) -> int | None:
        """Remove EVERY visible row in one covering commit — an O(1)
        full-table redaction (the keyed ``delete_keys`` with
        every-key-matched, without the key relation). The covering
        segment is empty, so the commit costs one manifest write, not
        a rewrite; snapshot ids all stay valid and answer empty.
        Marks ``redacted_at`` like any rewrite delete. Outstanding
        tombstones are consumed (covered): there is nothing left for
        them to hide. Returns the new snapshot, or None when the
        table has no visible rows (replayed truncate is a no-op)."""
        import shutil

        self._gc_superseded(name)
        while True:
            live, tombs, all_nums, nxt = self._split_live(name)
            if not live:
                return None
            rows, _ = self._list_committed(name)
            live_nums = {n for n, _, _ in live}
            if all(self._segment_rows(p) == 0 for _, p, _ in live):
                return None  # already empty — replayed truncate
            tomb_nums = {n for n, _, _ in tombs}
            covers = set(live_nums) | set(tomb_nums) | {
                s for s in all_nums if s <= max(live_nums | tomb_nums)
            }
            carry = self._carry_redactions(rows, covers)
            try:
                empty = self._read_live(name, live, None).limit(0)
                empty = empty.withColumn(
                    "_snapshot", F.lit(nxt).cast("long")
                ).coalesce(1)
                stage = self._stage_segment(
                    name,
                    empty,
                    covers=covers,
                    min_row=nxt,
                    redacted_at=carry + [nxt],
                    upto=self._carry_upto(rows, covers),
                )
            except Exception as exc:
                if not self._is_vanished_input(exc):
                    raise
                continue
            if self._publish(name, stage, nxt):
                break
            shutil.rmtree(stage, ignore_errors=True)
        for _, p, _ in live + tombs:
            shutil.rmtree(p, ignore_errors=True)
        return nxt

    def insert_if_absent(self, name: str, batch: DataFrame) -> None:
        self._insert(name, batch)

    def insert_with_horizon(
        self,
        name: str,
        batch: DataFrame | None,
        upto: int,
        since: int | None = None,
    ) -> None:
        """``insert_if_absent`` that also records ``upto`` — the source
        snapshot an incremental consumer has folded to — in the SAME
        commit's manifest, so a fold and its horizon land atomically
        in one table (read back by ``horizon``). ``batch=None``
        commits a zero-row segment carrying only the horizon: a fold
        with nothing to add, e.g. a rebase onto an emptied source.

        Contract: ``batch`` is unique on the table key (the caller
        aggregates on it — ``operators.etl.MaintainedAggregate``'s
        partials are grouped by their snapshot, positives by admission
        snapshot and negatives by tombstone snapshot, two disjoint
        sets), so it is not deduplicated here.

        ``since`` is the horizon the fold started from (None: from the
        beginning). Every key of a fold over ``(since, upto]`` carries
        a snapshot in that window, and a row with such a key can only
        have been committed by a commit recording a horizon at or
        above it. So when the commit attempt's own listing still shows
        ``horizon == since``, no row of the table can collide and the
        attempt skips the seen-side read and anti-join. Otherwise — no
        ``since`` (first fold, rebase, a table with no recorded
        horizon), or a concurrent refresher has moved the horizon —
        the anti-join runs as for ``insert_if_absent``."""
        self._insert(name, batch, upto=upto, since=since, dedup=False)

    def horizon(self, name: str) -> int | None:
        """The largest ``upto`` recorded by any committed manifest of
        ``name`` (see ``insert_with_horizon``), or None when none
        records one. Manifest metadata only — no Spark job. Covering
        commits carry the maximum of what they cover forward, so the
        horizon survives compaction, truncation and GC."""
        rows, _ = self._list_committed(name)
        return self._carry_upto(rows, None)

    def _carry_upto(
        self, rows: list[tuple[int, str, dict]], nums: set[int] | None
    ) -> int | None:
        """Max ``upto`` across the committed manifests whose snapshot
        number is in ``nums`` (all of them when None) — what a
        covering commit must carry forward."""
        marks = [
            int(meta["upto"])
            for n, _, meta in rows
            if meta.get("upto") is not None and (nums is None or n in nums)
        ]
        return max(marks, default=None)

    def _live_schema(
        self,
        name: str,
        live: list[tuple[int, str, list[int] | None]],
        tombs: list[tuple[int, str, list[str]]],
    ) -> T.StructType:
        """The schema ``_read_live(name, live, tombs)`` returns, taken
        from the segment manifests (no read plan, no Spark job) when
        every segment recorded the same one — compacted segments'
        ``_snapshot`` column aside, which the live read drops — else
        from the read itself."""
        first = None
        if not self.allow_schema_evolution:
            for _, seg, _c in live:
                rec = self._manifest_meta(seg).get("schema")
                if rec is None:
                    first = None
                    break
                fields = [f for f in rec["fields"] if f["name"] != "_snapshot"]
                if first is not None and fields != first:
                    first = None
                    break
                first = fields
        if first is None:
            return self._read_live(name, live, tombs).schema
        return T.StructType.fromJson({"type": "struct", "fields": first})

    def _insert(
        self,
        name: str,
        batch: DataFrame | None,
        upto: int | None = None,
        since: int | None = None,
        dedup: bool = True,
    ) -> None:
        """The insert-if-absent core behind ``insert_if_absent`` and
        ``insert_with_horizon`` (which passes ``dedup=False`` and its
        ``since``): anti-join, stage, OCC publish, then the
        auto-maintenance policy. A batch that admits no row into a
        table with live data commits a zero-file segment: the
        snapshot is recorded, and no scan opens an empty file."""
        import shutil

        # deferred-deletion GC first (see _gc_superseded): dirs a
        # PREVIOUS batch's auto-compaction superseded can go now
        self._gc_superseded(name)
        base = None
        if batch is not None:
            key = self.keys[name]
            missing_keys = [k for k in key if k not in batch.columns]
            if missing_keys:
                raise ValueError(
                    f"batch for table {name!r} omits key columns "
                    f"{missing_keys} — keys cannot evolve away"
                )
            base = batch.dropDuplicates(key) if dedup else batch
        while True:
            # one OCC attempt: anti-join against exactly the segments
            # of THIS listing, stage, then try to publish at next.
            # Tombstones apply to the visibility read, so a deleted
            # key is genuinely absent and RE-ADMITS here (its new row's
            # snapshot is above every tombstone that names it).
            listing = self._list_committed(name)
            live, tombs, _, nxt = self._split_live(name, listing)
            incoming = base
            if base is not None and live:
                if since is not None and (
                    self._carry_upto(listing[0], None) == since
                ):
                    # no committed row can collide: see insert_with_horizon
                    schema = self._live_schema(name, live, tombs)
                else:
                    existing = self._read_live(name, live, tombs)
                    schema = existing.schema
                    # no dropDuplicates on the seen side: a left-anti
                    # join is indifferent to duplicate right-side keys,
                    # and the dedup would shuffle the whole accumulated
                    # key set
                    seen = existing.select(
                        *[F.col(k).alias(f"__seen_{k}") for k in key]
                    )
                    cond = F.lit(True)
                    for k in key:
                        cond = cond & F.col(k).eqNullSafe(
                            F.col(f"__seen_{k}")
                        )
                    incoming = incoming.join(seen, cond, "left_anti")
                incoming = self._align_schema(name, incoming, schema)
            try:
                stage = self._stage_segment(
                    name, incoming, upto=upto, drop_if_empty=bool(live)
                )
            except Exception as exc:
                if not self._is_vanished_input(exc):
                    raise
                # a concurrent compaction deleted segments this
                # attempt was reading — same as losing the rename
                continue
            if self._publish(name, stage, nxt):
                break
            # OCC loser: another writer committed seg_<nxt> between
            # our listing and our rename. Discard the stage (its
            # anti-join may have missed that writer's keys) and redo
            # the whole attempt against the now-visible segments.
            shutil.rmtree(stage, ignore_errors=True)
        if (
            self.auto_compact_segments is not None
            or self.materialize_tombstones_after is not None
        ):
            self._maybe_auto_compact(name)

    def delete_keys(
        self,
        name: str,
        keys_df: DataFrame,
        on: list[str] | None = None,
        target_partitions: int = 1,
        delete_covered: bool = True,
        mode: str = "rewrite",
    ) -> int | None:
        """Key-targeted delete (takedown / right-to-be-forgotten),
        committed as a new snapshot, in one of two physical modes:

        ``mode="rewrite"`` (default) — a covering-snapshot rewrite of
        every live segment WITHOUT the rows matching ``keys_df`` on
        the ``on`` columns (default: the table's dedup key; any column
        subset works — a claim table keyed on (band_khash,
        owner_doc_id) deletes by owner alone). TIME-TRAVEL SEMANTICS:
        REDACTION FROM ALL SNAPSHOTS (declared) — the matched rows are
        removed from history, not just the current view: ``read_at``
        at ANY snapshot and ``added_between`` over any range no longer
        return them (the ``compact(expire_below=)`` retention
        semantics, keyed instead of aged). That is the point of a
        takedown: a horizon delete would keep serving redacted content
        to historical readers. O(table) rewrite cost.

        ``mode="tombstone"`` — the deletion-vector form (Delta DVs /
        Iceberg equality deletes): commit ONE small segment holding
        just the matched key relation, O(matched keys) — no data file
        is rewritten. Readers apply tombstones as a broadcast
        conditional anti-join (a tombstone at snapshot T hides rows
        admitted BEFORE T, so a later re-insert of the key survives);
        the table switches to per-segment tagged reads while
        tombstones are outstanding and returns to the multi-path fast
        reader once a ``compact(materialize_deletes=True)`` consumes
        them. TIME-TRAVEL SEMANTICS: VISIBLE-ONLY-BELOW-HORIZON
        (declared, the opposite trade) — ``read_at`` BEFORE the delete
        still serves the row, until materialization redacts. This is
        the 100 TB default for latency-sensitive takedown queues:
        O(keys) commit now, the rewrite amortized into the next
        compaction. ``added_between`` reports ADMISSIONS only and is
        unaffected by tombstones in either mode.

        Both modes publish through the same OCC commit as
        ``insert_if_absent``/``compact``, so a delete racing an ingest
        writer serializes without a coordinator and a crash mid-delete
        leaves the old segments fully intact. In both modes a later
        ``insert_if_absent`` of a deleted key RE-ADMITS it — the table
        has genuinely forgotten the key, exactly like an expired
        claim.

        Returns the new snapshot id, or None when the table is empty
        or NO visible row matched — a replayed/duplicate delete is a
        no-op that commits nothing (checked with one keyed semi-join
        before any commit work).
        """
        import shutil

        if mode not in ("rewrite", "tombstone"):
            raise ValueError(
                f"unknown delete mode {mode!r}: expected 'rewrite' "
                "or 'tombstone'"
            )
        on = list(on or self.keys[name])
        seen, cond = self._delete_match(keys_df, on)
        self._gc_superseded(name)
        if mode == "tombstone":
            while True:
                live, tombs, _, nxt = self._split_live(name)
                if not live:
                    return None
                existing = self._read_live(name, live, tombs)
                try:
                    # store only keys that match a VISIBLE row: keeps
                    # the tombstone relation minimal and makes a
                    # replayed delete a literal no-op
                    matched = (
                        existing.select(*on)
                        .join(seen, cond, "left_semi")
                        .dropDuplicates(on)
                    )
                    if matched.isEmpty():
                        return None
                    stage = self._stage_segment(
                        name,
                        matched.coalesce(1),
                        tombstone_on=on,
                    )
                except Exception as exc:
                    if not self._is_vanished_input(exc):
                        raise
                    continue
                if self._publish(name, stage, nxt):
                    # tombstone-debt policy: a takedown queue is the
                    # path that accumulates tombstones, so the
                    # auto-materialization bound is checked here too,
                    # not only on inserts
                    if self.materialize_tombstones_after is not None:
                        self._maybe_auto_compact(name)
                    return nxt
                shutil.rmtree(stage, ignore_errors=True)
        while True:
            live, tombs, all_nums, nxt = self._split_live(name)
            if not live:
                return None
            existing = self._read_live(name, live, tombs)
            try:
                if existing.join(seen, cond, "left_semi").isEmpty():
                    return None  # nothing matched — replay no-op
            except Exception as exc:
                if not self._is_vanished_input(exc):
                    raise
                continue  # racing compaction deleted our listing
            # cover everything live plus any empty committed segments
            # at or below the live max (same bookkeeping as compact).
            # Live TOMBSTONE numbers are never swept in: the rewrite
            # preserves per-row first-admission snapshots, so
            # outstanding tombstones keep applying to the covering
            # segment — covering one would resurrect its hidden keys.
            live_nums = {n for n, _, _ in live}
            tomb_nums = {n for n, _, _ in tombs}
            hi = max(live_nums)
            covers: set[int] = set()
            empty_segs: list[tuple[int, str]] = []
            committed_rows = self._list_committed(name)[0]
            dir_of = {n: p for n, p, _ in committed_rows}
            for s in all_nums:
                if (
                    s <= hi
                    and s not in live_nums
                    and s not in tomb_nums
                ):
                    covers.add(s)
                    d = dir_of.get(s)
                    if d is not None and os.path.isdir(d):
                        empty_segs.append((s, d))
            out = None
            min_row: int | None = None
            for n, seg, c in sorted(live):
                df = self._read_parquet([seg])
                if c is None:
                    df = df.withColumn("_snapshot", F.lit(n).cast("long"))
                    floor = n
                else:
                    floor = self._manifest_min_row(seg, c)
                min_row = floor if min_row is None else min(min_row, floor)
                covers.add(n)
                if c:
                    covers.update(c)
                out = df if out is None else self._union(out, df)
            out = out.join(seen, cond, "left_anti")
            # the delete commit itself is a redaction point, carried
            # together with every covered segment's earlier markers
            redacted = self._carry_redactions(committed_rows, covers)
            redacted.append(nxt)
            parts = self.partitioning.get(name)
            try:
                if parts:
                    out = out.repartition(target_partitions, *parts)
                else:
                    out = out.coalesce(target_partitions)
                stage = self._stage_segment(
                    name,
                    out,
                    covers=covers,
                    min_row=min_row,
                    redacted_at=redacted,
                    upto=self._carry_upto(committed_rows, covers),
                )
            except Exception as exc:
                if not self._is_vanished_input(exc):
                    raise
                continue
            if self._publish(name, stage, nxt):
                break
            # OCC loser: a concurrent writer took our number — its
            # segment may contain matching keys our rewrite did not
            # see, so always restage against the fresh listing (no
            # compact-style retry-publish shortcut: correctness of a
            # DELETE depends on covering every committed row).
            shutil.rmtree(stage, ignore_errors=True)
        if delete_covered:
            for _, p, _ in live:
                shutil.rmtree(p, ignore_errors=True)
            for _, p in empty_segs:
                shutil.rmtree(p, ignore_errors=True)
        return nxt

    def _segment_bytes(self, seg: str) -> int:
        """Committed data bytes of a segment, from its manifest's
        ``bytes`` field; pre-``bytes`` manifests fall back to one
        directory walk (metadata-scale, once — the next compaction
        rewrites them with the field)."""
        meta = self._manifest_meta(seg)
        b = meta.get("bytes")
        if b is not None:
            return int(b)
        total = 0
        for root, _, fs in os.walk(seg):
            for f in fs:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        return total

    def _segment_rows(self, seg: str) -> int:
        """Committed row count of a segment, from its manifest's
        ``rows`` field; pre-``rows`` manifests fall back to one footer
        walk (metadata-only). Rows — not bytes — are the tiering
        metric: proportional to rewrite cost at scale, but immune to
        the per-file parquet metadata overhead that makes every tiny
        segment look equal-sized in bytes (which would collapse the
        tiers back into full rewrites exactly where tests can see)."""
        meta = self._manifest_meta(seg)
        r = meta.get("rows")
        if r is not None:
            return int(r)
        import pyarrow.parquet as papq

        total = 0
        for root, _, fs in os.walk(seg):
            for f in fs:
                if f.endswith(".parquet"):
                    try:
                        total += papq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
                    except OSError:
                        pass
        return total

    @staticmethod
    def tier_take(
        sizes: list[int], bound: int, factor: float
    ) -> int:
        """The size-tiered policy as a PURE function — how many of the
        newest segments (``sizes`` ascending by segment number) merge.

        The merging tail starts as the newest segments that MUST merge
        to restore the live bound, then extends older while the
        next-older segment's size is <= ``factor`` x the tail's
        accumulated size — so a large previously-compacted segment
        joins a merge only once the data newer than it has grown to
        comparable size (geometric tiers, the LSM/Lucene policy). Each
        row is therefore rewritten O(log N) times over the table's
        life — O(N log N) cumulative compaction volume — versus the
        O(N^2/bound) of a full-table rewrite every `bound` batches
        (``factor=inf`` reproduces exactly that r10 behavior), while
        the bound on LIVE segment count still holds after every merge.
        Asserted over a 512-batch simulation in tests and scalecheck.
        """
        take = max(2, len(sizes) - bound + 1)
        total = sum(sizes[-take:])
        inf = float("inf")
        while take < len(sizes):
            nxt = sizes[-(take + 1)]
            # factor=inf means merge-everything (the pre-tier full
            # rewrite) unconditionally — spelled out because
            # inf * 0 is nan, which would silently stop an all-empty
            # tail from extending
            if not (factor == inf or nxt <= factor * total):
                break
            total += nxt
            take += 1
        return take

    def _tier_since(
        self, live: list[tuple[int, str, list[int] | None]]
    ) -> int | None:
        """Size-tiered merge-target selection: the exclusive lower
        bound (a live segment number) for ``compact(since=...)``, or
        None to merge everything. See ``tier_take``."""
        sizes = [self._segment_rows(p) for _, p, _ in live]
        take = self.tier_take(
            sizes, self.auto_compact_segments or 0, self.tier_factor
        )
        if take >= len(live):
            return None
        return live[-(take + 1)][0]

    def _maybe_auto_compact(self, name: str) -> None:
        """The auto-maintenance policy body, two independent
        triggers:

        - ``auto_compact_segments``: live DATA segment count exceeds
          the bound -> merge the size-tiered tail;
        - ``materialize_tombstones_after``: live TOMBSTONE count
          reaches the bound -> FULL ``materialize_deletes`` rewrite
          (consumes the tombstone debt and restores the multi-path
          fast reader; subsumes the tier merge, so it wins when both
          fire).

        Runs inline in the triggering insert or delete; a failing
        rewrite raises to that caller after the batch it follows has
        committed, and the next insert re-evaluates the policy.
        Deletion of covered dirs is always deferred to the next batch
        start (``_gc_superseded``) so lazy reader plans built before
        the merge keep their files."""
        live, tombs, _, _ = self._split_live(name)
        materialize = (
            self.materialize_tombstones_after is not None
            and len(tombs) >= self.materialize_tombstones_after
        )
        tiered = (
            self.auto_compact_segments is not None
            and len(live) > self.auto_compact_segments
        )
        if not (materialize or tiered):
            return
        # a materializing rewrite must be FULL (tombstones can hide
        # rows in any segment), so it ignores the tier bound
        self.compact(
            name,
            since=None if materialize else self._tier_since(live),
            delete_covered=False,
            materialize_deletes=materialize,
        )

    def _gc_superseded(self, name: str) -> None:
        """Delete on-disk segment dirs superseded by a committed
        covering manifest. Runs at the START of the next batch /
        compaction, never inside the compaction that superseded them —
        so a lazy reader plan built BEFORE a ``delete_covered=False``
        compaction keeps its files until the single writer moves
        again, instead of failing recompute mid-collect."""
        import shutil

        committed, _ = self._list_committed(name)
        covered: set[int] = set()
        for _, _, meta in committed:
            covers = self._parse_covers(meta)
            if covers:
                covered.update(covers)
        for n, p, _ in committed:
            if n in covered:
                shutil.rmtree(p, ignore_errors=True)

    @staticmethod
    def _zvalue(df: DataFrame, cols: list[str], bits: int = 16):
        """Z-order (Morton) key over ``cols`` as a column expression:
        each column is linearly quantized to a ``bits``-wide rank
        between its OWN min and max (one tiny agg job), then the rank
        bits are interleaved. Files laid out along this key get tight
        per-file bounds on EVERY clustered column at once — the
        multi-column generalization 1-D range clustering cannot give
        (its second column is effectively unclustered). Quantization
        is layout-only: zone-map pruning stays exact regardless, so a
        skewed column merely prunes less, never wrong. NULL ranks as
        0 (sorts with the minimum).

        Bit budget: interleaved positions reach ``bits*len(cols)-1``
        and must stay below the long's sign bit (position 63) — Spark's
        ``shiftleft`` wraps shifts mod 64, so an overflowing layout
        would silently scramble the Morton order (and a sign-bit hit
        would sort the top band FIRST). ``bits`` is auto-scaled down to
        ``63 // len(cols)`` when the requested width would overflow —
        quantization resolution is layout-only, so narrower ranks only
        coarsen clustering, never correctness."""
        if bits * len(cols) > 63:
            bits = 63 // len(cols)
        for c in cols:
            if not isinstance(
                df.schema[c].dataType,
                (
                    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                    T.FloatType, T.DoubleType, T.TimestampType, T.DateType,
                ),
            ):
                raise ValueError(
                    f"zorder column {c!r} must be numeric/temporal "
                    f"(got {df.schema[c].dataType.simpleString()})"
                )
        row = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
        ).first()
        m = len(cols)
        z = F.lit(0).cast("long")
        top = (1 << bits) - 1
        for j, c in enumerate(cols):
            mn = row[f"mn_{c}"]
            mx = row[f"mx_{c}"]
            if mn is None or mx is None or mx == mn:
                continue  # constant/all-null column adds no bits
            rank = F.coalesce(
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(mn)))
                    / F.lit((float(mx) - float(mn)) / top)
                ).cast("long"),
                F.lit(0),
            )
            rank = F.least(F.greatest(rank, F.lit(0)), F.lit(top))
            for bit in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(rank, bit).bitwiseAND(F.lit(1)),
                        bit * m + j,
                    )
                )
        return z

    def compact(
        self,
        name: str,
        upto: int | None = None,
        since: int | None = None,
        target_partitions: int = 1,
        delete_covered: bool = True,
        cluster_by: list[str] | None = None,
        cluster_method: str = "range",
        expire_below: int | None = None,
        materialize_deletes: bool = False,
    ) -> int | None:
        """Rewrite every live committed segment numbered in
        ``(since, upto]`` (defaults: all of them) into ONE new
        segment, committed as a new snapshot, and delete the
        superseded directories.

        ``expire_below`` is RETENTION (Delta VACUUM-with-retention's
        row-level analog): rows whose first-admission snapshot is <=
        the bound are DROPPED from the rewrite instead of carried.
        This bounds an unbounded stream's state (the admission claim
        tables grow one row per claimed key forever by design) at a
        documented cost: history below the horizon is destroyed —
        ``read_at`` at an expired snapshot returns only surviving
        rows, and an insert-if-absent key whose only copy was expired
        would be re-admitted (the recall-vs-state trade
        ``streaming.corpus.expire_claims`` documents). Snapshot IDS
        all remain valid (covers is unaffected); only rows age out.

        ``since`` (exclusive lower bound) is what makes SIZE-TIERED
        merging possible: the auto-compaction policy passes the
        number of the oldest live segment to LEAVE ALONE, so a large
        previously-compacted segment is not rewritten every time the
        newest micro-batches merge. Because streaming appends are
        numbered in time order, a ``since``-bounded target set is a
        contiguous SUFFIX of live segments and its covers stay
        encodable as an O(1) ``covers_range`` (non-contiguous sets —
        possible only after an OCC retry races another compaction —
        fall back to the explicit covers list, still correct).

        Streaming cadence commits one immutable segment directory per
        micro-batch forever; without compaction the read path unions
        thousands of tiny parquet dirs — the classic small-file
        scale-killer (the MySQL table the reference upserts into,
        src/Meshjoin.java:612-626, never fragments because the storage
        engine compacts under it). This is the manifest backend's
        equivalent of Delta's OPTIMIZE.

        History is preserved exactly: each row in the compacted
        segment carries its FIRST-ADMISSION snapshot number in a
        ``_snapshot`` column and the manifest records the ``covers``
        list, so ``snapshots()`` still returns every historical id and
        ``read_at``/``added_between`` answer identically before and
        after (asserted by tests/test_sinks.py). Crash-atomic like
        every other storage commit here: publishing the staged covering
        segment (one exclusive rename) is the commit point — a crash
        before it leaves an invisible staging orphan and the old
        segments intact; a crash after it (mid-cleanup) leaves covered
        dirs that every reader already skips.

        ``target_partitions`` bounds the output file count (per hive
        partition value when partitioned); size it so compacted files
        land near the 128 MB-1 GB parquet sweet spot at scale.

        ``cluster_by`` (unpartitioned tables) range-partitions and
        sorts the rewrite on the given columns so each output file
        owns a disjoint band — with ``stats_cols`` zone maps, a later
        range ``scan`` opens O(matching files) of the compacted
        segment (Delta OPTIMIZE ZORDER's 1-D analog).

        ``delete_covered=False`` leaves the superseded directories on
        disk (readers already skip them — the covering manifest is
        the commit point) and defers their deletion to the start of
        the next batch or compaction (``_gc_superseded``): use it
        when lazy reader plans built before the compaction may still
        materialize afterwards — deleting under them would fail their
        recompute. The auto-compaction policy always defers.

        Concurrency: the covering segment publishes through the same
        exclusive-rename OCC as ``insert_if_absent``. A compaction
        racing an ingest writer either wins its number cleanly or
        loses the rename and redoes the whole round against a fresh
        listing — which also re-resolves the target set, so two racing
        compactions can never both cover the same segments (the loser
        sees its targets already superseded and starts over on what
        remains, usually returning None).

        ``materialize_deletes=True`` (full compaction only — requires
        ``since``/``upto`` unset) physically applies every outstanding
        TOMBSTONE (``delete_keys(mode="tombstone")``) to the rewrite
        and consumes the tombstone segments into ``covers`` — the
        table returns to the multi-path fast read path, and history
        below each tombstone is REDACTED from that point on (the
        rewrite-mode semantics, applied lazily — Delta's
        delete-materializing OPTIMIZE/PURGE). Without the flag,
        compaction leaves tombstones alone: rewritten rows keep their
        first-admission ``_snapshot``, so the readers' conditional
        anti-join stays exact and time travel keeps serving
        pre-delete history.

        Returns the new snapshot number, or None when fewer than two
        live segments fall in range (nothing to compact).
        """
        import shutil

        if materialize_deletes and (since is not None or upto is not None):
            raise ValueError(
                "materialize_deletes requires a FULL compaction "
                "(since/upto unset): a bounded rewrite cannot prove a "
                "tombstone's keys do not also hide rows in segments "
                "outside the target range"
            )
        # previously deferred deletions are safe now: any plan built
        # before the deferring compaction is at least one writer turn
        # old (the one-batch vacuum horizon in the class contract)
        self._gc_superseded(name)
        while True:
            live, tombs, all_nums, nxt = self._split_live(name)
            hi = upto
            if hi is None:
                hi = max((n for n, _, _ in live), default=-1)
            lo = -1 if since is None else since
            targets = [(n, p, c) for n, p, c in live if lo < n <= hi]
            min_targets = 2
            if materialize_deletes and tombs:
                # with tombstones to consume, even a single live
                # segment is worth rewriting (the rewrite IS the
                # delete materialization)
                min_targets = 1
            if len(targets) < min_targets:
                return None
            # empty committed segments in (lo, hi] are covered too
            # (their dirs hold only a manifest; their snapshot ids
            # live on in covers)
            covers: set[int] = set()
            empty_segs: list[tuple[int, str]] = []
            committed_rows = self._list_committed(name)[0]
            dir_of = {n: p for n, p, _ in committed_rows}
            live_nums = {n for n, _, _ in live}
            # LIVE tombstone numbers are never swept into covers as
            # "empty" — covering one without applying it would
            # silently resurrect its deleted keys; they are consumed
            # only by the explicit materialization below
            tomb_nums = {n for n, _, _ in tombs}
            for s in all_nums:
                if (
                    lo < s <= hi
                    and s not in live_nums
                    and s not in tomb_nums
                ):
                    covers.add(s)
                    d = dir_of.get(s)
                    if d is not None and os.path.isdir(d):
                        empty_segs.append((s, d))
            out = None
            min_row: int | None = None
            for n, seg, c in sorted(targets):
                df = self._read_parquet([seg])
                if c is None:
                    df = df.withColumn("_snapshot", F.lit(n).cast("long"))
                    floor = n
                else:
                    floor = self._manifest_min_row(seg, c)
                min_row = floor if min_row is None else min(min_row, floor)
                covers.add(n)
                if c:
                    covers.update(c)
                if expire_below is not None:
                    df = df.filter(
                        F.col("_snapshot") > F.lit(expire_below)
                    )
                out = df if out is None else self._union(out, df)
            consumed_tombs: list[tuple[int, str, list[str]]] = []
            if materialize_deletes and tombs:
                # full compaction (guarded above): every live data row
                # is in the rewrite, so applying all tombstones here is
                # exhaustive and their segments can be consumed
                out = self._apply_tombstones(out, tombs)
                consumed_tombs = list(tombs)
                covers.update(n for n, _, _ in tombs)
            # redaction bookkeeping: carry covered segments' markers;
            # a consumed tombstone becomes a redaction AT ITS OWN
            # snapshot (its deletions leave deleted_between's reach);
            # retention expiry that could drop rows redacts at the
            # compaction's own snapshot
            redacted = self._carry_redactions(committed_rows, covers)
            redacted.extend(n for n, _, _ in consumed_tombs)
            if (
                expire_below is not None
                and min_row is not None
                and min_row <= expire_below
            ):
                redacted.append(nxt)
            parts = self.partitioning.get(name)
            if cluster_by and parts:
                raise ValueError(
                    "cluster_by applies to unpartitioned tables "
                    f"(table {name!r} is hive-partitioned on "
                    f"{parts}; partition pruning already covers "
                    "those columns)"
                )
            if cluster_by and cluster_method not in ("range", "zorder"):
                raise ValueError(
                    f"unknown cluster_method {cluster_method!r}: "
                    "expected 'range' or 'zorder'"
                )
            try:
                # the zorder bounds agg and the staging write both
                # read the live segments, so both live inside the
                # vanished-input retry (racing a concurrent
                # compaction's covered-dir cleanup = lost rename)
                if cluster_by and cluster_method == "range":
                    # 1-D analog of Delta OPTIMIZE ZORDER: range-
                    # partition + sort so each output file owns a
                    # DISJOINT band of the (first) clustered column —
                    # the per-file zone maps then prune a range scan
                    # to O(matching bands) even though the covering
                    # segment is a single directory
                    out = out.repartitionByRange(
                        target_partitions, *cluster_by
                    ).sortWithinPartitions(*cluster_by)
                elif cluster_by:
                    # true multi-column ZORDER: lay files along the
                    # Morton curve so EVERY clustered column gets
                    # tight per-file bounds (see _zvalue)
                    out = (
                        out.withColumn(
                            "_zorder", self._zvalue(out, cluster_by)
                        )
                        .repartitionByRange(target_partitions, "_zorder")
                        .sortWithinPartitions("_zorder")
                        .drop("_zorder")
                    )
                elif parts:
                    # one task per hive value -> one file per value
                    # per target partition
                    out = out.repartition(target_partitions, *parts)
                else:
                    out = out.coalesce(target_partitions)
                stage = self._stage_segment(
                    name,
                    out,
                    covers=covers,
                    min_row=min_row,
                    redacted_at=redacted,
                    upto=self._carry_upto(committed_rows, covers),
                )
            except ValueError:
                raise  # bad cluster args are caller errors, not races
            except Exception as exc:
                if not self._is_vanished_input(exc):
                    raise
                # another compaction covered and deleted our targets
                # mid-read — fresh round resolves what remains
                continue
            if self._publish(name, stage, nxt):
                break
            # OCC loser. If only new INGEST segments landed — every
            # target is still live — the staged covering segment is
            # still VALID (targets are immutable, covers and min_row
            # unchanged; new segments are outside the covered range):
            # only its NUMBER is stale, so retry the publish at the
            # fresh next number instead of restaging the rewrite.
            # Without this, a compaction racing sustained ingest from
            # another writer restages a full rewrite per lost race —
            # measured starvation (live count grew to the whole batch
            # count) and O(losses) wasted rewrite volume. Only a racing
            # COMPACTION that covered our targets forces a restage.
            published = False
            expiring = (
                expire_below is not None
                and min_row is not None
                and min_row <= expire_below
            )
            if not expiring:
                # (an EXPIRING rewrite never takes the shortcut: its
                # staged manifest records the redaction at the stale
                # number — restaging re-stamps it correctly)
                target_nums = {n for n, _, _ in targets}
                while True:
                    live2, _, nxt2 = self._segments(name)
                    if not target_nums <= {n for n, _, _ in live2}:
                        break  # targets superseded — restage
                    if self._publish(name, stage, nxt2):
                        nxt = nxt2
                        published = True
                        break
            if published:
                break
            shutil.rmtree(stage, ignore_errors=True)
        # cleanup, not commit: readers already skip these (deferred
        # to the next batch start when delete_covered=False)
        if delete_covered:
            for _, p, _ in targets:
                shutil.rmtree(p, ignore_errors=True)
            for _, p in empty_segs:
                shutil.rmtree(p, ignore_errors=True)
            for _, p, _ in consumed_tombs:
                shutil.rmtree(p, ignore_errors=True)
        return nxt


def delta_session_builder_conf() -> dict[str, str]:
    """The two session configs a Delta-capable SparkSession needs —
    exposed so callers (and tests) build it the documented way instead
    of copy-pasting config keys."""
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        ),
    }


BACKENDS = {
    "manifest": ManifestParquetSink,
    "delta": DeltaMergeSink,
}

# The ``ManifestParquetSink`` settings ``make_sink``/``warehouse_for``
# accept as options; no other backend has them.
MANIFEST_OPTIONS = (
    "auto_compact_segments",
    "stats_cols",
    "allow_schema_evolution",
    "tier_factor",
    "materialize_tombstones_after",
)

# Default live-segment bound for streaming facades that auto-compact:
# read cost stays O(8) directories at any micro-batch cadence, while
# the size-tiered policy keeps cumulative rewrite volume O(N log N)
# bytes over the table's life (see
# ManifestParquetSink.auto_compact_segments/_tier_since).
AUTO_COMPACT_DEFAULT = 8


def resolve_backend(backend: str) -> str:
    """The concrete backend name for ``backend``: ``"auto"`` is delta
    when ``delta-spark`` is importable and manifest otherwise; an
    unknown name raises ``ValueError`` listing the valid choices."""
    if backend == "auto":
        return "delta" if delta_available() else "manifest"
    if backend not in BACKENDS:
        raise ValueError(
            f"unknown sink backend {backend!r}: expected one of "
            f"{sorted(BACKENDS)} or 'auto'"
        )
    return backend


def manifest_options(backend: str, options: dict) -> dict:
    """Validate manifest-only sink options against the backend NAME,
    before any sink is constructed, and return the ones that are set
    (None and False mean "not set"). Rejects names that are not in
    ``MANIFEST_OPTIONS``, any set option on a backend other than
    ``"manifest"``."""
    unknown = sorted(set(options) - set(MANIFEST_OPTIONS))
    if unknown:
        raise ValueError(
            f"unknown sink option(s) {unknown}: expected some of "
            f"{list(MANIFEST_OPTIONS)}"
        )
    given = {
        k: v for k, v in options.items() if v is not None and v is not False
    }
    if given and backend != "manifest":
        raise ValueError(
            f"{sorted(given)} apply only to the 'manifest' backend "
            "(segment commits, compaction, zone maps, schema "
            f"evolution); got {backend!r}"
        )
    return given


def resolve_auto_compact(
    backend: str, value: int | None | str
) -> int | None:
    """Resolve a facade's ``auto_compact_segments="auto"`` sentinel:
    the manifest backend gets ``AUTO_COMPACT_DEFAULT`` (bounded
    segment growth is the right default at micro-batch cadence), delta
    gets None (no segment accumulation exists there). An explicit
    int/None passes through — including the mismatch case, which
    ``make_sink`` rejects loudly rather than silently ignoring.
    """
    if value == "auto":
        manifest = resolve_backend(backend) == "manifest"
        return AUTO_COMPACT_DEFAULT if manifest else None
    return value  # type: ignore[return-value]


def read_table(
    spark: SparkSession, root: str, name: str, backend: str = "manifest"
) -> DataFrame | None:
    """Read one table of a sink warehouse without knowing its key or
    partition configuration — the reader-side convenience for
    consuming a facade's or warehouse's output (reads never touch
    keys). The default backend is the one every writer defaults to."""
    return BACKENDS[resolve_backend(backend)](spark, root).read(name)


def make_sink(
    spark: SparkSession,
    root: str,
    keys: dict[str, list[str]],
    partitioning: dict[str, list[str]] | None = None,
    backend: str = "manifest",
    auto_compact_segments: int | None = None,
    stats_cols: dict[str, list[str]] | None = None,
    allow_schema_evolution: bool = False,
    tier_factor: float | None = None,
    materialize_tombstones_after: int | None = None,
) -> MergeSink:
    """Construct the requested sink backend.

    ``backend``: ``"manifest"`` (default — crash-atomic segment
    commits with optimistic concurrency across writers, works
    everywhere), ``"delta"`` (transactional MERGE, requires
    delta-spark), or ``"auto"`` (delta when importable, else
    manifest).

    Every other argument is a manifest-only option (see
    ``ManifestParquetSink``), validated by ``manifest_options`` and
    rejected on delta: ``auto_compact_segments`` (inline compaction
    at a live-segment bound), ``stats_cols`` (per-segment zone maps
    used by ``scan``), ``allow_schema_evolution``, ``tier_factor`` and
    ``materialize_tombstones_after``.
    """
    backend = resolve_backend(backend)
    options = manifest_options(
        backend,
        {
            "auto_compact_segments": auto_compact_segments,
            "stats_cols": dict(stats_cols) if stats_cols else None,
            "allow_schema_evolution": allow_schema_evolution,
            "tier_factor": tier_factor,
            "materialize_tombstones_after": materialize_tombstones_after,
        },
    )
    return BACKENDS[backend](
        spark, root, keys=keys, partitioning=partitioning or {}, **options
    )
