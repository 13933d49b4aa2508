"""Deletion-side provenance surfaces on the manifest sink:

- ``redactions_between``: the staleness signal — snapshots at which
  visible history was REDACTED (rewrite delete, tombstone
  materialization, retention expiry), carried forward through
  compaction chains so it survives covered-dir GC;
- ``deleted_between``: the negative diff — rows hidden by live
  tombstones in a snapshot window, tagged (_snapshot, _deleted_at),
  with exactly-once earliest-tombstone attribution;
- ``truncate``: O(1) full-table redaction as one covering commit;
- ``materialize_tombstones_after``: the auto-materialization policy
  that pays the O(table) rewrite once per N tombstone deletes.

Together these are what lets an incrementally-maintained aggregate
(operators.etl.MaintainedAggregate) stay exact under takedowns: fold
``deleted_between`` as negative partials, rebase when
``redactions_between`` is non-empty.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators.sinks import (
    ManifestParquetSink,
)

def _sink(spark, root, **kw):
    return ManifestParquetSink(
        spark, str(root), keys={"t": ["k"]}, partitioning={}, **kw
    )


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v long")


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_redactions_between_rewrite_delete(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10), (2, 20)]))  # s0
    sink.insert_if_absent("t", _rows(spark, [(3, 30)]))  # s1
    assert sink.redactions_between("t", None) == []
    d = sink.delete_keys("t", _keys(spark, [2]), mode="rewrite")  # s2
    assert d == 2
    assert sink.redactions_between("t", None) == [2]
    # window filtering: exclusive lower bound, inclusive upper
    assert sink.redactions_between("t", 1, 2) == [2]
    assert sink.redactions_between("t", 2) == []
    assert sink.redactions_between("t", None, 1) == []


def test_redaction_marker_survives_compaction(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10), (2, 20)]))  # s0
    sink.delete_keys("t", _keys(spark, [1]), mode="rewrite")  # s1
    sink.insert_if_absent("t", _rows(spark, [(4, 40)]))  # s2
    sink.insert_if_absent("t", _rows(spark, [(5, 50)]))  # s3
    # the plain compact covers the delete's covering segment; its
    # marker must be CARRIED, not lost with the covered dir
    assert sink.compact("t") is not None
    assert sink.redactions_between("t", None) == [1]
    # and again through a second chain
    sink.insert_if_absent("t", _rows(spark, [(6, 60)]))
    assert sink.compact("t") is not None
    assert sink.redactions_between("t", None) == [1]


def test_tombstone_is_not_a_redaction_until_materialized(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10), (2, 20)]))  # s0
    t = sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")  # s1
    assert t == 1
    # tombstone deletions stay recoverable via deleted_between — no
    # redaction yet
    assert sink.redactions_between("t", None) == []
    sink.compact("t", materialize_deletes=True)  # s2, consumes s1
    # materialization redacts AT THE TOMBSTONE'S OWN snapshot: a
    # consumer that already folded the s1 negative diff (last >= 1)
    # sees an empty window and keeps its fold; one that did not must
    # rebase
    assert sink.redactions_between("t", None) == [1]
    assert sink.redactions_between("t", 1) == []


def test_expire_below_is_a_redaction(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10)]))  # s0
    sink.insert_if_absent("t", _rows(spark, [(2, 20)]))  # s1
    sink.insert_if_absent("t", _rows(spark, [(3, 30)]))  # s2
    got = sink.compact("t", expire_below=0)  # drops s0's rows
    assert got == 3
    assert sink.redactions_between("t", None) == [3]
    assert {r.k for r in sink.read("t").collect()} == {2, 3}


def test_plain_compact_is_not_a_redaction(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10)]))
    sink.insert_if_absent("t", _rows(spark, [(2, 20)]))
    assert sink.compact("t") is not None
    assert sink.redactions_between("t", None) == []


def test_deleted_between_basic(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10), (2, 20)]))  # s0
    sink.insert_if_absent("t", _rows(spark, [(3, 30)]))  # s1
    sink.delete_keys("t", _keys(spark, [2]), mode="tombstone")  # s2
    got = sink.deleted_between("t", None, 2).collect()
    assert [(r.k, r.v, r._snapshot, r._deleted_at) for r in got] == [
        (2, 20, 0, 2)
    ]
    # a window before the tombstone reports nothing
    assert sink.deleted_between("t", None, 1) is None
    # a window after it reports nothing either (already reported)
    sink.insert_if_absent("t", _rows(spark, [(4, 40)]))  # s3
    assert sink.deleted_between("t", 2, 3) is None


def test_deleted_between_exactly_once_attribution(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10)]))  # s0
    sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")  # s1
    sink.insert_if_absent("t", _rows(spark, [(1, 11)]))  # s2 re-admit
    sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")  # s3
    # full window: each admission attributed to the EARLIEST tombstone
    # that hid it — never twice
    got = sorted(
        (r.k, r.v, r._snapshot, r._deleted_at)
        for r in sink.deleted_between("t", None, 3).collect()
    )
    assert got == [(1, 10, 0, 1), (1, 11, 2, 3)]
    # split windows partition the same rows: the second window must
    # NOT re-report the row the first window already delivered
    first = [
        (r.k, r.v, r._snapshot, r._deleted_at)
        for r in sink.deleted_between("t", None, 1).collect()
    ]
    second = [
        (r.k, r.v, r._snapshot, r._deleted_at)
        for r in sink.deleted_between("t", 1, 3).collect()
    ]
    assert first == [(1, 10, 0, 1)]
    assert second == [(1, 11, 2, 3)]


def test_deleted_between_validates_snapshots(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10)]))
    with pytest.raises(ValueError, match="unknown until snapshot"):
        sink.deleted_between("t", None, 99)


def test_truncate(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10), (2, 20)]))  # s0
    sink.insert_if_absent("t", _rows(spark, [(3, 30)]))  # s1
    got = sink.truncate("t")  # s2
    assert got == 2
    assert sink.read("t").count() == 0
    # snapshot ids remain valid and answer empty (redaction
    # semantics; read_at's documented None-when-nothing-visible)
    assert sink.snapshots("t") == [0, 1, 2]
    assert sink.read_at("t", 0) is None
    assert sink.redactions_between("t", None) == [2]
    # replayed truncate is a no-op
    assert sink.truncate("t") is None
    # the keys are genuinely forgotten: re-insert re-admits
    sink.insert_if_absent("t", _rows(spark, [(1, 99)]))
    assert [(r.k, r.v) for r in sink.read("t").collect()] == [(1, 99)]


def test_truncate_consumes_outstanding_tombstones(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10), (2, 20)]))  # s0
    sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")  # s1
    assert sink.truncate("t") == 2
    assert sink._split_live("t")[1] == []  # no live tombstones left
    assert sink.read("t").count() == 0


def test_auto_materialize_tombstone_debt(spark, tmp_path):
    sink = _sink(spark, tmp_path, materialize_tombstones_after=2)
    sink.insert_if_absent(
        "t", _rows(spark, [(1, 10), (2, 20), (3, 30), (4, 40)])
    )  # s0
    sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")  # s1
    # below the bound: tombstone outstanding, slow tagged reads
    assert len(sink._split_live("t")[1]) == 1
    sink.delete_keys("t", _keys(spark, [2]), mode="tombstone")  # s2
    # bound reached: the policy ran a FULL materializing rewrite —
    # tombstone debt consumed, multi-path fast reader restored
    live, tombs, _, _ = sink._split_live("t")
    assert tombs == []
    assert len(live) == 1
    assert {r.k for r in sink.read("t").collect()} == {3, 4}
    # both consumed tombstones are now redaction points
    assert sink.redactions_between("t", None) == [1, 2]


def test_auto_materialize_triggered_by_insert_too(spark, tmp_path):
    # policy knob set but deletes come BEFORE it is armed? No —
    # the bound is also checked on inserts, so debt accumulated while
    # the policy was satisfied is still paid off by the next batch
    sink = _sink(spark, tmp_path)
    sink.insert_if_absent("t", _rows(spark, [(1, 10), (2, 20)]))  # s0
    sink.delete_keys("t", _keys(spark, [1]), mode="tombstone")  # s1
    sink.materialize_tombstones_after = 1
    sink.insert_if_absent("t", _rows(spark, [(5, 50)]))  # s2 + policy
    live, tombs, _, _ = sink._split_live("t")
    assert tombs == []
    assert {r.k for r in sink.read("t").collect()} == {2, 5}
