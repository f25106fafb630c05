"""Merge-on-read DELETE via deletion vectors.

Delta's deletion vectors (the reference gets them from delta-spark ≥3;
lifecycle surface at ``/root/reference/src/delta_utils.py:295-370``)
re-expressed for the log-table format: DELETE records
``(file, row_index)`` tombstones, every read path anti-joins them via
the parquet reader's ``_metadata.row_index``, OPTIMIZE purges them,
and the OCC matrix treats DV-vs-rewrite races as conflicts.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_delta_lake_migration_spark.tables.logtable import (
    DV_DIR,
    ConcurrentDeleteError,
    LogTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("part", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def _rows(spark, ids, part="a", val=1.0):
    return spark.createDataFrame(
        [(i, part, float(val)) for i in ids], SCHEMA
    ).coalesce(1)


def _make(spark, tmp_path, partition_by=None, cdf=False):
    path = str(tmp_path / "t")
    props = {"enableDeletionVectors": "true"}
    if cdf:
        props["enableChangeDataFeed"] = "true"
    t = LogTable.create(spark, path, SCHEMA, partition_by=partition_by, properties=props)
    return t, path


def _data_files(t):
    return sorted(f.path for f in t.snapshot().files)


def test_dv_delete_does_not_rewrite_files(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(10)))
    before = _data_files(t)
    out = t.delete("id >= 7")
    assert out == {"numDeletedRows": 3}
    assert _data_files(t) == before  # merge-on-read: no rewrite
    assert sorted(r.id for r in t.read().collect()) == list(range(7))
    assert t.detail()["numDeletionVectorFiles"] == 1


def test_dv_deletes_union_and_never_double_count(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(10)))
    t.delete("id >= 8")
    out = t.delete("id >= 6")  # overlaps rows already tombstoned
    assert out == {"numDeletedRows": 2}
    assert sorted(r.id for r in t.read().collect()) == list(range(6))
    assert t.detail()["numDeletionVectorFiles"] == 2


def test_dv_time_travel_and_restore(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(6)))  # v1
    t.delete("id < 3")  # v2
    assert sorted(r.id for r in t.read(version=1).collect()) == list(range(6))
    assert sorted(r.id for r in t.read().collect()) == [3, 4, 5]
    t.restore(version=1)
    assert sorted(r.id for r in t.read().collect()) == list(range(6))


def test_dv_predicate_read_and_count(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(100)))
    t.delete("id % 2 = 0")
    got = t.read(where="id < 10")
    assert sorted(r.id for r in got.collect()) == [1, 3, 5, 7, 9]
    assert t.read().count() == 50


def test_optimize_purges_dvs(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(10)))
    t.delete("id >= 5")
    res = t.optimize()
    assert res["numFilesRemoved"] >= 1
    files = t.snapshot().files
    assert all(not f.dv for f in files)
    assert sum(f.num_records for f in files) == 5  # physically purged
    assert sorted(r.id for r in t.read().collect()) == list(range(5))


def test_update_rewrite_drops_dvs_without_resurrection(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(6)))
    t.delete("id >= 4")
    t.update("id = 1", {"val": "9.0"})
    got = {r.id: r.val for r in t.read().collect()}
    assert got == {0: 1.0, 1: 9.0, 2: 1.0, 3: 1.0}


def test_dv_cdf_emits_delete_rows(spark, tmp_path):
    t, _ = _make(spark, tmp_path, cdf=True)
    t.append(_rows(spark, range(4)))
    t.delete("id >= 2")
    v = t.version()
    ch = t.read_changes(starting_version=v).filter(
        F.col("_change_type") == "delete"
    )
    assert sorted(r.id for r in ch.collect()) == [2, 3]


def test_dv_partitioned_table(spark, tmp_path):
    t, _ = _make(spark, tmp_path, partition_by=["part"])
    t.append(_rows(spark, range(4), part="a"))
    t.append(_rows(spark, range(4, 8), part="b"))
    t.delete("part = 'b' and id >= 6")
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4, 5]
    # partition pruning still applies: only b's file carries a DV
    dvd = [f for f in t.snapshot().files if f.dv]
    assert len(dvd) == 1 and dvd[0].path.startswith("part=b")


def test_vacuum_keeps_referenced_dvs(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, range(6)))
    t.delete("id >= 3")
    removed = t.vacuum(retain_hours=0.0)
    # DV parquet files referenced by the live snapshot must survive
    assert not any(r.startswith(DV_DIR) for r in removed)
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2]
    # after OPTIMIZE purges the DVs, the orphaned DV files are collectable
    t.optimize()
    removed = t.vacuum(retain_hours=0.0)
    assert any(r.startswith(DV_DIR) for r in removed)
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2]


def test_dv_vs_rewrite_conflict(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, range(4)))

    class _RacyFS:
        def __init__(self, inner, interloper):
            self._inner, self._interloper, self._fired = inner, interloper, False

        def put_if_absent(self, p, text):
            if not self._fired:
                self._fired = True
                self._interloper()
            return self._inner.put_if_absent(p, text)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    other = LogTable(spark, path)
    # concurrent UPDATE rewrote the file our DV targets → conflict
    t.fs = _RacyFS(t.fs, lambda: other.update("id = 0", {"val": "9.0"}))
    with pytest.raises(ConcurrentDeleteError):
        t.delete("id = 3")
    # winner's state intact; loser's tombstones not applied
    got = {r.id: r.val for r in t.read().collect()}
    assert got == {0: 9.0, 1: 1.0, 2: 1.0, 3: 1.0}


def test_concurrent_dvs_on_same_file_commute(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, range(6)))

    class _RacyFS:
        def __init__(self, inner, interloper):
            self._inner, self._interloper, self._fired = inner, interloper, False

        def put_if_absent(self, p, text):
            if not self._fired:
                self._fired = True
                self._interloper()
            return self._inner.put_if_absent(p, text)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    other = LogTable(spark, path)
    t.fs = _RacyFS(t.fs, lambda: other.delete("id = 0"))
    t.delete("id = 5")  # different rows, same file: union semantics
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 4]


def test_shallow_clone_carries_dvs(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(6)))
    t.delete("id >= 4")
    c = t.clone(str(tmp_path / "shallow"), shallow=True)
    assert sorted(r.id for r in c.read().collect()) == [0, 1, 2, 3]


def test_deep_clone_purges_dvs(spark, tmp_path):
    t, _ = _make(spark, tmp_path)
    t.append(_rows(spark, range(6)))
    t.delete("id >= 4")
    c = t.clone(str(tmp_path / "deep"), shallow=False)
    assert sorted(r.id for r in c.read().collect()) == [0, 1, 2, 3]
    assert all(not f.dv for f in c.snapshot().files)
    # fully self-contained: no reference back into the source root
    assert all(not os.path.isabs(f.path) for f in c.snapshot().files)
