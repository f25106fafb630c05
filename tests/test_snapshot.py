"""Snapshot resolution: one memoized head snapshot per table handle.

Every operation resolves ONE snapshot at entry and passes it down. A
warm handle keeps its head and folds only commits it has not seen; a
rebuild (cold handle, time travel) starts from the newest checkpoint at
or below the target. A delegating filesystem wrapper in the style of
``_RacyFS`` (test_concurrency.py) counts checkpoint reads — on a table
past its first checkpoint every full rebuild reads one, so the count is
the number of full log folds an operation paid for.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import types as T

from databricks_delta_lake_migration_spark.tables.logtable import (
    RT_PROP,
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
        [(i, part, val) for i in ids], SCHEMA
    ).coalesce(1)


class _CountingFS:
    """Delegating FS wrapper counting checkpoint and commit-JSON reads."""

    def __init__(self, inner):
        self._inner = inner
        self.checkpoint_reads = 0
        self.commit_reads = 0

    def read_json(self, path):
        if path.endswith(".checkpoint"):
            self.checkpoint_reads += 1
        else:
            self.commit_reads += 1
        return self._inner.read_json(path)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _counted(spark, path):
    t = LogTable(spark, path)
    t.fs = fs = _CountingFS(t.fs)
    return t, fs


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    """A partitioned table at v11: one commit past its v10 checkpoint."""
    path = str(tmp_path_factory.mktemp("snap") / "t")
    t = LogTable.create(spark, path, SCHEMA, partition_by=["part"])
    for i in range(11):
        t.append(_rows(spark, [i], part="ab"[i % 2]))
    assert t.version() == 11 and t._checkpoint_versions() == [10]
    return path


@pytest.fixture
def table_path(template, tmp_path):
    path = str(tmp_path / "t")
    shutil.copytree(template, path)
    return path


OPS = {
    "append": lambda t, spark: t.append(_rows(spark, [100], part="b")),
    "update": lambda t, spark: t.update("id = 3", {"val": "9.0"}),
    "delete": lambda t, spark: t.delete("id = 4"),
    "upsert": lambda t, spark: t.upsert(
        _rows(spark, [5, 200], part="b", val=7.0), ["id"]
    ),
    "read_where": lambda t, spark: t.read(where="id = 6").collect(),
    "read_version": lambda t, spark: t.read(version=10).collect(),
    "restore": lambda t, spark: t.restore(version=10),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_fresh_handle_op_reads_at_most_one_checkpoint(spark, table_path, op):
    t, fs = _counted(spark, table_path)
    OPS[op](t, spark)
    assert fs.checkpoint_reads <= 1, (op, fs.checkpoint_reads)


def test_warm_handle_dml_reads_no_checkpoint(spark, table_path):
    t, fs = _counted(spark, table_path)
    t.read().collect()  # warm: resolves the head once
    fs.checkpoint_reads = fs.commit_reads = 0
    for op in ("append", "update", "delete", "upsert", "read_where"):
        OPS[op](t, spark)
    # v12..v15 never reach the v20 checkpoint boundary
    assert t.version() == 15
    assert fs.checkpoint_reads == 0
    # the handle's own commits are folded in memory, never re-read
    assert fs.commit_reads == 0


def test_warm_handle_sees_other_handles_commits(spark, table_path):
    a = LogTable(spark, table_path)
    assert a.read().count() == 11  # warm head at v11
    b = LogTable(spark, table_path)
    b.append(_rows(spark, [300], part="a"))
    assert a.read().count() == 12
    assert a.update("id = 300", {"val": "5.0"})["numUpdatedRows"] == 1
    assert {r.id: r.val for r in b.read().collect()}[300] == 5.0


def test_time_travel_then_head_returns_head(spark, table_path):
    # warm handle: time travel leaves the cached head alone
    t = LogTable(spark, table_path)
    assert t.read().count() == 11
    assert t.read(version=4).count() == 4
    assert t.read().count() == 11
    # cold handle: the time-travel snapshot seeds the cache and the
    # head folds forward from it — still the head, not v4's state
    cold = LogTable(spark, table_path)
    assert cold.read(version=4).count() == 4
    assert cold.read().count() == 11
    assert cold.snapshot().version == 11
    with pytest.raises(ValueError, match="version 12 not found"):
        cold.read(version=12)


def test_row_tracking_backfill_leaves_history_untouched(spark, tmp_path):
    """Enabling row tracking re-adds every active entry with a base row
    id. The stamp must land on copies: stamping the entries in place
    rewrote the handle's cached v1 commit, so same-handle time travel to
    v1 reported ids the on-disk v1 never had."""
    path = str(tmp_path / "rt")
    t = LogTable.create(spark, path, SCHEMA)
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "a", 2.0)], SCHEMA))
    t.set_properties({RT_PROP: "true"})

    def ids(h):
        df = h.read(version=1, row_tracking=True).orderBy("id")
        return [r._row_id for r in df.collect()]

    assert ids(t) == ids(LogTable(spark, path)) == [None, None]
    # the backfill itself still assigned ids at the head
    assert sorted(r._row_id for r in t.read(row_tracking=True).collect()) == [1, 2]
