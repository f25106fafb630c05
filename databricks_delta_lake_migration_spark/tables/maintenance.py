"""Table maintenance & observability composites (D9-D12, Q5 —
reference ``src/delta_utils.py:265-438``, ``src/data_processor.py:208-231``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .logtable import LogTable

MB = 1024 * 1024


@dataclass
class TableStatsReport:
    """Stats advisor output (D11 — delta_utils.py:265-293)."""

    num_files: int
    size_bytes: int
    num_records: int
    avg_file_size_mb: float
    partition_columns: list[str]
    recommendations: list[str] = field(default_factory=list)


def table_stats_advisor(
    table: LogTable,
    small_file_mb: float = 64.0,
    max_files: int = 1000,
    partition_threshold_gb: float = 1.0,
) -> TableStatsReport:
    """Physical-layout advisor: flags small average file size, file-count
    explosion, and large unpartitioned tables, with the reference's
    thresholds (delta_utils.py:282-287). Pure metadata — no data scan."""
    d = table.detail()
    avg_mb = (d["sizeInBytes"] / d["numFiles"] / MB) if d["numFiles"] else 0.0
    recs = []
    if d["numFiles"] and avg_mb < small_file_mb:
        recs.append(
            f"average file size {avg_mb:.1f} MB < {small_file_mb:.0f} MB — run OPTIMIZE"
        )
    if d["numFiles"] > max_files:
        recs.append(
            f"{d['numFiles']} files > {max_files} — run OPTIMIZE and/or repartition writes"
        )
    if not d["partitionColumns"] and d["sizeInBytes"] > partition_threshold_gb * 1024 * MB:
        recs.append(
            f"table over {partition_threshold_gb:.0f} GB without partitioning — "
            "partition by a date/low-cardinality column"
        )
    return TableStatsReport(
        num_files=d["numFiles"],
        size_bytes=d["sizeInBytes"],
        num_records=d["numRecords"],
        avg_file_size_mb=round(avg_mb, 2),
        partition_columns=d["partitionColumns"],
        recommendations=recs,
    )


def change_summary(table: LogTable, key_col: str, starting_version: int = 0) -> DataFrame:
    """Per-key CDC rollup (D12 — delta_utils.py:418-438): CDF scan →
    change counts and first/last change time per key and change type."""
    ch = table.read_changes(starting_version=starting_version)
    return ch.groupBy(F.col(key_col), "_change_type").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.min("_commit_version").alias("first_version"),
        F.max("_commit_version").alias("last_version"),
        F.min("_commit_timestamp").alias("first_change_at"),
        F.max("_commit_timestamp").alias("last_change_at"),
    )


def quality_over_versions(
    table: LogTable,
    required_cols: list[str],
    key_cols: list[str],
    versions: list[int] | None = None,
) -> DataFrame:
    """Data quality replayed across table history (Q5 —
    05_time_travel_demo.py:381-424): one single-pass aggregate per
    version (completeness + uniqueness), never per-check actions."""
    if versions is None:
        versions = [c.version for c in table.commits()]
    spark = table.spark
    reports = []
    for v in versions:
        df = table.read(version=v)
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(*[F.col(k) for k in key_cols]).alias("n_distinct_keys"),
        ] + [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls")
            for c in required_cols
        ]
        row = df.agg(*aggs).collect()[0].asDict()
        row["version"] = v
        row["unique_keys"] = row["n_rows"] == row["n_distinct_keys"]
        reports.append(row)
    first = reports[0]
    schema = ", ".join(
        f"{k} {'boolean' if isinstance(first[k], bool) else 'long'}" for k in first
    )
    return spark.createDataFrame([tuple(r.values()) for r in reports], schema)


def compute_stats(table: LogTable, columns: list[str] | None = None) -> dict:
    """ANALYZE TABLE COMPUTE STATISTICS parity (D9 —
    data_processor.py:208-231): single-pass column stats (null count,
    approx NDV, min/max for atomic types) persisted into table
    properties for planners/advisors to read without a scan."""
    import json as _json

    df = table.read()
    cols = columns or [f.name for f in df.schema.fields]
    atomic = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString()
        in ("tinyint", "smallint", "int", "bigint", "float", "double",
            "string", "date", "timestamp", "boolean")
        or f.dataType.simpleString().startswith("decimal")
    }
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        if c not in atomic:
            continue
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
            F.approx_count_distinct(c).alias(f"__ndv_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    stats = {"numRows": row["__n_rows"], "columns": {}}
    for c in cols:
        if c in atomic:
            stats["columns"][c] = {
                "nullCount": row[f"__nulls_{c}"],
                "approxNdv": row[f"__ndv_{c}"],
                "min": row[f"__min_{c}"],
                "max": row[f"__max_{c}"],
            }
    table.set_properties({"stats": _json.dumps(stats, default=str)})
    return stats


def incremental_batch(table: LogTable, last_processed_version: int) -> tuple[DataFrame, int]:
    """Version-based incremental processing (T4 —
    05_time_travel_demo.py:328-372): return only the NET new/updated
    rows since ``last_processed_version`` (CDF filtered to insert +
    update_postimage) plus the new high-water mark to persist."""
    current = table.version()
    if current <= last_processed_version:
        return table.read().limit(0), last_processed_version
    ch = table.read_changes(starting_version=last_processed_version + 1)
    fresh = ch.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type", "_commit_version", "_commit_timestamp")
    return fresh, current


IVM_HWM_PROP = "incremental.source_version"


def incremental_agg_refresh(
    source: LogTable,
    gold: LogTable,
    key_columns: list[str],
    sum_columns: dict[str, str],
    count_column: str = "n_rows",
) -> dict:
    """Incrementally maintain a grouped-aggregate gold table from a
    CDF-enabled source (materialized-view maintenance — composes T4's
    version HWM with S9 + D1; the batch-job form of what the
    reference's gold notebooks recompute from scratch each run,
    ``03_gold_aggregation.py``).

    The gold table holds ``key_columns``, a row count, and SUM columns
    (``out_col -> source-side SQL expr``). Sums must be additive and
    exact under subtraction — pass decimal-snapped exprs (e.g.
    ``CAST(amount AS DECIMAL(18,2))``) so increments commute with a
    full recompute; COUNT/AVG derive from count + sums downstream.

    First call (no HWM property on gold) runs a full refresh; later
    calls read ONLY the CDF rows since the stored high-water mark,
    fold them into per-key deltas (+1 for insert/update_postimage,
    −1 for delete/update_preimage), and MERGE: keys whose count hits
    zero are deleted, existing keys add their deltas, unseen keys
    insert. The HWM persists in gold's table properties, so refresh is
    resumable from the tables alone — no external scheduler state.

    At scale: the CDF scan reads only the change files of the new
    commits, the delta aggregate shuffles only changed rows, and the
    MERGE probe prunes gold's files by key-range stats — cost tracks
    the CHANGE volume, not the 100 TB source or the gold cardinality.
    """
    current = source.version()
    hwm = gold.properties().get(IVM_HWM_PROP)
    if hwm is None:
        # pin the scan to the captured version: a concurrent source
        # commit between version() and read() would otherwise be both
        # included in gold AND replayed by the next incremental window
        full = source.read(version=current).groupBy(*key_columns).agg(
            F.count(F.lit(1)).alias(count_column),
            *[F.sum(F.expr(e)).alias(c) for c, e in sum_columns.items()],
        )
        # HWM rides the overwrite commit itself — a crash between a
        # data commit and a separate property commit would re-apply the
        # same window on restart (the docstring's "resumable from the
        # tables alone" promise requires the pair to be atomic)
        gold.overwrite(full, extra_properties={IVM_HWM_PROP: str(current)})
        return {"mode": "full", "source_version": current}
    hwm = int(hwm)
    if current <= hwm:
        return {"mode": "noop", "source_version": hwm}

    ch = source.read_changes(starting_version=hwm + 1, ending_version=current)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = ch.groupBy(*key_columns).agg(
        F.sum(sign).alias(f"d_{count_column}"),
        *[F.sum(sign * F.expr(e)).alias(f"d_{c}") for c, e in sum_columns.items()],
    )
    cond = " AND ".join(f"target.{k} = source.{k}" for k in key_columns)
    upd = {count_column: f"target.{count_column} + source.d_{count_column}"}
    upd.update({c: f"target.{c} + source.d_{c}" for c in sum_columns})
    ins = {k: f"source.{k}" for k in key_columns}
    ins[count_column] = f"source.d_{count_column}"
    ins.update({c: f"source.d_{c}" for c in sum_columns})
    res = (
        gold.merge(deltas, cond)
        # clause order is first-match-wins: a key emptied by the deltas
        # deletes before the add-update can leave a zero-count husk
        .when_matched_delete(
            condition=f"target.{count_column} + source.d_{count_column} = 0"
        )
        .when_matched_update(set=upd)
        # keys that net-appear-and-vanish inside one window never insert
        .when_not_matched_insert(
            values=ins, condition=f"source.d_{count_column} > 0"
        )
        # HWM advances in the SAME commit as the deltas: crash-restart
        # re-reads the property post-merge and lands in the noop branch
        # instead of double-counting the window
        .with_commit_props(**{IVM_HWM_PROP: str(current)})
        .execute()
    )
    return {"mode": "incremental", "source_version": current, **res}


# ---------------------------------------------------------------------------
# Config-driven maintenance scheduler (reference src/config.py:137-162 +
# the OPTIMIZE/ZORDER/VACUUM loop its jobs drive)
# ---------------------------------------------------------------------------

LAST_RUN_PROP = "maintenance.last_run_epoch"
LAST_RUN_VERSION_PROP = "maintenance.last_run_version"


@dataclass(frozen=True)
class MaintenanceConfig:
    """Per-table maintenance policy (config.py:137-155)."""

    zorder_columns: tuple[str, ...] = ()
    optimize_interval_hours: float = 24.0
    vacuum_retain_hours: float = 168.0
    target_file_mb: int = 128
    analyze_columns: tuple[str, ...] | None = None  # () = skip, None = all
    # incremental=True scopes OPTIMIZE/ZORDER to partitions that
    # received files since the previous run (derived from the commit
    # log — no data scan). At 100 TB a nightly tick must never rewrite
    # the whole table to compact yesterday's ingest.
    incremental: bool = False


def run_maintenance(
    table: LogTable,
    config: MaintenanceConfig,
    now_epoch: float | None = None,
    force: bool = False,
) -> dict:
    """One scheduler tick for one table: if the configured interval has
    elapsed since the last recorded run (persisted in table properties —
    the schedule is resumable from the table alone), run
    OPTIMIZE-or-ZORDER → ANALYZE → VACUUM and stamp the run.

    ``now_epoch`` is the injected clock (deterministic tests); VACUUM's
    age cutoff still uses wall time internally, so retention semantics
    match the reference's scheduled jobs. Returns the per-op metrics,
    or ``{"skipped": True, ...}`` when not yet due."""
    import time as _time

    now = _time.time() if now_epoch is None else now_epoch
    props = table.snapshot().props
    last = float(props.get(LAST_RUN_PROP, "0") or 0)
    due = force or (now - last) >= config.optimize_interval_hours * 3600
    if not due:
        return {
            "skipped": True,
            "next_due_epoch": last + config.optimize_interval_hours * 3600,
        }
    out: dict = {"skipped": False}
    where, rewrite = None, True
    if config.incremental:
        last_v = int(props.get(LAST_RUN_VERSION_PROP, "-1"))
        where, rewrite = _touched_partition_scope(table, last_v)
        out["scope"] = where or ("all" if rewrite else "none-touched")
    if not rewrite:
        pass  # nothing ingested since last run: no rewrite at all
    elif config.zorder_columns:
        out["zorder"] = table.zorder(list(config.zorder_columns), where=where)
    else:
        out["optimize"] = table.optimize(
            target_file_bytes=config.target_file_mb * MB, where=where
        )
    if config.analyze_columns is None or config.analyze_columns:
        out["analyze"] = compute_stats(
            table,
            list(config.analyze_columns) if config.analyze_columns else None,
        )
    out["vacuum_removed"] = len(
        table.vacuum(retain_hours=config.vacuum_retain_hours)
    )
    # version recorded AFTER the rewrites, so this run's own OPTIMIZE
    # commits don't count as "touched" next time
    table.set_properties(
        {LAST_RUN_PROP: repr(now), LAST_RUN_VERSION_PROP: str(table.version())}
    )
    return out


def _touched_partition_scope(
    table: LogTable, since_version: int
) -> tuple[str | None, bool]:
    """(where, rewrite): the partition predicate covering every
    partition that received files after ``since_version`` — a pure
    commit-log scan, metadata-sized. ``(None, True)`` = can't scope
    (unpartitioned, NULL-partition ingest, or multi-column partitioning
    beyond the first column's discriminating power falls back to a
    first-column superset); ``(None, False)`` = nothing touched."""
    from .logtable import _partition_values

    parts = table.snapshot().partition_by
    if not parts:
        return None, True
    touched: set[str | None] = set()
    for c in table.commits():
        if c.version <= since_version:
            continue
        for f in c.add:
            touched.add(_partition_values(f.path).get(parts[0]))
    if not touched:
        return None, False
    if None in touched or any("'" in v for v in touched):
        # IN() can't name the hive-NULL partition, and a quoted value
        # would defeat the conjunct parser; conservative full run
        return None, True
    vals = ", ".join(f"'{v}'" for v in sorted(touched))
    return f"{parts[0]} IN ({vals})", True


def run_maintenance_batch(
    tables: dict[str, tuple[LogTable, MaintenanceConfig]],
    now_epoch: float | None = None,
) -> dict[str, dict]:
    """Scheduler sweep over a config map (the reference drives this from
    TABLE_CONFIGS per job run)."""
    return {
        name: run_maintenance(t, cfg, now_epoch=now_epoch)
        for name, (t, cfg) in tables.items()
    }
