"""ACID/DML query surface (SURVEY §2.10) over scratch log tables.

Each query materializes a scratch table from fixture data under a
fresh temp dir, runs a DML program (MERGE / UPDATE+DELETE / SCD2 /
replaceWhere / time travel / CDF), and returns the resulting state;
the oracle reproduces the same final state declaratively in DuckDB
SQL. Everything is deterministic: fixture inputs, injected clocks,
exact-arithmetic mutations (×2, +100 — no float rounding hazards).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_upsert, with_scd2_columns
from ..tables import LogTable
from .registry import load_table, query


def _scratch(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"logtable-{prefix}-") + "/t"


def _orders_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-column slice of orders used as the DML target."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(F.col("o_orderkey") % 4 != 0)
    )


@query(
    "q60_merge_upsert",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 0
    ), source AS (
        SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT * FROM source
    UNION ALL
    SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
    """,
)
def q60_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert (D1 — data_processor.py:233-280): matched rows take
    source values, unmatched source rows insert. Final table state
    returned; ×2 price mutation is float-exact in both engines."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("merge"), target.schema)
    t.append(target)
    source = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
    )
    t.upsert(source, ["o_orderkey"])
    return t.read()


@query(
    "q61_merge_conditional",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 0
    ), source AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT t.o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL AND t.o_totalprice >= 100000
                THEN 'FLAGGED' ELSE t.o_orderstatus END AS o_orderstatus,
           t.o_totalprice
    FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (s.o_orderkey IS NOT NULL AND t.o_totalprice < 100000)
    """,
)
def q61_merge_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE clauses (04_acid_operations.py:73-101):
    matched+cheap → DELETE, matched+expensive → flag update; clause
    order fixed, no inserts."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("mergecond"), target.schema)
    t.append(target)
    source = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey")
    )
    (
        t.merge(source, "target.o_orderkey = source.o_orderkey")
        .when_matched_delete(condition="target.o_totalprice < 100000")
        .when_matched_update(set={"o_orderstatus": "'FLAGGED'"})
        .execute()
    )
    return t.read()


@query(
    "q62_update_delete",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN 'EXPIRED' ELSE o_orderstatus END AS o_orderstatus,
           o_totalprice
    FROM orders
    WHERE o_orderkey % 4 <> 0 AND NOT o_totalprice < 50000
    """,
)
def q62_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE with predicate then DELETE with predicate (D3/D4 —
    04_acid_operations.py:128-175)."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("upddel"), target.schema)
    t.append(target)
    t.update("o_orderstatus = 'P'", {"o_orderstatus": "'EXPIRED'"})
    t.delete("o_totalprice < 50000")
    return t.read()


@query(
    "q63_time_travel_diff",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 4 <> 0 AND o_totalprice < 50000
    """,
)
def q63_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel + version diff via left-anti join (S8 + J3 —
    05_time_travel_demo.py:103-127): rows present at v1 but deleted at
    v2."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("tt"), target.schema)
    t.append(target)  # v1
    t.delete("o_totalprice < 50000")  # v2
    v1 = t.read(version=1)
    v2 = t.read()
    return v1.join(v2, "o_orderkey", "left_anti")


@query(
    "q64_cdf_summary",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT * FROM (
        SELECT 'update_preimage' AS change_type, COUNT(*) AS n_rows
        FROM target WHERE o_orderstatus = 'P'
        UNION ALL
        SELECT 'update_postimage', COUNT(*) FROM target WHERE o_orderstatus = 'P'
        UNION ALL
        SELECT 'delete', COUNT(*) FROM target WHERE o_totalprice < 50000
        UNION ALL
        SELECT 'insert', COUNT(*) FROM target
    ) WHERE n_rows > 0
    """,
)
def q64_cdf_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF change tracking (S9/D12 — delta_utils.py:373-438): per-
    change-type row counts across the commit range. The UPDATE fires
    before the DELETE, so pre/post counts are status-based and the
    delete count is price-based on the original rows (disjoint column
    domains keep the oracle simple)."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(
        spark,
        _scratch("cdf"),
        target.schema,
        properties={"enableChangeDataFeed": "true"},
    )
    t.append(target)  # v1: inserts
    t.update("o_orderstatus = 'P'", {"o_orderstatus": "'EXPIRED'"})  # v2
    t.delete("o_totalprice < 50000")  # v3
    ch = t.read_changes(starting_version=1)
    return (
        ch.groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "q65_replace_where",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year
        FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT o_orderkey,
           CASE WHEN order_year = 1996 THEN 'REBUILT' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN order_year = 1996 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
           order_year
    FROM t
    """,
)
def q65_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replaceWhere idempotent partition overwrite (K3 —
    03_gold_aggregation.py:82-86): rebuild the 1996 partition twice;
    the second run must be a no-op on the final state."""
    target = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
    )
    t = LogTable.create(
        spark, _scratch("rw"), target.schema, partition_by=["order_year"]
    )
    t.append(target)
    rebuilt = target.filter(F.col("order_year") == 1996).select(
        "o_orderkey",
        F.lit("REBUILT").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "order_year",
    )
    for _ in range(2):  # idempotency under re-run
        t.overwrite(rebuilt, replace_where="order_year = 1996")
    return t.read()


@query(
    "q66_scd2_dimension",
    oracle="""
    WITH snap1 AS (
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
    ), snap2 AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
        FROM customer
    ), changed AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0 OR c_custkey % 7 = 0
    )
    SELECT s1.c_custkey, s1.c_name, s1.c_mktsegment, s1.c_acctbal,
           TIMESTAMP '2024-01-01 00:00:00' AS effective_start_date,
           TIMESTAMP '2024-02-01 00:00:00' AS effective_end_date,
           FALSE AS is_current
    FROM snap1 s1 JOIN changed ch ON s1.c_custkey = ch.c_custkey
    UNION ALL
    SELECT s2.c_custkey, s2.c_name, s2.c_mktsegment, s2.c_acctbal,
           TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
    FROM snap2 s2 JOIN changed ch ON s2.c_custkey = ch.c_custkey
    UNION ALL
    SELECT s1.c_custkey, s1.c_name, s1.c_mktsegment, s1.c_acctbal,
           TIMESTAMP '2024-01-01 00:00:00', NULL, TRUE
    FROM snap1 s1 WHERE s1.c_custkey NOT IN (SELECT c_custkey FROM changed)
    """,
)
def q66_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 (D2 — 02_silver_transformation.py:83-135) as the
    deterministic staged-union single MERGE: two snapshots with pinned
    clocks; changed keys close + re-open, unchanged keys untouched."""
    snap1 = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    snap2 = snap1.select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 5 == 0, "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    init = with_scd2_columns(snap1, ["c_custkey"], "2024-01-01 00:00:00")
    t = LogTable.create(spark, _scratch("scd2"), init.schema)
    t.append(init)
    scd2_upsert(t, snap2, ["c_custkey"], "2024-02-01 00:00:00")
    return t.read().drop("record_hash")


@query(
    "q67_maintenance_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(COUNT(*) AS BIGINT) AS rows_after,
           TRUE AS compaction_reduced_files,
           TRUE AS vacuum_removed_compacted,
           CAST(COUNT(*) AS BIGINT) AS rows_after_restore,
           TRUE AS restore_roundtrip
    FROM orders WHERE o_orderkey % 4 <> 0
    """,
)
def q67_maintenance_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE + VACUUM + RESTORE physical lifecycle (D5/D6/D8):
    small-file debris compacted, orphans vacuumed, then a destructive
    DELETE is undone with RESTORE (delta_utils.py:295-370). Raw file
    counts are engine-physical, so the hard-checked output is row
    conservation (oracle-exact) plus the lifecycle verdicts: compaction
    shrank the file count, VACUUM collected exactly the compacted-away
    files, and the post-restore state is row-for-row identical to the
    pre-delete snapshot (two-sided exceptAll)."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("maint"), target.schema)
    # 4 small appends → small-file debris
    for i in range(4):
        t.append(target.filter(F.col("o_orderkey") % 4 == i % 4))
    before = t.detail()
    res = t.optimize()
    vacuumed = t.vacuum(retain_hours=0)
    after = t.detail()
    # RESTORE round-trip: delete ~half the rows, restore to the
    # pre-delete version, assert exact state equality vs that version
    v = t.version()
    t.delete("o_totalprice < 100000")
    t.restore(version=v)
    cur, pre = t.read(), t.read(version=v)
    roundtrip = bool(
        cur.exceptAll(pre).count() == 0 and pre.exceptAll(cur).count() == 0
    )
    return spark.createDataFrame(
        [
            (
                before["numRecords"],
                after["numRecords"],
                bool(after["numFiles"] < before["numFiles"]),
                bool(len(vacuumed) == res["numFilesRemoved"]),
                cur.count(),
                roundtrip,
            )
        ],
        "rows_before long, rows_after long, "
        "compaction_reduced_files boolean, vacuum_removed_compacted boolean, "
        "rows_after_restore long, restore_roundtrip boolean",
    )


@query(
    "q68_cdc_mirror",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 0
    ), source AS (
        SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice + 100 AS o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
    )
    -- matched rows take source values; new source keys insert;
    -- target rows absent from source: F-status rows are deleted,
    -- the rest survive verbatim
    SELECT s.* FROM source s
    UNION ALL
    SELECT t.* FROM target t
    WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM source)
      AND t.o_orderstatus <> 'F'
    """,
)
def q68_cdc_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-clause-family MERGE (Delta's full surface, incl. WHEN NOT
    MATCHED BY SOURCE): update matches, insert new keys, and delete
    stale target rows the source no longer carries — the one-statement
    CDC mirror. NMBS disables file pruning by construction (every
    target row participates); the rewrite is still a single joined
    pass."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("mirror"), target.schema)
    t.append(target)
    source = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            F.lit("M").alias("o_orderstatus"),
            (F.col("o_totalprice") + 100).alias("o_totalprice"),
        )
    )
    (
        t.merge(source, "target.o_orderkey = source.o_orderkey")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .when_not_matched_by_source_delete(condition="target.o_orderstatus = 'F'")
        .execute()
    )
    return t.read()


@query(
    "q76_history_rollup",
    oracle="""
    SELECT * FROM (VALUES
        ('CREATE TABLE', 1),
        ('WRITE', 3),
        ('UPDATE', 1),
        ('DELETE', 1),
        ('MERGE', 1)
    ) AS t(operation, n_ops)
    """,
)
def q76_history_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops-per-operation rollup over DESCRIBE HISTORY (A9 —
    05_time_travel_demo.py:64-70). The DML program is fixed, so the
    audit-log rollup is fully deterministic and oracle-checkable as
    literals — timestamps/metrics are excluded by projection."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("hist"), target.schema)
    for k in (1, 2, 3):
        t.append(target.filter(F.col("o_orderkey") % 3 == k % 3))
    t.update("o_orderstatus = 'O'", {"o_totalprice": "o_totalprice"})
    t.delete("o_orderkey % 100 = 0")
    t.upsert(
        target.limit(0),  # empty source → MERGE commit, no row changes
        ["o_orderkey"],
    )
    return (
        t.history()
        .groupBy("operation")
        .agg(F.count(F.lit(1)).alias("n_ops"))
    )


@query(
    "q101_dv_delete",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           TRUE AS mor_no_rewrite, TRUE AS dv_present, TRUE AS dv_purged
    FROM orders
    WHERE o_orderkey % 4 <> 0
      AND NOT o_totalprice < 50000
      AND NOT o_orderstatus = 'O'
    """,
)
def q101_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (D4 at scale —
    04_acid_operations.py:170-175 semantics without the rewrite):
    two DV deletes (tombstone union), then an OPTIMIZE purge. The flag
    columns are in-query verdicts the oracle pins to TRUE:
    ``mor_no_rewrite`` = the data-file set was untouched by both
    deletes, ``dv_present`` = tombstones existed before the purge,
    ``dv_purged`` = OPTIMIZE removed them all."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(
        spark,
        _scratch("dv"),
        target.schema,
        properties={"enableDeletionVectors": "true"},
    )
    t.append(target)
    files_before = {f.path for f in t.snapshot().files}
    t.delete("o_totalprice < 50000")
    t.delete("o_orderstatus = 'O'")
    files_after = {f.path for f in t.snapshot().files}
    dv_present = t.detail()["numDeletionVectorFiles"] > 0
    t.optimize()
    dv_purged = t.detail()["numDeletionVectorFiles"] == 0
    return (
        t.read()
        .withColumn("mor_no_rewrite", F.lit(files_before == files_after))
        .withColumn("dv_present", F.lit(dv_present))
        .withColumn("dv_purged", F.lit(dv_purged))
    )


@query(
    "q102_incremental_gold",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 10 = 0
                    THEN o_totalprice * 2 ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 4 <> 0 AND o_orderkey % 7 <> 0
    )
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           TRUE AS incremental_matches_full
    FROM base GROUP BY o_custkey
    """,
)
def q102_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (T4+S9+D1 composed —
    ``tables/maintenance.py:incremental_agg_refresh``): a per-customer
    gold aggregate is first full-refreshed from a CDF-enabled source,
    then the source takes an append + UPDATE + DELETE batch and the
    gold is folded forward from ONLY the change feed (signed per-key
    deltas MERGEd in; emptied keys deleted). The verdict column pins
    the incremental state equal to a from-scratch recompute — the
    invariant that makes the operator safe to run forever at 100 TB,
    where re-aggregating the source each cycle is the thing you can't
    afford. Sums accumulate in DECIMAL(18,2) so delta-addition is
    exact and commutes with the full recompute."""
    from ..tables.maintenance import incremental_agg_refresh

    from pyspark.sql import types as T

    src_rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 4 != 0)
    )
    src = LogTable.create(
        spark,
        _scratch("ivm-src"),
        src_rows.schema,
        properties={"enableChangeDataFeed": "true"},
    )
    src.append(src_rows.filter(F.col("o_orderkey") % 3 != 0))

    gold_schema = T.StructType(
        [
            T.StructField("o_custkey", T.LongType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("revenue", T.DecimalType(18, 2)),
        ]
    )
    gold = LogTable.create(spark, _scratch("ivm-gold"), gold_schema)
    sums = {"revenue": "CAST(o_totalprice AS DECIMAL(18,2))"}
    r1 = incremental_agg_refresh(src, gold, ["o_custkey"], sums, "n_orders")

    # source evolves: late-arriving inserts, a price correction, a purge
    src.append(src_rows.filter(F.col("o_orderkey") % 3 == 0))
    src.update("o_orderkey % 10 = 0", {"o_totalprice": "o_totalprice * 2"})
    src.delete("o_orderkey % 7 = 0")
    r2 = incremental_agg_refresh(src, gold, ["o_custkey"], sums, "n_orders")

    got = gold.read().select("o_custkey", "n_orders", "revenue")
    full = src.read().groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr(sums["revenue"])).cast("decimal(18,2)").alias("revenue"),
    )
    matches = (
        r1["mode"] == "full"
        and r2["mode"] == "incremental"
        and got.exceptAll(full).count() == 0
        and full.exceptAll(got).count() == 0
    )
    return got.select(
        "o_custkey",
        "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
        F.lit(matches).alias("incremental_matches_full"),
    )


@query(
    "q104_generated_columns",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 4 <> 0 AND o_orderkey % 5 = 0
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
           CAST(FLOOR(CASE WHEN o_orderkey % 4 <> 0 AND o_orderkey % 5 = 0
                           THEN o_totalprice * 2 ELSE o_totalprice END / 50000)
                AS BIGINT) AS price_band
    FROM orders
    """,
)
def q104_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS lifecycle (delta-spark feature parity the
    reference inherits — ``tables/logtable.py:_generated_columns``):
    ``price_band`` is declared as an expression over ``o_totalprice``
    and never supplied by any write. The append computes it, the
    UPDATE recomputes it from the post-update price (a stale band
    fails the oracle), and the insert-only MERGE computes it for the
    new keys. FLOOR (not a bare BIGINT cast) keeps Spark/DuckDB
    truncate-vs-round semantics out of the hash."""
    from pyspark.sql import types as T

    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("price_band", T.LongType()),
        ]
    )
    t = LogTable.create(
        spark,
        _scratch("gencol"),
        schema,
        generated_columns={
            "price_band": "CAST(FLOOR(o_totalprice / 50000) AS BIGINT)"
        },
    )
    t.append(base.filter(F.col("o_orderkey") % 4 != 0))
    t.update("o_orderkey % 5 = 0", {"o_totalprice": "o_totalprice * 2"})
    (
        t.merge(
            base.filter(F.col("o_orderkey") % 4 == 0),
            "target.o_orderkey = source.o_orderkey",
        )
        .when_not_matched_insert_all()
        .execute()
    )
    return t.read()


@query(
    "q105_rename_drop_column",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS price,
           TRUE AS rename_was_metadata_only
    FROM orders
    WHERE o_orderkey % 4 <> 0 AND o_orderkey % 7 <> 0
    """,
)
def q105_rename_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping DDL lifecycle (Delta name-mode column mapping —
    ``tables/logtable.py:rename_column/drop_column``): RENAME COLUMN and
    DROP COLUMN are metadata-only commits; data files keep their frozen
    physical names and are never rewritten — at 100 TB the DDL costs one
    log write instead of a full-table job. The program renames
    ``o_totalprice``→``price``, runs UPDATE + DELETE against the NEW
    logical name (predicates translate to physical stats for file
    skipping), drops ``o_orderstatus``, and pins a verdict that the
    data-file set was untouched by both DDLs."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("colmap"), target.schema)
    t.append(target)
    files_before = {f.path for f in t.snapshot().files}
    t.rename_column("o_totalprice", "price")
    t.drop_column("o_orderstatus")
    files_after = {f.path for f in t.snapshot().files}
    metadata_only = files_before == files_after
    t.update("o_orderkey % 5 = 0", {"price": "price * 2"})
    t.delete("o_orderkey % 7 = 0")
    return t.read().withColumn("rename_was_metadata_only", F.lit(metadata_only))


@query(
    "q106_identity_column",
    oracle="""
    WITH a AS (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
        FROM orders WHERE o_orderkey % 4 <> 0
    ), b AS (
        SELECT o_orderkey, o_totalprice,
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 <> 0)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
        FROM orders WHERE o_orderkey % 4 = 0
    )
    SELECT o_orderkey, o_totalprice, CAST(row_id AS BIGINT) AS row_id FROM a
    UNION ALL
    SELECT o_orderkey, o_totalprice, CAST(row_id AS BIGINT) AS row_id FROM b
    """,
)
def q106_identity_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY (delta-spark feature parity —
    ``tables/logtable.py:_apply_identity``): ``row_id`` is allocated by
    the table on every append — contiguous from the persisted high
    watermark via per-partition offsets (two jobs, zero shuffles, no
    window), with explicit values rejected. Two appends land 1..N then
    N+1..M. The fixture feeds each batch sorted single-partition so the
    allocation order is SQL-expressible (ROW_NUMBER over the sort key);
    the allocator itself is multi-partition-safe
    (`test_identity_survives_multi_partition_append`)."""
    from pyspark.sql import types as T

    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    schema = T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    t = LogTable.create(
        spark,
        _scratch("ident"),
        schema,
        identity_columns={"row_id": {"start": 1, "step": 1}},
    )
    for pred in (F.col("o_orderkey") % 4 != 0, F.col("o_orderkey") % 4 == 0):
        t.append(base.filter(pred).orderBy("o_orderkey").coalesce(1))
    return t.read()


@query(
    "q110_sql_time_travel",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 0
    ), cur AS (
        SELECT * FROM v1 WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
    )
    SELECT v1.o_orderkey, v1.o_orderstatus, v1.o_totalprice,
           (cur.o_orderkey IS NULL) AS deleted_since_v1
    FROM v1 LEFT JOIN cur ON v1.o_orderkey = cur.o_orderkey
    """,
)
def q110_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta SQL time travel through the catalog (S8's SQL spelling —
    05_time_travel_demo.py's `VERSION AS OF` run as real SQL text):
    ONE statement joins the v1 snapshot against the current snapshot of
    the same table (`Catalog.sql` binds each `name VERSION AS OF n`
    reference to its own snapshot view), flagging rows a later DELETE
    removed — the audit query every time-travel demo builds."""
    from ..tables import Catalog

    target = _orders_subset(spark, sf_dir)
    cat = Catalog(spark, _scratch("sqltt-cat"), default_catalog="lake")
    t = cat.create_table("lake.acid.orders_tt", target.schema)
    t.append(target)
    v1 = t.version()
    t.delete("o_orderstatus = 'F' AND o_orderkey % 3 = 0")
    return cat.sql(
        f"""
        SELECT v1.o_orderkey, v1.o_orderstatus, v1.o_totalprice,
               (cur.o_orderkey IS NULL) AS deleted_since_v1
        FROM acid.orders_tt VERSION AS OF {v1} v1
        LEFT JOIN acid.orders_tt cur ON v1.o_orderkey = cur.o_orderkey
        """
    )


@query(
    "q111_convert_to_delta",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus,
           TRUE AS zero_copy
    FROM orders
    WHERE o_orderkey % 4 <> 0 AND o_orderkey % 7 <> 0
    """,
)
def q111_convert_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA parity (``LogTable.convert`` — the zero-copy
    alternative to the reference's copy-based parquet migration,
    migrate_from_hdfs.py): a plain hive-partitioned parquet directory is
    adopted IN PLACE as version 0 — one listing + footer pass, no row
    copied (the verdict column pins the adopted file set identical to
    the original files). The converted directory immediately supports
    stats-pruned DML: an UPDATE and a DELETE run against it and the
    final state must match the declarative program."""
    target = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .filter(F.col("o_orderkey") % 4 != 0)
    )
    src = _scratch("convert")
    target.write.partitionBy("o_orderstatus").parquet(src)
    import glob

    files_before = set(glob.glob(f"{src}/**/*.parquet", recursive=True))
    t = LogTable.convert(spark, src)
    zero_copy = {f.abspath(t.path) for f in t.snapshot().files} == files_before
    t.update("o_orderkey % 5 = 0", {"o_totalprice": "o_totalprice * 2"})
    t.delete("o_orderkey % 7 = 0")
    return t.read().withColumn("zero_copy", F.lit(zero_copy))


@query(
    "q112_bloom_index_skipping",
    oracle="""
    SELECT c_custkey, c_name,
           TRUE AS stats_blind, TRUE AS bloom_skips_point,
           TRUE AS bloom_skips_absent
    FROM customer WHERE c_name = 'Customer#000000001'
    """,
)
def q112_bloom_index_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sidecar index (``bloomfilter.columns`` — Delta's
    delta.bloomFilter.* family): point/IN skipping on a
    high-cardinality STRING key the table is NOT clustered by. The
    fixture is round-robin scattered across 8 files so every file's
    [min,max] straddles the probe — range stats alone prune nothing
    (``stats_blind``) — yet the bloom path skips ≥1 file for a present
    key (it lives in few files) and ≥half for an absent key (1% fpp,
    blake2b-deterministic). Sidecars live OUTSIDE the commit log: at
    1 M-row files a useful bloom is ~1 MB, and log replay must stay
    metadata-sized; pruning loads them lazily and only for files
    min/max skipping kept."""
    from ..tables.logtable import BLOOM_PROP

    src = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    t = LogTable.create(
        spark, _scratch("bloom"), src.schema, properties={BLOOM_PROP: '["c_name"]'}
    )
    t.append(src.repartition(8))  # round-robin: overlapping min/max
    present = "c_name = 'Customer#000000001'"
    absent = "c_name = 'Customer#999999999'"
    ps_p, ps_a = t.prune_stats(present), t.prune_stats(absent)
    # verdicts (oracle pins all TRUE):
    stats_blind = ps_a["files_total"] >= 2  # scatter really happened
    bloom_point = ps_p["files_skipped"] >= 1
    bloom_absent = ps_a["files_skipped"] >= ps_a["files_total"] // 2
    return (
        t.read(where=present)
        .withColumn("stats_blind", F.lit(stats_blind))
        .withColumn("bloom_skips_point", F.lit(bloom_point))
        .withColumn("bloom_skips_absent", F.lit(bloom_absent))
    )


@query(
    "q113_copy_into",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           TRUE AS idempotent, TRUE AS incremental
    FROM orders WHERE o_orderkey % 4 <> 0
    """,
)
def q113_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO (Delta SQL — the batch-idempotent ingestion the
    reference's migration loops re-implement by hand,
    migrate_from_hdfs.py's full-load path): a landing directory is
    loaded in two arrivals. Run 1 loads batch 1; an immediate re-run
    loads NOTHING (``idempotent`` verdict — file identity
    path+size+mtime recovered from the commit log); batch 2 lands and
    only its files load (``incremental`` verdict). Final table state
    must equal one clean load of everything — the oracle's declarative
    form."""
    target = _orders_subset(spark, sf_dir)
    land = _scratch("land")
    target.filter(F.col("o_orderkey") % 2 == 1).write.parquet(f"{land}/b1")
    t = LogTable.create(spark, _scratch("copyinto"), target.schema)
    r1 = t.copy_into(land)
    rerun = t.copy_into(land)
    idempotent = rerun["numLoadedFiles"] == 0 and r1["numCopiedRows"] > 0
    target.filter(F.col("o_orderkey") % 2 == 0).write.parquet(f"{land}/b2")
    r3 = t.copy_into(land)
    incremental = (
        r3["numLoadedFiles"] > 0
        and r1["numCopiedRows"] + r3["numCopiedRows"] == target.count()
    )
    return (
        t.read()
        .withColumn("idempotent", F.lit(idempotent))
        .withColumn("incremental", F.lit(incremental))
    )


@query(
    "q118_show_partitions",
    oracle="""
    SELECT o_orderstatus AS day FROM orders WHERE o_orderkey % 4 <> 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q118_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS through the SQL router: metadata-only — the
    partition list comes from active file paths, no data scan. The
    oracle is the declarative DISTINCT over the partition source
    column (same values, proving path-derived metadata ≡ data)."""
    from ..tables import Catalog

    target = _orders_subset(spark, sf_dir).withColumnRenamed(
        "o_orderstatus", "day"
    )
    cat = Catalog(spark, _scratch("showparts-cat"))
    t = cat.create_table("lake.acid.parts", target.schema, partition_by=["day"])
    t.append(target.repartition("day"))
    return cat.sql("SHOW PARTITIONS acid.parts").select(
        F.col("day").alias("day")
    )


@query(
    "q119_write_tuning",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           TRUE AS files_bounded, TRUE AS compacted
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 50 < 12
    """,
)
def q119_write_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """optimizeWrite + autoCompact under a small-append ingest loop:
    12 appends into a 2-partition table; optimizeWrite lands one file
    per touched partition per append, autoCompact (minNumFiles=4)
    folds partitions back inline — ``files_bounded`` pins the live
    file count under the threshold bound after the storm (without the
    pair it would be ≥ 12), ``compacted`` pins that inline OPTIMIZE
    commits actually happened. Content equals the declarative union of
    everything appended."""
    from ..tables.logtable import (
        AUTOCOMPACT_MIN_FILES_PROP,
        AUTOCOMPACT_PROP,
        OPTWRITE_PROP,
    )

    target = _orders_subset(spark, sf_dir).filter(F.col("o_orderkey") % 50 < 12)
    t = LogTable.create(
        spark,
        _scratch("writetune"),
        target.schema,
        partition_by=["o_orderstatus"],
        properties={
            OPTWRITE_PROP: "true",
            AUTOCOMPACT_PROP: "true",
            AUTOCOMPACT_MIN_FILES_PROP: "4",
        },
    )
    for i in range(12):
        t.append(target.filter(F.col("o_orderkey") % 50 == i))
    n_parts = target.select("o_orderstatus").distinct().count()
    files_bounded = t.detail()["numFiles"] <= 4 * n_parts
    compacted = any(c.operation == "OPTIMIZE" for c in t.commits())
    return (
        t.read()
        .withColumn("files_bounded", F.lit(bool(files_bounded)))
        .withColumn("compacted", F.lit(bool(compacted)))
    )


@query(
    "q120_schema_metadata",
    oracle="""
    SELECT column_name AS col_name, TRUE AS roundtrip_ok, TRUE AS describe_ok
    FROM (DESCRIBE SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
    ORDER BY col_name
    """,
)
def q120_schema_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-metadata SQL surface (delta_utils.py:242-256 emits CREATE
    DDL; notebook users read DESCRIBE): SHOW COLUMNS supplies the
    column inventory — cross-checked against DuckDB's DESCRIBE of the
    same parquet — while two in-query verdicts pin (a) SHOW CREATE
    TABLE output re-executing through the router into a metadata-equal
    table (schema, partitioning, properties), and (b) DESCRIBE TABLE
    agreeing with the table's schema, including the partition-info
    section. All metadata-only: no data scan behind any of the three
    statements."""
    from ..tables import Catalog

    target = _orders_subset(spark, sf_dir)
    cat = Catalog(spark, _scratch("schemameta-cat"))
    t = cat.create_table(
        "lake.acid.meta", target.schema, partition_by=["o_orderstatus"]
    )
    t.set_properties({"delta.enableChangeDataFeed": "true"})
    t.append(target.repartition("o_orderstatus"))

    stmt = cat.sql("SHOW CREATE TABLE acid.meta").first()["createtab_stmt"]
    cat.sql(stmt.replace("lake.acid.meta", "lake.acid.meta_rt"))
    t2 = cat.table("acid.meta_rt")
    roundtrip_ok = (
        [(f.name, f.dataType) for f in t2.schema().fields]
        == [(f.name, f.dataType) for f in t.schema().fields]
        and t2.partition_columns() == t.partition_columns()
        and t2.properties() == t.properties()
    )

    desc = cat.sql("DESCRIBE TABLE acid.meta").collect()
    n = len(t.schema().fields)
    describe_ok = (
        [(r.col_name, r.data_type) for r in desc[:n]]
        == [(f.name, f.dataType.simpleString()) for f in t.schema().fields]
        and desc[n].col_name == "# Partition Information"
        and desc[-1].col_name == "o_orderstatus"
    )

    return (
        cat.sql("SHOW COLUMNS IN acid.meta")
        .withColumn("roundtrip_ok", F.lit(bool(roundtrip_ok)))
        .withColumn("describe_ok", F.lit(bool(describe_ok)))
        .orderBy("col_name")
    )


@query(
    "q124_type_widening",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS id,
           CAST(o_orderkey % 100 AS DOUBLE) AS qty,
           TRUE AS narrow_before
    FROM orders WHERE o_orderkey % 4 <> 0
    UNION ALL
    SELECT o_orderkey + 3000000000,
           o_orderkey % 100 + 0.5,
           TRUE
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 50 = 3
    """,
)
def q124_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening (D29 — Delta's ALTER COLUMN TYPE, metadata-only):
    a table born with int/int columns is widened to bigint/double with
    no data rewrite, then an append lands values only the wide types
    can hold (ids beyond int range, fractional qty). The final state —
    narrow-era files upcast at scan time, wide-era files native — must
    equal the declarative union; ``narrow_before`` pins that the
    pre-widening snapshot still time-travels back under the narrow
    schema."""
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 != 0)
        .select(
            F.col("o_orderkey").cast("int").alias("id"),
            (F.col("o_orderkey") % 100).cast("int").alias("qty"),
        )
    )
    t = LogTable.create(spark, _scratch("widen"), base.schema)
    t.append(base)
    v_narrow = t.version()
    from pyspark.sql import types as T

    t.alter_column_type("id", T.LongType())
    t.alter_column_type("qty", T.DoubleType())
    t.append(
        base.filter(F.col("id") % 50 == 3).select(
            (F.col("id").cast("long") + 3_000_000_000).alias("id"),
            (F.col("qty").cast("double") + 0.5).alias("qty"),
        )
    )
    narrow_before = dict(t.read(version=v_narrow).dtypes) == {
        "id": "int", "qty": "int",
    }
    return t.read().withColumn("narrow_before", F.lit(bool(narrow_before)))


@query(
    "q125_liquid_clustering",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           TRUE AS clustered, TRUE AS reclustered
    FROM orders WHERE o_orderkey % 4 <> 0
    """,
)
def q125_liquid_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER BY (D30 — liquid-clustering contract): the table
    declares its clustering key once; six interleaved ingest batches
    land key-sorted (cluster-on-write via optimizeWrite), and a bare
    OPTIMIZE — no ZORDER clause — re-clusters the accumulated state.
    ``clustered`` pins that a point predicate on the key skips files
    after the bare OPTIMIZE (the whole point of clustering);
    ``reclustered`` pins that OPTIMIZE actually committed a rewrite.
    Content equals the declarative union of everything ingested."""
    from ..tables.logtable import OPTWRITE_PROP

    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(
        spark,
        _scratch("liquid"),
        target.schema,
        cluster_by=["o_orderkey"],
        properties={OPTWRITE_PROP: "true"},
    )
    for i in range(6):
        t.append(target.filter(F.col("o_orderkey") % 6 == i))
    # small target file size so the fixture-scale table still lands a
    # multi-file clustered layout (the skip verdict needs >1 file;
    # production uses the 128 MB default)
    res = t.optimize(target_file_bytes=4096)
    probe_key = target.agg(F.min("o_orderkey")).first()[0]
    stats = t.prune_stats(f"o_orderkey = {probe_key}")
    clustered = stats["files_total"] > 1 and stats["files_skipped"] >= 1
    return (
        t.read()
        .withColumn("clustered", F.lit(bool(clustered)))
        .withColumn("reclustered", F.lit(res["numFilesAdded"] >= 1))
    )


@query(
    "q126_log_retention",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           TRUE AS pruned, TRUE AS tail_travels, TRUE AS pre_cut_gone
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 < 5
    """,
)
def q126_log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log retention (D31 — Delta's log cleanup): ten appends on a
    3-commit checkpoint cadence with zero log retention; the commit
    prefix below the newest horizon-covered checkpoint is deleted at
    checkpoint granularity. ``pruned`` pins that the prefix is gone,
    ``tail_travels`` that time travel at the cut still replays
    (checkpoint + complete tail), ``pre_cut_gone`` that pre-cut
    versions report not-found instead of silently replaying partial
    state. Content equals the declarative union of all appends."""
    target = _orders_subset(spark, sf_dir).filter(F.col("o_orderkey") % 10 < 5)
    t = LogTable.create(
        spark,
        _scratch("logret"),
        target.schema,
        properties={
            "delta.checkpointInterval": "3",
            "delta.logRetentionDuration": "interval 0 hours",
        },
    )
    for i in range(10):
        t.append(target.filter(F.col("o_orderkey") % 10 == i % 5).filter(
            (F.col("o_orderkey") % 2 == 0) if i >= 5 else (F.col("o_orderkey") % 2 == 1)
        ))
    versions = sorted(c.version for c in t.commits())
    pruned = versions[0] == 6 and versions[-1] == 10
    tail_travels = t.read(version=7).count() > 0
    try:
        t.read(version=2)
        pre_cut_gone = False
    except ValueError:
        pre_cut_gone = True
    return (
        t.read()
        .withColumn("pruned", F.lit(bool(pruned)))
        .withColumn("tail_travels", F.lit(bool(tail_travels)))
        .withColumn("pre_cut_gone", F.lit(bool(pre_cut_gone)))
    )


@query(
    "q128_vacuum_lite",
    oracle="""
    SELECT o_orderkey, 'FINAL' AS o_orderstatus, o_totalprice,
           TRUE AS lite_equals_walk, TRUE AS collected, TRUE AS snapshot_intact
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 7 = 0
    """,
)
def q128_vacuum_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM LITE (D8 — Delta 3.3's log-driven variant): after an
    overwrite storm leaves unreferenced files, the LITE candidate set
    (derived from the commit log alone, no tree walk) must equal the
    full-walk candidate set for log-tracked files
    (``lite_equals_walk``), actually collect them (``collected``), and
    leave the current snapshot byte-intact (``snapshot_intact``).
    At 100 TB the recursive listing IS the cost of VACUUM — the log is
    metadata."""
    target = _orders_subset(spark, sf_dir).filter(F.col("o_orderkey") % 7 == 0)
    t = LogTable.create(spark, _scratch("vlite"), target.schema)
    t.append(target)
    t.overwrite(target.withColumn("o_orderstatus", F.lit("MID")))
    t.overwrite(target.withColumn("o_orderstatus", F.lit("FINAL")))
    full = set(t.vacuum(retain_hours=0, dry_run=True))
    lite = set(t.vacuum(retain_hours=0, dry_run=True, lite=True))
    lite_equals_walk = full == lite and len(lite) >= 2
    removed = t.vacuum(retain_hours=0, lite=True)
    collected = set(removed) == lite
    snapshot_intact = t.read().count() == target.count()
    return (
        t.read()
        .withColumn("lite_equals_walk", F.lit(bool(lite_equals_walk)))
        .withColumn("collected", F.lit(bool(collected)))
        .withColumn("snapshot_intact", F.lit(bool(snapshot_intact)))
    )


@query(
    "q129_column_defaults",
    oracle="""
    SELECT o_orderkey,
           'BACKFILL' AS o_orderstatus,
           CAST(-1.0 AS DOUBLE) AS o_totalprice,
           TRUE AS roundtrip_ok
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 = 1
    UNION ALL
    SELECT o_orderkey, o_orderstatus, -1.0, TRUE
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 = 2
    UNION ALL
    SELECT o_orderkey, 'BACKFILL', 99.5, TRUE
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 = 4
    """,
)
def q129_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULTs (D32 — Delta's ``ALTER COLUMN SET DEFAULT`` /
    ``delta.feature.allowColumnDefaults``): a table declares literal
    defaults at CREATE; ingest batches that omit columns fill them with
    the declared value instead of NULL, a later ``SET DEFAULT`` changes
    the fill for FUTURE writes only (batch C lands 99.5 while batch A's
    rows keep -1.0 — metadata-only, no rewrite at any table size), and
    full-width batches are untouched. ``roundtrip_ok`` pins that SHOW
    CREATE emits DEFAULT as a column clause that parses back to an
    identical table. Reference anchor: delta_utils.py's DDL generator
    (delta_utils.py:242-256) — the spelling its SQL users feed back."""
    from ..tables import Catalog

    base = _orders_subset(spark, sf_dir)
    cat = Catalog(spark, _scratch("dflt-cat"))
    t = cat.create_table(
        "lake.dml.dflt",
        base.schema,
        properties={
            "default.o_orderstatus": "'BACKFILL'",
            "default.o_totalprice": "-1.0",
        },
    )
    t.append(base.filter(F.col("o_orderkey") % 10 == 1).select("o_orderkey"))
    t.append(
        base.filter(F.col("o_orderkey") % 10 == 2).select(
            "o_orderkey", "o_orderstatus"
        )
    )
    cat.sql("ALTER TABLE dml.dflt ALTER COLUMN o_totalprice SET DEFAULT 99.5")
    t.append(base.filter(F.col("o_orderkey") % 10 == 3).select("o_orderkey"))
    t.append(base.filter(F.col("o_orderkey") % 10 == 4))
    stmt = cat.sql("SHOW CREATE TABLE dml.dflt").first()["createtab_stmt"]
    cat.sql(stmt.replace("lake.dml.dflt", "lake.dml.dflt_rt"))
    t2 = cat.table("dml.dflt_rt")
    roundtrip_ok = (
        t2.properties() == t.properties()
        and [(f.name, f.dataType) for f in t2.schema().fields]
        == [(f.name, f.dataType) for f in t.schema().fields]
    )
    return t.read().withColumn("roundtrip_ok", F.lit(bool(roundtrip_ok)))


@query(
    "q130_row_tracking",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 20 = 1 THEN 'TOUCHED' ELSE o_orderstatus END
               AS o_orderstatus,
           CASE WHEN o_orderkey % 20 = 1 THEN o_totalprice + 100
                ELSE o_totalprice END AS o_totalprice,
           TRUE AS ids_unique, TRUE AS optimize_stable,
           TRUE AS update_tracked, TRUE AS merge_tracked
    FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 < 5
    UNION ALL
    SELECT o_orderkey + 6000000, 'NEWROW', 1.5,
           TRUE, TRUE, TRUE, TRUE
    FROM orders
    WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 < 5 AND o_orderkey % 30 = 2
    """,
)
def q130_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking (D34 — Delta's ``delta.enableRowTracking``): stable
    row ids + row commit versions with Delta's exact two-tier layout
    (lazy ``baseRowId + row_index`` for fresh files — zero extra ingest
    jobs — materialized hidden columns through rewrites). The program
    ingests two batches, OPTIMIZE-compacts (``optimize_stable`` pins
    that every (key, row id, commit version) triple survives byte-equal
    — compaction must not look like modification), UPDATEs a slice
    (``update_tracked``: touched rows keep their id and advance to the
    UPDATE's version; untouched rows in the SAME rewritten files keep
    their old version), and MERGEs updates+inserts (``merge_tracked``:
    updated rows keep ids, inserts mint fresh ones, everything stays
    unique). Content equals the declarative final state."""
    from ..tables.logtable import LogTable as _LT

    target = _orders_subset(spark, sf_dir).filter(F.col("o_orderkey") % 10 < 5)
    t = _LT.create(
        spark,
        _scratch("rowtrack"),
        target.schema,
        properties={"delta.enableRowTracking": "true"},
    )
    t.append(target.filter(F.col("o_orderkey") % 2 == 1))
    t.append(target.filter(F.col("o_orderkey") % 2 == 0))

    def snap():
        return t.read(row_tracking=True).select(
            "o_orderkey", "_row_id", "_row_commit_version"
        )

    n = target.count()
    s0 = snap()
    ids_unique = (
        s0.select("_row_id").distinct().count() == n and s0.count() == n
    )
    t.optimize(target_file_bytes=1 << 30)
    s1 = snap()
    optimize_stable = s1.exceptAll(s0).count() == 0 and s1.count() == n

    t.update("o_orderkey % 20 = 1", {"o_totalprice": "o_totalprice + 100"})
    v_upd = t.version()
    s2 = snap()
    moved = (
        s2.alias("a")
        .join(s1.alias("b"), "o_orderkey")
        .filter(F.col("a._row_id") != F.col("b._row_id"))
        .count()
    )
    bumped = s2.filter(
        (F.col("o_orderkey") % 20 == 1)
        & (F.col("_row_commit_version") == v_upd)
    ).count()
    kept = s2.filter(
        (F.col("o_orderkey") % 20 != 1)
        & (F.col("_row_commit_version") == v_upd)
    ).count()
    expect_upd = target.filter(F.col("o_orderkey") % 20 == 1).count()
    update_tracked = moved == 0 and bumped == expect_upd and kept == 0

    src = target.filter(F.col("o_orderkey") % 30 == 2).select(
        (F.col("o_orderkey") + 6_000_000).alias("o_orderkey"),
        F.lit("NEWROW").alias("o_orderstatus"),
        F.lit(1.5).alias("o_totalprice"),
    ).unionByName(
        target.filter(F.col("o_orderkey") % 20 == 1).select(
            "o_orderkey",
            F.lit("TOUCHED").alias("o_orderstatus"),
            (F.col("o_totalprice") + 100).alias("o_totalprice"),
        )
    )
    t.upsert(src, ["o_orderkey"])
    v_merge = t.version()
    s3 = snap()
    n_new = target.filter(F.col("o_orderkey") % 30 == 2).count()
    merged_keep = (
        s3.alias("a")
        .join(s2.alias("b"), "o_orderkey")
        .filter(F.col("a._row_id") != F.col("b._row_id"))
        .count()
    )
    inserted_fresh = (
        s3.filter(F.col("o_orderkey") > 6_000_000)
        .join(s2, "_row_id", "left_semi")
        .count()
    )
    merge_tracked = (
        merged_keep == 0
        and inserted_fresh == 0
        and s3.select("_row_id").distinct().count() == n + n_new
        and s3.filter(
            (F.col("o_orderkey") % 20 == 1)
            & (F.col("o_orderkey") < 6_000_000)
            & (F.col("_row_commit_version") == v_merge)
        ).count()
        == expect_upd
    )
    return (
        t.read()
        .withColumn("ids_unique", F.lit(bool(ids_unique)))
        .withColumn("optimize_stable", F.lit(bool(optimize_stable)))
        .withColumn("update_tracked", F.lit(bool(update_tracked)))
        .withColumn("merge_tracked", F.lit(bool(merge_tracked)))
    )


@query(
    "q131_commit_annotations",
    oracle="""
    SELECT * FROM (VALUES
        (0, 'CREATE TABLE', NULL),
        (1, 'WRITE', 'backfill 2024-01'),
        (2, 'UPDATE', 'audit=JIRA-42'),
        (3, 'DELETE', 'audit=JIRA-42'),
        (4, 'MERGE', 'manual hotfix'),
        (5, 'DELETE', NULL)
    ) AS t(version, operation, user_metadata)
    """,
)
def q131_commit_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """userMetadata commit annotations (D33 — Delta's
    ``commitInfo.userMetadata``): a per-write annotation
    (``with_user_metadata``, the ``.option("userMetadata", ...)``
    analog) stamps exactly its own commit; the session conf
    ``spark.databricks.delta.commitInfo.userMetadata`` annotates every
    commit while set (versions 2–3); an explicit annotation wins over
    the conf (version 4); clearing the conf stops annotating (version
    5). The audit log — version, operation, annotation — is fully
    deterministic and oracle-checkable as literals."""
    target = _orders_subset(spark, sf_dir).filter(F.col("o_orderkey") % 9 == 1)
    t = LogTable.create(spark, _scratch("annot"), target.schema)
    t.with_user_metadata("backfill 2024-01").append(target)
    spark.conf.set(
        "spark.databricks.delta.commitInfo.userMetadata", "audit=JIRA-42"
    )
    try:
        t.update("o_orderkey % 2 = 0", {"o_totalprice": "o_totalprice * 2"})
        t.delete("o_orderkey % 5 = 0")
        t.with_user_metadata("manual hotfix").upsert(
            target.limit(0), ["o_orderkey"]
        )
    finally:
        spark.conf.unset("spark.databricks.delta.commitInfo.userMetadata")
    t.delete("o_orderkey % 7 = 0")
    return t.history().select(
        F.col("version").cast("int").alias("version"),
        "operation",
        F.col("userMetadata").alias("user_metadata"),
    )


@query(
    "q136_protocol_features",
    oracle="""
    SELECT * FROM (VALUES
        ('1_create',      1, 2, '',                               TRUE),
        ('2_cdf_on',      1, 7, 'changeDataFeed',                 TRUE),
        ('3_dv_delete',   3, 7, 'changeDataFeed,deletionVectors', TRUE),
        ('4_dv_dropped',  1, 7, 'changeDataFeed',                 TRUE),
        ('5_downgraded',  1, 2, '',                               TRUE)
    ) AS t(step, min_reader, min_writer, features, rows_ok)
    ORDER BY step
    """,
)
def q136_protocol_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol / table-features lifecycle (D34 — Delta's table-features
    model, the protocol layer every feature-gated API in the
    reference's ``src/delta_utils.py`` relies on): a fresh table starts
    on the legacy protocol (1, 2); enabling CDF stamps
    ``delta.feature.changeDataFeed`` into that same commit (writer
    feature → minWriter 7); the first deletion-vector DELETE upgrades
    the reader version (3, 7); ``ALTER TABLE DROP FEATURE`` after
    disabling + REORG-purging the DVs removes the feature; dropping the
    last feature restores the legacy protocol. ``rows_ok`` is an
    in-query verdict that every protocol state stays readable with
    exactly the expected rows (base count before the DV delete, the
    %6-filtered count after) — SF-independent, so the literal oracle
    holds at every fixture scale."""
    target = _orders_subset(spark, sf_dir).select("o_orderkey", "o_totalprice")
    n_base = target.count()
    n_after = target.filter(F.col("o_orderkey") % 6 != 1).count()
    t = LogTable.create(spark, _scratch("proto"), target.schema)
    t.append(target)

    steps: list[tuple[str, int, int, str, bool]] = []

    def snap(step: str, expect_rows: int) -> None:
        d = t.detail()
        steps.append(
            (
                step,
                d["minReaderVersion"],
                d["minWriterVersion"],
                ",".join(d["tableFeatures"]),
                t.read().count() == expect_rows,
            )
        )

    snap("1_create", n_base)
    t.set_properties({"enableChangeDataFeed": "true"})
    snap("2_cdf_on", n_base)
    t.set_properties({"enableDeletionVectors": "true"})
    t.delete("o_orderkey % 6 = 1")
    snap("3_dv_delete", n_after)
    t.set_properties({"enableDeletionVectors": "false"})
    t.optimize()  # REORG ... APPLY (PURGE): rewrites DV-carrying files
    t.drop_feature("deletionVectors")
    snap("4_dv_dropped", n_after)
    t.set_properties({"enableChangeDataFeed": "false"})
    t.drop_feature("changeDataFeed")
    snap("5_downgraded", n_after)

    return spark.createDataFrame(
        steps,
        "step string, min_reader int, min_writer int, features string, rows_ok boolean",
    ).orderBy("step")


@query(
    "q145_table_stream_source",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 4 <> 0
    """,
)
def q145_table_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log table as a STREAMING SOURCE (D36 — Delta's
    ``readStream.format("delta")``, the reference's change-propagation
    complement to its streaming sink): the DML target builds up over
    THREE append commits with an OPTIMIZE compaction in between, then
    streams — via the Spark 4 Python Data Source (version-granular
    offsets, one InputPartition per added file, pure-python log
    planning) — into a second log table. The OPTIMIZE rewrite must be
    skipped (Delta's dataChange=false), or the compacted rows would
    double; the result hash-matches SELECTing the source rows."""
    import os
    import tempfile

    from ..streaming import read_table_stream

    target = _orders_subset(spark, sf_dir)
    src_path = _scratch("streamsrc")
    t = LogTable.create(spark, src_path, target.schema)
    t.append(target.filter(F.col("o_orderkey") % 3 == 0))
    t.append(target.filter(F.col("o_orderkey") % 3 == 1))
    t.optimize()  # rewrite-only commit: the source must NOT re-emit
    t.append(target.filter(F.col("o_orderkey") % 3 == 2))

    out_path = _scratch("streamdst")
    LogTable.create(spark, out_path, target.schema)

    def sink(bdf, bid):
        LogTable(spark, out_path).append(bdf)

    q = (
        read_table_stream(spark, src_path)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.mkdtemp(prefix="tsrc-ck-"), "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LogTable(spark, out_path).read()


@query(
    "q146_stream_change_feed",
    oracle="""
    WITH t AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM t
    UNION ALL
    SELECT 'update_preimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM t WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM t WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 'delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM t WHERE o_orderkey % 5 = 0
    """,
)
def q146_stream_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Change Data Feed (D36 — Delta's
    ``readChangeFeed=true`` streaming source): a full DML program
    (append → UPDATE → DELETE) runs against a CDF-enabled table, then
    the row-level change feed streams — inserts, update pre/post
    images, deletes — through the Python Data Source and is aggregated
    per change type. Unlike q64's batch CDF scan, the stream's offsets
    are commit versions, so a checkpointed consumer resumes mid-feed
    (exercised in ``tests/test_table_source.py``)."""
    import os
    import tempfile

    from ..streaming import read_table_stream

    target = _orders_subset(spark, sf_dir)
    path = _scratch("streamcdf")
    t = LogTable.create(spark, path, target.schema)
    t.set_properties({"enableChangeDataFeed": "true"})
    t.append(target)
    t.update("o_orderkey % 2 = 0", {"o_totalprice": "o_totalprice * 2"})
    t.delete("o_orderkey % 5 = 0")

    changes = read_table_stream(spark, path, readChangeFeed=True)
    agg = []

    def sink(bdf, bid):
        agg.extend(
            bdf.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").alias("key_sum"),
            )
            .collect()
        )

    q = (
        changes.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.mkdtemp(prefix="cdf-ck-"), "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(r._change_type, r.n, r.key_sum) for r in agg],
        "change_type string, n long, key_sum long",
    )


@query(
    "q147_cdc_replication_pipeline",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0 THEN 'R' ELSE o_orderstatus END
                   AS o_orderstatus,
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT * FROM base WHERE o_orderkey % 5 <> 0
    """,
)
def q147_cdc_replication_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC REPLICATION through the streaming change feed —
    the canonical Delta pattern (stream ``table_changes`` → foreachBatch
    MERGE): a source table takes a full DML program (append → UPDATE
    doubling even keys → DELETE of %5 keys), its row-level change feed
    streams through the Python Data Source, and each micro-batch
    applies the LATEST change per key to a replica (upsert postimages/
    inserts, delete deletes; preimages and superseded intra-batch
    changes are dropped by a version-ordered keep-last window). The
    replica must hash-equal the source's final state — replication
    correctness, not just feed correctness (q146)."""
    import os
    import tempfile

    from pyspark.sql import Window

    from ..streaming import read_table_stream

    target = _orders_subset(spark, sf_dir)
    src_path = _scratch("cdcsrc")
    t = LogTable.create(spark, src_path, target.schema)
    t.set_properties({"enableChangeDataFeed": "true"})
    t.append(target)
    t.update(
        "o_orderkey % 2 = 0",
        {"o_orderstatus": "'R'", "o_totalprice": "o_totalprice * 2"},
    )
    t.delete("o_orderkey % 5 = 0")

    rep_path = _scratch("cdcrep")
    LogTable.create(spark, rep_path, target.schema)

    def apply_changes(bdf, bid):
        rep = LogTable(spark, rep_path)
        # keep-last per key: version-ordered, postimage/insert/delete
        # only (preimages carry no new state)
        w = Window.partitionBy("o_orderkey").orderBy(
            F.col("_commit_version").desc()
        )
        latest = (
            bdf.filter(F.col("_change_type") != "update_preimage")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # ONE clause-form MERGE applies the whole batch — no driver-side
        # key collection, delete/update/insert routed per change type
        (
            rep.merge(
                latest.select(
                    "o_orderkey",
                    "o_orderstatus",
                    "o_totalprice",
                    "_change_type",
                ),
                "target.o_orderkey = source.o_orderkey",
            )
            .when_matched_delete("source._change_type = 'delete'")
            .when_matched_update(
                {
                    "o_orderstatus": "source.o_orderstatus",
                    "o_totalprice": "source.o_totalprice",
                }
            )
            .when_not_matched_insert(
                {
                    "o_orderkey": "source.o_orderkey",
                    "o_orderstatus": "source.o_orderstatus",
                    "o_totalprice": "source.o_totalprice",
                },
                condition="source._change_type <> 'delete'",
            )
            .execute()
        )

    q = (
        read_table_stream(spark, src_path, readChangeFeed=True)
        .writeStream.foreachBatch(apply_changes)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.mkdtemp(prefix="cdcrep-ck-"), "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LogTable(spark, rep_path).read()


@query(
    "q161_right_to_be_forgotten",
    oracle="""
    SELECT * FROM (VALUES
        ('1_subject_rows_before', TRUE),
        ('2_current_state_clean', TRUE),
        ('3_physical_files_purged', TRUE),
        ('4_history_unreadable', TRUE),
        ('5_others_intact', TRUE)
    ) AS t(step, ok) ORDER BY step
    """,
)
def q161_right_to_be_forgotten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style erasure workflow (the compliance sequence Delta
    documents for right-to-be-forgotten: DELETE alone is NOT erasure —
    time travel still reads the subject's rows from the tombstoned
    files until VACUUM physically removes them): DELETE the subject's
    rows, VACUUM with zero retention, then verify (1) the subject had
    rows, (2) the current snapshot is clean, (3) the pre-delete data
    files are physically GONE from disk, (4) time travel to the
    pre-delete version now FAILS loudly instead of resurrecting the
    data, and (5) every other row survived untouched. All five
    verdicts are deterministic literals."""
    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("gdpr"), target.schema)
    t.append(target)
    pre_version = t.version()
    subject = "o_orderkey % 7 = 3"
    n_subject = t.read().filter(subject).count()
    n_total = t.read().count()

    t.delete(subject)
    # zero-retention vacuum: physically remove the tombstoned files
    removed = t.vacuum(retain_hours=0.0)

    import os

    files_gone = len(removed) > 0 and all(
        not os.path.exists(os.path.join(t.path, p)) for p in removed
    )
    clean = t.read().filter(subject).count() == 0
    others = t.read().count() == n_total - n_subject
    try:
        # the pre-delete snapshot must not silently resurrect the data
        t.read(version=pre_version).filter(subject).count()
        history_unreadable = False
    except Exception:
        history_unreadable = True

    rows = [
        ("1_subject_rows_before", n_subject > 0),
        ("2_current_state_clean", bool(clean)),
        ("3_physical_files_purged", bool(files_gone)),
        ("4_history_unreadable", bool(history_unreadable)),
        ("5_others_intact", bool(others)),
    ]
    return spark.createDataFrame(rows, "step string, ok boolean").orderBy(
        "step"
    )


@query(
    "q167_fsck_repair",
    oracle="""
    SELECT * FROM (VALUES
        ('1_read_fails_broken', TRUE),
        ('2_repair_found_dead_file', TRUE),
        ('3_read_works_after', TRUE),
        ('4_survivor_rows_exact', TRUE),
        ('5_history_records_fsck', TRUE),
        ('6_idempotent', TRUE)
    ) AS t(step, ok) ORDER BY step
    """,
)
def q167_fsck_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FSCK REPAIR TABLE [EXT]: recovery after an out-of-band data-file
    deletion (cloud lifecycle rule, manual rm). Program: build a
    4-file table, physically delete one parquet behind the log's back,
    prove reads now FAIL, run ``fsck_repair`` (metadata-only: stat
    probes over the active file list + ONE remove commit), prove reads
    work again and return exactly the surviving rows, the FSCK commit
    is in HISTORY, and a second repair is a no-op. Mirrors Delta's
    FSCK REPAIR TABLE semantics."""
    import os

    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("fsck"), target.schema)
    # four appends -> four files, each a deterministic quarter
    for i in range(4):
        t.append(target.filter(F.col("o_orderkey") % 4 == i))
    files = sorted(
        f.path for f in t.snapshot().files
    )
    victim = files[0]
    victim_rows = (
        spark.read.parquet(os.path.join(t.path, victim)).count()
    )
    n_total = t.read().count()
    os.remove(os.path.join(t.path, victim))

    try:
        t.read().count()
        read_fails = False
    except Exception:
        read_fails = True

    rep = t.fsck_repair()
    found = rep["numFilesRemoved"] == 1 and rep["removed"] == [victim]
    after = t.read().count()
    works = after == n_total - victim_rows
    hist = any(r["operation"] == "FSCK" for r in t.history().collect())
    rep2 = t.fsck_repair()
    idempotent = rep2["numFilesRemoved"] == 0

    rows = [
        ("1_read_fails_broken", bool(read_fails)),
        ("2_repair_found_dead_file", bool(found)),
        ("3_read_works_after", bool(works)),
        ("4_survivor_rows_exact", bool(works)),
        ("5_history_records_fsck", bool(hist)),
        ("6_idempotent", bool(idempotent)),
    ]
    return spark.createDataFrame(rows, "step string, ok boolean").orderBy(
        "step"
    )


@query(
    "q168_symlink_manifest",
    oracle="""
    SELECT * FROM (VALUES
        ('1_manifest_written', TRUE),
        ('2_lists_active_files_exactly', TRUE),
        ('3_plain_parquet_read_matches', TRUE),
        ('4_refresh_after_optimize', TRUE),
        ('5_partitioned_tree_shape', TRUE)
    ) AS t(step, ok) ORDER BY step
    """,
)
def q168_symlink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATE symlink_format_manifest [EXT] (Delta's GENERATE
    command — the external-engine handshake: Presto/Trino/Athena read
    the manifest as the file list instead of the log). Program: write
    a multi-file table, generate the manifest, verify it lists EXACTLY
    the active files; read those paths as plain parquet and match the
    table's row count; OPTIMIZE (actives change), re-generate, verify
    the manifest follows; on a PARTITIONED table the manifest tree
    mirrors the partition dirs so external partition pruning works."""
    import os

    target = _orders_subset(spark, sf_dir)
    t = LogTable.create(spark, _scratch("manifest"), target.schema)
    for i in range(4):
        t.append(target.filter(F.col("o_orderkey") % 4 == i))

    manifests = t.generate_manifest()
    written = len(manifests) == 1 and all(
        os.path.exists(m) for m in manifests
    )
    listed = sorted(
        p
        for m in manifests
        for p in open(m).read().splitlines()
    )
    active = sorted(f.abspath(t.path) for f in t.snapshot().files)
    exact = listed == active
    plain = spark.read.parquet(*listed).count() == t.read().count()

    t.optimize(target_file_bytes=1 << 30)  # compacts the small files
    manifests2 = t.generate_manifest()
    listed2 = sorted(
        p for m in manifests2 for p in open(m).read().splitlines()
    )
    active2 = sorted(f.abspath(t.path) for f in t.snapshot().files)
    refreshed = listed2 == active2 and listed2 != listed

    # partitioned shape: one manifest per partition dir
    p = LogTable.create(
        spark,
        _scratch("manifest-part") ,
        target.withColumn("bucket", (F.col("o_orderkey") % 3).cast("string")).schema,
        partition_by=["bucket"],
    )
    p.append(
        target.withColumn("bucket", (F.col("o_orderkey") % 3).cast("string"))
        .repartition("bucket")
    )
    pms = p.generate_manifest()
    tree = sorted(os.path.relpath(os.path.dirname(m), p.path) for m in pms)
    tree_ok = tree == [
        os.path.join("_symlink_format_manifest", f"bucket={i}")
        for i in range(3)
    ]

    rows = [
        ("1_manifest_written", bool(written)),
        ("2_lists_active_files_exactly", bool(exact)),
        ("3_plain_parquet_read_matches", bool(plain)),
        ("4_refresh_after_optimize", bool(refreshed)),
        ("5_partitioned_tree_shape", bool(tree_ok)),
    ]
    return spark.createDataFrame(rows, "step string, ok boolean").orderBy(
        "step"
    )


@query(
    "q172_informational_fk_audit",
    oracle="""
    SELECT 'before' AS phase, 'fk_orders_customer' AS constraint_name,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'after', 'fk_orders_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey
                                     AND c.c_custkey % 50 <> 0))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    """,
)
def q172_informational_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Informational PRIMARY KEY / FOREIGN KEY constraints [EXT]
    (Databricks' PK/FK model: declared for optimizers, audits, and
    lineage — NOT enforced at write time) + the catalog-level audit
    that makes them useful: ``ALTER TABLE … ADD CONSTRAINT … FOREIGN
    KEY … REFERENCES …`` records the relationship in table properties;
    ``Catalog.audit_foreign_keys`` then left-anti-scans every declared
    FK (hint-free — the parent key set can be fact-sized). Program:
    declare PK+FK, audit (clean), DELETE a slice of parents, audit
    again — the orphans the unenforced constraint now has are
    detected, not silently accumulated."""
    from ..tables import Catalog

    cat = Catalog(spark, _scratch("fkcat").rsplit("/", 1)[0])
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    pt = cat.create_table("lake.audit.customer", c.schema)
    pt.append(c)
    ct = cat.create_table("lake.audit.orders", o.schema)
    ct.append(o)
    cat.sql(
        "ALTER TABLE lake.audit.customer ADD CONSTRAINT pk_customer "
        "PRIMARY KEY (c_custkey)"
    )
    cat.sql(
        "ALTER TABLE lake.audit.orders ADD CONSTRAINT fk_orders_customer "
        "FOREIGN KEY (o_custkey) REFERENCES lake.audit.customer (c_custkey)"
    )
    before = cat.audit_foreign_keys().select(
        F.lit("before").alias("phase"), "constraint_name",
        "n_orphans", "n_rows",
    )
    b = before.collect()  # materialize before mutating the parent
    cat.sql("DELETE FROM lake.audit.customer WHERE c_custkey % 50 = 0")
    after = cat.audit_foreign_keys().select(
        F.lit("after").alias("phase"), "constraint_name",
        "n_orphans", "n_rows",
    )
    return spark.createDataFrame(b, before.schema).unionByName(after)


@query(
    "q174_avro_migration",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q174_avro_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source migration WITHOUT the spark-avro jar [EXT]
    (S4 gap closed: ``sources/avro_py.py`` implements the public Avro
    OCF spec from scratch — zigzag varints, header/metadata map, sync-
    marked blocks, null+deflate codecs, nullable unions, logical
    timestamps — and exposes it as a Spark 4 Python DataSource, one
    partition per file, executor-side decode). Program: the customer
    fixture is exported to three .avro files (one deflate-compressed),
    read back through ``read_files(format="avro")`` — which dispatches
    to the JVM connector when present and to this reader otherwise —
    and aggregated; the oracle aggregates the original parquet, so the
    avro hop is proven lossless."""
    import os

    from ..sources import avro_py
    from ..sources.files import read_files

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    schema = avro_py.spark_to_avro_schema(c.schema, name="customer")
    root = tempfile.mkdtemp(prefix="avro-mig-")
    src = os.path.join(root, "src")
    os.makedirs(src)
    rows = [r.asDict() for r in c.collect()]
    third = (len(rows) + 2) // 3
    for i in range(3):
        avro_py.write_avro(
            os.path.join(src, f"part-{i}.avro"),
            schema,
            rows[i * third:(i + 1) * third],
            codec="deflate" if i == 1 else "null",
        )
    back = read_files(spark, src, file_format="avro")
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_bal"),
    )


@query(
    "q176_informational_pk_audit",
    oracle="""
    SELECT 'before' AS phase, 'pk_orders' AS constraint_name,
           CAST(0 AS BIGINT) AS n_duplicate_keys,
           CAST(0 AS BIGINT) AS n_surplus_rows,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 <> 0)
                AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'after', 'pk_orders',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey % 4 <> 0 AND o_orderkey % 5 = 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey % 4 <> 0 AND o_orderkey % 5 = 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 <> 0)
                + (SELECT COUNT(*) FROM orders
                   WHERE o_orderkey % 4 <> 0 AND o_orderkey % 5 = 0)
                AS BIGINT)
    """,
)
def q176_informational_pk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Informational PRIMARY KEY audit [EXT] — the uniqueness screen
    an unenforced PK needs (``Catalog.audit_primary_keys``: ONE
    group-keyed duplicate count per declared PK, never a self-join).
    Program: declare the PK, audit (clean), append a duplicate slice
    (the lakehouse accepts it — PKs are informational), audit again —
    every duplicated key is counted with its surplus row count."""
    from ..tables import Catalog

    cat = Catalog(spark, _scratch("pkcat").rsplit("/", 1)[0])
    o = _orders_subset(spark, sf_dir)
    t = cat.create_table("lake.audit.orders", o.schema)
    t.append(o)
    cat.sql(
        "ALTER TABLE lake.audit.orders ADD CONSTRAINT pk_orders "
        "PRIMARY KEY (o_orderkey)"
    )
    before = cat.audit_primary_keys().select(
        F.lit("before").alias("phase"), "constraint_name",
        "n_duplicate_keys", "n_surplus_rows", "n_rows",
    )
    b = before.collect()
    # duplicate slice: every %5 key appears once more
    t.append(o.filter(F.col("o_orderkey") % 5 == 0))
    after = cat.audit_primary_keys().select(
        F.lit("after").alias("phase"), "constraint_name",
        "n_duplicate_keys", "n_surplus_rows", "n_rows",
    )
    return spark.createDataFrame(b, before.schema).unionByName(after)
