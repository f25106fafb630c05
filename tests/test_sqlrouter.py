"""Delta-dialect SQL surface over named tables (the spellings the
reference's notebooks/SQL users actually run — 04_acid_operations.py,
src/delta_utils.py) routed through Catalog.sql."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from databricks_delta_lake_migration_spark.tables import Catalog

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "cat"))
    t = c.create_table("lake.acid.orders", SCHEMA)
    t.append(
        spark.createDataFrame(
            [(1, "PENDING", 10.0), (2, "COMPLETED", 20.0), (3, "PENDING", 30.0)],
            SCHEMA,
        )
    )
    src = c.create_table("lake.acid.updates", SCHEMA)
    src.append(
        spark.createDataFrame([(2, "REFUNDED", 25.0), (9, "NEW", 90.0)], SCHEMA)
    )
    return c


def _state(cat):
    return {
        tuple(r)
        for r in cat.read("acid.orders").select("id", "status", "amount").collect()
    }


def test_update_delete_sql(spark, cat):
    r = cat.sql("UPDATE acid.orders SET status = 'EXPIRED' WHERE status = 'PENDING'")
    assert r.first()["numUpdatedRows"] == "2"
    assert {s for (_, s, _) in _state(cat)} == {"EXPIRED", "COMPLETED"}
    r = cat.sql("DELETE FROM acid.orders WHERE amount > 25")
    assert r.first()["numDeletedRows"] == "1"
    assert len(_state(cat)) == 2


def test_merge_sql_full_clause_chain(spark, cat):
    cat.sql(
        """
        MERGE INTO acid.orders AS target
        USING acid.updates AS source
        ON target.id = source.id
        WHEN MATCHED AND target.status = 'COMPLETED' THEN UPDATE SET *
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert _state(cat) == {
        (1, "PENDING", 10.0),
        (2, "REFUNDED", 25.0),
        (3, "PENDING", 30.0),
        (9, "NEW", 90.0),
    }


def test_merge_sql_explicit_insert_and_nmbs(spark, cat):
    cat.sql(
        """
        MERGE INTO acid.orders AS target
        USING acid.updates AS source
        ON target.id = source.id
        WHEN NOT MATCHED THEN INSERT (id, status, amount)
            VALUES (source.id, 'INSERTED', source.amount * 2)
        WHEN NOT MATCHED BY SOURCE AND target.amount < 15 THEN DELETE
        """
    )
    assert _state(cat) == {
        (2, "COMPLETED", 20.0),
        (3, "PENDING", 30.0),
        (9, "INSERTED", 180.0),
    }


def test_utility_statements(spark, cat):
    t = cat.table("acid.orders")
    for i in range(4):  # small files for optimize
        t.append(spark.createDataFrame([(10 + i, "X", 1.0)], SCHEMA))
    hist = cat.sql("DESCRIBE HISTORY acid.orders")
    assert hist.count() >= 5
    r = cat.sql("OPTIMIZE acid.orders")
    assert int(r.first()["numFilesAdded"]) >= 1
    r = cat.sql("VACUUM acid.orders RETAIN 0 HOURS DRY RUN")
    assert r.first()["dryRun"] == "True"
    n_before = cat.read("acid.orders").count()
    r = cat.sql("VACUUM acid.orders RETAIN 0 HOURS")
    assert int(r.first()["numFilesRemoved"]) >= 1
    assert cat.read("acid.orders").count() == n_before
    v = t.version()
    cat.sql("DELETE FROM acid.orders WHERE id >= 10")
    cat.sql(f"RESTORE TABLE acid.orders TO VERSION AS OF {v}")
    assert cat.read("acid.orders").count() == n_before
    # ZORDER spelling
    r = cat.sql("OPTIMIZE acid.orders ZORDER BY (id, status)")
    assert cat.read("acid.orders").count() == n_before


def test_show_partitions(spark, cat):
    cat.sql(
        "CREATE TABLE acid.pt (id BIGINT, day STRING) PARTITIONED BY (day)"
    )
    t = cat.table("acid.pt")
    t.append(
        spark.createDataFrame(
            [(1, "d1"), (2, "d2"), (3, None)], "id long, day string"
        ).repartition("day")
    )
    got = [r.day for r in cat.sql("SHOW PARTITIONS acid.pt").collect()]
    assert got == ["d1", "d2", None]
    with pytest.raises(ValueError, match="not a partitioned"):
        cat.sql("SHOW PARTITIONS acid.orders")


def test_table_changes_tvf_and_reorg(spark, cat):
    cat.sql(
        "CREATE TABLE acid.cdf (id BIGINT, v STRING) "
        "TBLPROPERTIES ('enableChangeDataFeed' = 'true', "
        "'enableDeletionVectors' = 'true')"
    )
    t = cat.table("acid.cdf")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    cat.sql("UPDATE acid.cdf SET v = 'B' WHERE id = 2")
    got = {
        (r.id, r.v, r._change_type)
        for r in cat.sql(
            "SELECT id, v, _change_type FROM table_changes('acid.cdf', 2)"
        ).collect()
    }
    assert got == {(2, "b", "update_preimage"), (2, "B", "update_postimage")}
    # windowed form + join with a current-snapshot reference
    n = cat.sql(
        "SELECT COUNT(*) AS n FROM table_changes('acid.cdf', 1, 1) c "
        "JOIN acid.cdf t ON c.id = t.id"
    ).first()["n"]
    assert n == 2
    # REORG purges deletion vectors
    cat.sql("DELETE FROM acid.cdf WHERE id = 1")
    assert t.detail()["numDeletionVectorFiles"] > 0
    cat.sql("REORG TABLE acid.cdf APPLY (PURGE)")
    assert t.detail()["numDeletionVectorFiles"] == 0
    assert {r.id for r in cat.read("acid.cdf").collect()} == {2}


def test_copy_into_sql(spark, cat, tmp_path):
    src = str(tmp_path / "land")
    spark.createDataFrame(
        [(50, "L", 5.0), (51, "L", 6.0)], SCHEMA
    ).coalesce(1).write.parquet(src)
    r = cat.sql(f"COPY INTO acid.orders FROM '{src}' FILEFORMAT = PARQUET")
    assert int(r.first()["numCopiedRows"]) == 2
    r = cat.sql(f"COPY INTO acid.orders FROM '{src}'")  # idempotent re-run
    assert int(r.first()["numLoadedFiles"]) == 0


def test_optimize_where_partition_scope(spark, cat):
    cat.sql(
        "CREATE TABLE acid.ev (id BIGINT, day STRING) PARTITIONED BY (day)"
    )
    t = cat.table("acid.ev")
    for i in range(3):  # d1 debris; d2 single file
        t.append(spark.createDataFrame([(i, "d1")], "id long, day string"))
    t.append(spark.createDataFrame([(9, "d2")], "id long, day string"))
    d2 = {f.path for f in t.snapshot().files if "day=d2" in f.path}
    r = cat.sql("OPTIMIZE acid.ev WHERE day = 'd1'")
    assert int(r.first()["numFilesRemoved"]) >= 2
    assert d2 <= {f.path for f in t.snapshot().files}  # d2 untouched
    r = cat.sql("OPTIMIZE acid.ev WHERE day = 'd1' ZORDER BY (id)")
    assert cat.read("acid.ev").count() == 4
    with pytest.raises(ValueError, match="partition-column"):
        cat.sql("OPTIMIZE acid.ev WHERE id = 1")


def test_select_still_flows_to_plain_sql(spark, cat):
    got = cat.sql(
        "SELECT COUNT(*) AS n FROM acid.orders WHERE status = 'PENDING'"
    ).first()
    assert got["n"] == 2


def test_ctas_and_insert_into(spark, cat):
    r = cat.sql(
        """
        CREATE TABLE lake.acid.fulfilled AS
        SELECT id, amount FROM acid.orders WHERE status = 'COMPLETED'
        """
    )
    assert r.first()["numOutputRows"] == "1"
    assert {tuple(x) for x in cat.read("acid.fulfilled").collect()} == {(2, 20.0)}
    r = cat.sql("INSERT INTO acid.fulfilled SELECT id, amount FROM acid.updates")
    assert r.first()["numInsertedRows"] == "2"
    assert cat.read("acid.fulfilled").count() == 3
    r = cat.sql("INSERT INTO acid.fulfilled VALUES (99, 1.5)")
    assert cat.read("acid.fulfilled").count() == 4


def test_insert_values_positional_alignment(spark, cat):
    """ADVICE r3 (high): VALUES rows arrive named col1..colN; the insert
    must align positionally, never silently null-fill by name."""
    cat.sql("INSERT INTO acid.orders VALUES (50, 'NEW', 5.5)")
    assert (50, "NEW", 5.5) in _state(cat)
    # SELECT with non-matching output names aligns positionally too
    cat.sql(
        "INSERT INTO acid.orders "
        "SELECT id + 100 AS a, 'COPIED' AS b, amount AS c "
        "FROM acid.updates WHERE id = 9"
    )
    assert (109, "COPIED", 90.0) in _state(cat)
    # no all-NULL rows anywhere
    assert all(i is not None and s is not None for (i, s, _) in _state(cat))


def test_insert_arity_mismatch_raises(spark, cat):
    with pytest.raises(ValueError, match="arity"):
        cat.sql("INSERT INTO acid.orders VALUES (51, 'X')")
    with pytest.raises(ValueError, match="arity"):
        cat.sql("INSERT INTO acid.orders SELECT id FROM acid.updates")
    assert len(_state(cat)) == 3  # nothing was written


def test_ctas_existing_table_semantics(spark, cat):
    """ADVICE r3 (medium): plain CTAS on a registered name errors;
    IF NOT EXISTS is a no-op — never a duplicate append."""
    with pytest.raises(ValueError, match="already exists"):
        cat.sql("CREATE TABLE acid.orders AS SELECT * FROM acid.updates")
    assert cat.read("acid.orders").count() == 3
    r = cat.sql(
        "CREATE TABLE IF NOT EXISTS acid.orders AS SELECT * FROM acid.updates"
    )
    assert r.first()["skipped"] == "True"
    assert cat.read("acid.orders").count() == 3


def test_describe_detail_analyze_show_props(spark, cat):
    """Reference spellings delta_utils.py:151,267 / data_processor.py:229:
    DESCRIBE DETAIL, ANALYZE TABLE, SHOW TBLPROPERTIES route to the
    LogTable API."""
    d = cat.sql("DESCRIBE DETAIL acid.orders").first()
    assert int(d["numRecords"]) == 3
    assert int(d["numFiles"]) >= 1
    r = cat.sql("ANALYZE TABLE acid.orders COMPUTE STATISTICS").first()
    assert int(r["numRows"]) == 3
    r2 = cat.sql(
        "ANALYZE TABLE acid.orders COMPUTE STATISTICS FOR COLUMNS id, amount"
    ).first()
    assert r2 is not None
    t = cat.table("acid.orders")
    t.set_properties({"delta.appendOnly": "false", "owner": "etl"})
    props = {
        r.key: r.value for r in cat.sql("SHOW TBLPROPERTIES acid.orders").collect()
    }
    assert props["owner"] == "etl"
    one = cat.sql("SHOW TBLPROPERTIES acid.orders ('owner')").first()
    assert (one.key, one.value) == ("owner", "etl")


def test_insert_with_column_list(spark, cat):
    """INSERT INTO t (cols...) VALUES/SELECT: positions map to the
    listed columns, unlisted target columns null-fill."""
    cat.sql("INSERT INTO acid.orders (id, amount) VALUES (70, 7.5)")
    assert (70, None, 7.5) in _state(cat)
    cat.sql(
        "INSERT INTO acid.orders (amount, id) "
        "SELECT amount, id + 200 FROM acid.updates WHERE id = 2"
    )
    assert (202, None, 25.0) in _state(cat)
    with pytest.raises(ValueError, match="not in target"):
        cat.sql("INSERT INTO acid.orders (id, nope) VALUES (71, 1.0)")
    with pytest.raises(ValueError, match="arity"):
        cat.sql("INSERT INTO acid.orders (id, amount) VALUES (71, 1.0, 'X')")


def test_alter_table_set_properties_and_add_columns(spark, cat):
    """Reference spellings delta_utils.py:163,382 /
    04_acid_operations.py:287-296: ALTER TABLE SET TBLPROPERTIES (both
    quoting styles) and ALTER TABLE ADD COLUMNS with COMMENTs."""
    cat.sql("ALTER TABLE acid.orders SET TBLPROPERTIES ('owner' = 'etl')")
    cat.sql(
        "ALTER TABLE acid.orders SET TBLPROPERTIES "
        "(delta.enableChangeDataFeed = true)"
    )
    props = cat.table("acid.orders").properties()
    assert props["owner"] == "etl"
    assert props["delta.enableChangeDataFeed"] == "true"
    r = cat.sql(
        """
        ALTER TABLE acid.orders
        ADD COLUMNS (
            experiment_id STRING COMMENT 'A/B test experiment ID',
            experiment_variant STRING
        )
        """
    ).first()
    assert "experiment_id" in r["columnsAdded"]
    fields = {f.name: f for f in cat.table("acid.orders").schema().fields}
    assert fields["experiment_id"].dataType.simpleString() == "string"
    assert fields["experiment_id"].metadata.get("comment") == "A/B test experiment ID"
    # existing rows surface NULL for the new columns
    assert cat.read("acid.orders").filter("experiment_id IS NULL").count() == 3


def test_clone_sql_shallow_deep_and_version(spark, cat):
    import os

    # bump the source so VERSION AS OF has something to pin
    cat.sql("INSERT INTO acid.orders VALUES (7, 'LATE', 70.0)")
    r = cat.sql("CREATE TABLE acid.orders_v0 SHALLOW CLONE acid.orders VERSION AS OF 1")
    assert r.first()["shallow"] == "True"
    # the v1 clone sees the pre-insert state
    assert cat.read("acid.orders_v0").count() == 3
    cat.sql("CREATE TABLE acid.orders_copy DEEP CLONE acid.orders")
    assert cat.read("acid.orders_copy").count() == 4
    # deep clone owns its files (all under the clone's directory)
    p = cat.table("acid.orders_copy").path
    assert all(
        f.startswith(os.path.realpath(p))
        for f in (
            os.path.realpath(e.abspath(p))
            for e in cat.table("acid.orders_copy").snapshot().files
        )
    )
    # existing name errors; IF NOT EXISTS no-ops
    with pytest.raises(ValueError):
        cat.sql("CREATE TABLE acid.orders_copy SHALLOW CLONE acid.orders")
    r = cat.sql(
        "CREATE TABLE IF NOT EXISTS acid.orders_copy SHALLOW CLONE acid.orders"
    )
    assert r.first()["skipped"] == "True"


def test_drop_show_truncate_sql(spark, cat):
    import os

    rows = {tuple(r) for r in cat.sql("SHOW TABLES").collect()}
    assert ("lake.acid", "orders") in rows and ("lake.acid", "updates") in rows

    # managed drop purges the directory
    p = cat.table("acid.updates").path
    r = cat.sql("DROP TABLE acid.updates")
    assert r.first()["purged"] == "True" and not os.path.exists(p)
    assert ("lake.acid", "updates") not in {
        tuple(r) for r in cat.sql("SHOW TABLES").collect()
    }
    with pytest.raises(KeyError):
        cat.sql("DROP TABLE acid.updates")
    assert cat.sql("DROP TABLE IF EXISTS acid.updates").first()["skipped"] == "True"

    # external drop keeps files
    ext_dir = os.path.join(os.path.dirname(cat.root), "external_tbl")
    cat.table("acid.orders").clone(ext_dir)
    cat.register("acid.ext", ext_dir)
    cat.sql("DROP TABLE acid.ext")
    assert os.path.exists(ext_dir)

    r = cat.sql("TRUNCATE TABLE acid.orders")
    assert r.first()["numDeletedRows"] == "3"
    assert cat.read("acid.orders").count() == 0
    # table survives empty (schema intact), unlike DROP
    assert cat.sql("SHOW TABLES IN lake.acid").count() == 1


def test_add_drop_constraint_sql(spark, cat):
    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConstraintViolationError,
    )

    r = cat.sql("ALTER TABLE acid.orders ADD CONSTRAINT positive CHECK (amount > 0)")
    assert r.first()["constraintAdded"] == "positive"
    t = cat.table("acid.orders")
    with pytest.raises(ConstraintViolationError, match="positive"):
        t.append(spark.createDataFrame([(7, "X", -5.0)], SCHEMA))

    # adding a constraint existing rows violate must fail
    with pytest.raises(ValueError, match="violate"):
        cat.sql("ALTER TABLE acid.orders ADD CONSTRAINT tiny CHECK (amount < 15)")
    assert "constraint.tiny" not in t.properties()

    r = cat.sql("ALTER TABLE acid.orders DROP CONSTRAINT positive")
    assert r.first()["constraintDropped"] == "positive"
    t.append(spark.createDataFrame([(7, "X", -5.0)], SCHEMA))  # now fine
    assert (7, "X", -5.0) in _state(cat)


def test_unset_tblproperties_sql(spark, cat):
    cat.sql("ALTER TABLE acid.orders SET TBLPROPERTIES ('a' = '1', 'b' = '2')")
    r = cat.sql("ALTER TABLE acid.orders UNSET TBLPROPERTIES ('a')")
    assert r.first()["propertiesUnset"] == '["a"]'
    props = cat.table("acid.orders").properties()
    assert "a" not in props and props["b"] == "2"


def test_create_table_column_defs_sql(spark, cat):
    r = cat.sql(
        """CREATE TABLE acid.items (
               item_id BIGINT,
               name STRING COMMENT 'display name',
               price DOUBLE
           ) PARTITIONED BY (name)
           TBLPROPERTIES ('enableChangeDataFeed' = 'true')"""
    )
    assert r.first()["created"] == "True"
    t = cat.table("acid.items")
    assert [f.name for f in t.schema().fields] == ["item_id", "name", "price"]
    assert t.partition_columns() == ["name"]
    assert t.properties()["enableChangeDataFeed"] == "true"
    cat.sql("INSERT INTO acid.items VALUES (1, 'a', 2.5)")
    assert t.read().count() == 1

    with pytest.raises(ValueError, match="already exists"):
        cat.sql("CREATE TABLE acid.items (x BIGINT)")
    r = cat.sql("CREATE TABLE IF NOT EXISTS acid.items (x BIGINT)")
    assert r.first()["skipped"] == "True"
    # CTAS still routes to its own handler, not the column-def one
    r = cat.sql("CREATE TABLE acid.items2 AS SELECT * FROM acid.items")
    assert r.first()["numOutputRows"] == "1"


def test_describe_show_columns_show_create(spark, cat):
    cat.sql(
        """CREATE TABLE acid.meta (
               id BIGINT COMMENT 'it''s the key',
               day STRING,
               amt DECIMAL(12,2)
           ) PARTITIONED BY (day)
           TBLPROPERTIES ('enableChangeDataFeed' = 'true', 'owner' = 'team''s data')"""
    )
    rows = cat.sql("DESCRIBE TABLE acid.meta").collect()
    assert [(r.col_name, r.data_type) for r in rows[:3]] == [
        ("id", "bigint"),
        ("day", "string"),
        ("amt", "decimal(12,2)"),
    ]
    assert rows[0].comment == "it's the key"
    # partition section: marker rows then the partition column repeated
    assert rows[3].col_name == "# Partition Information"
    assert rows[5].col_name == "day"

    ext = {r.col_name: r.data_type for r in cat.sql("DESC EXTENDED acid.meta").collect()}
    assert ext["Provider"] == "delta"
    assert ext["Name"] == "lake.acid.meta"
    assert "enableChangeDataFeed=true" in ext["Table Properties"]

    cols = [r.col_name for r in cat.sql("SHOW COLUMNS IN acid.meta").collect()]
    assert cols == ["id", "day", "amt"]

    # SHOW CREATE TABLE round-trips through this router: same schema,
    # comments, partitioning, and properties under a new name
    stmt = cat.sql("SHOW CREATE TABLE acid.meta").first()["createtab_stmt"]
    cat.sql(stmt.replace("lake.acid.meta", "lake.acid.meta_rt"))
    t, t2 = cat.table("acid.meta"), cat.table("acid.meta_rt")
    assert [(f.name, f.dataType) for f in t2.schema().fields] == [
        (f.name, f.dataType) for f in t.schema().fields
    ]
    assert t2.partition_columns() == t.partition_columns()
    assert t2.properties() == t.properties()
    assert (t2.schema()["id"].metadata or {}).get("comment") == "it's the key"

    # unregistered names fall through to Spark's native DESCRIBE
    spark.range(3).createOrReplaceTempView("plainview")
    assert cat.sql("DESCRIBE plainview").count() >= 1


def test_ctas_cluster_by(spark, cat):
    cat.sql(
        "CREATE TABLE acid.ctas_lc CLUSTER BY (id) AS "
        "SELECT id, amount FROM acid.orders"
    )
    t = cat.table("acid.ctas_lc")
    assert t.cluster_columns() == ["id"]
    assert t.read().count() == 3
    stmt = cat.sql("SHOW CREATE TABLE acid.ctas_lc").first()["createtab_stmt"]
    assert "CLUSTER BY (`id`)" in stmt


def test_cluster_by_unknown_column_rejected(spark, cat):
    with pytest.raises(ValueError, match="CLUSTER BY column"):
        cat.sql("CREATE TABLE acid.bad1 (id BIGINT) CLUSTER BY (nope)")
    with pytest.raises(ValueError, match="CLUSTER BY column"):
        cat.sql(
            "CREATE TABLE acid.bad2 CLUSTER BY (nope) AS "
            "SELECT id FROM acid.orders"
        )
    # neither half-created a table
    names = {r.tableName for r in cat.sql("SHOW TABLES IN acid").collect()}
    assert "bad1" not in names and "bad2" not in names


def test_vacuum_lite_and_optimize_full_sql(spark, cat):
    t = cat.table("acid.orders")
    t.overwrite(spark.createDataFrame([(1, "X", 1.0)], SCHEMA))
    r = cat.sql("VACUUM acid.orders RETAIN 0 HOURS LITE DRY RUN")
    assert int(r.first()["numFilesRemoved"]) >= 1
    assert r.first()["dryRun"] == "True"
    r = cat.sql("VACUUM acid.orders RETAIN 0 HOURS LITE")
    assert int(r.first()["numFilesRemoved"]) >= 1
    assert t.read().count() == 1
    # OPTIMIZE ... FULL parses (same rewrite as bare OPTIMIZE)
    r = cat.sql("OPTIMIZE acid.orders FULL")
    assert "numFilesAdded" in r.columns


def test_analyze_for_all_columns(spark, cat):
    r = cat.sql("ANALYZE TABLE acid.orders COMPUTE STATISTICS FOR ALL COLUMNS")
    assert r.count() == 1
    # stats persisted for every column
    import json as _json

    stats = _json.loads(cat.table("acid.orders").properties()["stats"])
    assert {"id", "status", "amount"} <= set(stats["columns"])
    # explicit list still narrows
    r = cat.sql("ANALYZE TABLE acid.orders COMPUTE STATISTICS FOR COLUMNS id")
    assert r.count() == 1


def test_not_null_and_column_comment(spark, cat):
    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConstraintViolationError,
    )

    cat.sql(
        "CREATE TABLE acid.nn (id BIGINT NOT NULL, v STRING COMMENT 'val')"
    )
    t = cat.table("acid.nn")
    assert t.schema()["id"].nullable is False
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(None, "b")], "id long, v string"))
    # DROP NOT NULL → nulls flow again; SET NOT NULL then refused (nulls)
    cat.sql("ALTER TABLE acid.nn ALTER COLUMN id DROP NOT NULL")
    t.append(spark.createDataFrame([(None, "b")], "id long, v string"))
    with pytest.raises(ValueError, match="existing NULL rows"):
        cat.sql("ALTER TABLE acid.nn ALTER COLUMN id SET NOT NULL")
    cat.sql("DELETE FROM acid.nn WHERE id IS NULL")
    r = cat.sql("ALTER TABLE acid.nn ALTER COLUMN id SET NOT NULL")
    assert r.first()["notNull"] == "True"
    # the contract follows a rename
    cat.sql("ALTER TABLE acid.nn RENAME COLUMN id TO id2")
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(None, "c")], "id2 long, v string"))
    # SHOW CREATE round-trips NOT NULL as a clause, not a raw property
    stmt = cat.sql("SHOW CREATE TABLE acid.nn").first()["createtab_stmt"]
    assert "`id2` bigint NOT NULL" in stmt and "notnull." not in stmt
    cat.sql(stmt.replace("lake.acid.nn", "lake.acid.nn_rt"))
    t2 = cat.table("acid.nn_rt")
    assert t2.schema()["id2"].nullable is False
    assert t2.properties() == t.properties()
    # column comments are ALTERable
    cat.sql("ALTER TABLE acid.nn ALTER COLUMN v COMMENT 'it''s new'")
    assert (cat.table("acid.nn").schema()["v"].metadata or {})["comment"] == "it's new"
    # adding a NOT NULL column to a non-empty table is refused
    with pytest.raises(ValueError, match="NOT NULL column"):
        cat.sql("ALTER TABLE acid.nn ADD COLUMNS (w STRING NOT NULL)")


def test_column_defaults(spark, cat):
    # CREATE with DEFAULT clauses (Delta column defaults,
    # delta.feature.allowColumnDefaults)
    cat.sql(
        "CREATE TABLE acid.dflt (id BIGINT, status STRING DEFAULT 'pending', "
        "qty INT DEFAULT 0, note STRING DEFAULT 'n/a' COMMENT 'memo')"
    )
    t = cat.table("acid.dflt")
    # INSERT with a column list: omitted columns take their DEFAULT
    cat.sql("INSERT INTO acid.dflt (id) VALUES (1)")
    cat.sql("INSERT INTO acid.dflt (id, status) VALUES (2, 'done')")
    rows = {tuple(r) for r in t.read().collect()}
    assert rows == {(1, "pending", 0, "n/a"), (2, "done", 0, "n/a")}
    # DataFrame append: missing columns take the DEFAULT too
    t.append(spark.createDataFrame([(3,)], "id long"))
    assert (3, "pending", 0, "n/a") in {tuple(r) for r in t.read().collect()}
    # explicit NULL stays NULL — DEFAULT is only for ABSENT columns
    t.append(spark.createDataFrame([(4, None)], "id long, status string"))
    assert (4, None, 0, "n/a") in {tuple(r) for r in t.read().collect()}
    # ALTER ... SET DEFAULT affects future writes only
    cat.sql("ALTER TABLE acid.dflt ALTER COLUMN qty SET DEFAULT 7")
    cat.sql("INSERT INTO acid.dflt (id) VALUES (5)")
    by_id = {r["id"]: r for r in t.read().collect()}
    assert by_id[5]["qty"] == 7 and by_id[1]["qty"] == 0
    # DROP DEFAULT → back to NULL fill
    cat.sql("ALTER TABLE acid.dflt ALTER COLUMN qty DROP DEFAULT")
    cat.sql("INSERT INTO acid.dflt (id) VALUES (6)")
    assert {r["id"]: r for r in t.read().collect()}[6]["qty"] is None
    # the default follows a RENAME, dies with DROP COLUMN
    cat.sql("ALTER TABLE acid.dflt RENAME COLUMN status TO state")
    cat.sql("INSERT INTO acid.dflt (id) VALUES (7)")
    assert {r["id"]: r for r in t.read().collect()}[7]["state"] == "pending"
    cat.sql("ALTER TABLE acid.dflt DROP COLUMN note")
    assert "default.note" not in t.properties()
    # SHOW CREATE emits DEFAULT as a column clause and round-trips
    stmt = cat.sql("SHOW CREATE TABLE acid.dflt").first()["createtab_stmt"]
    assert "`state` string DEFAULT 'pending'" in stmt
    assert "default." not in stmt
    cat.sql(stmt.replace("lake.acid.dflt", "lake.acid.dflt_rt"))
    assert cat.table("acid.dflt_rt").properties() == t.properties()
    # a DEFAULT referencing a column is rejected at declaration time
    with pytest.raises(ValueError, match="invalid DEFAULT"):
        cat.sql("ALTER TABLE acid.dflt ALTER COLUMN qty SET DEFAULT id + 1")
    # unknown column in a CREATE-supplied default property is rejected
    with pytest.raises(ValueError, match="not in schema"):
        cat.sql(
            "CREATE TABLE acid.dflt_bad (id BIGINT) "
            "TBLPROPERTIES ('default.ghost' = '1')"
        )
    # ADD COLUMNS with an inline DEFAULT is refused (add, then SET)
    with pytest.raises(ValueError, match="DEFAULT"):
        cat.sql("ALTER TABLE acid.dflt ADD COLUMNS (w STRING DEFAULT 'x')")


def test_insert_default_keyword(spark, cat):
    cat.sql(
        "CREATE TABLE acid.dk (id BIGINT, status STRING DEFAULT 'pending', "
        "qty INT)"
    )
    t = cat.table("acid.dk")
    # DEFAULT resolves the declared default; columns without one → NULL
    cat.sql("INSERT INTO acid.dk VALUES (1, DEFAULT, DEFAULT)")
    cat.sql("INSERT INTO acid.dk (id, status) VALUES (2, DEFAULT), (3, 'x')")
    # the word inside a string literal is NOT the keyword
    cat.sql("INSERT INTO acid.dk VALUES (4, 'DEFAULT rate', 9)")
    rows = {tuple(r) for r in t.read().collect()}
    assert rows == {
        (1, "pending", None),
        (2, "pending", None),
        (3, "x", None),
        (4, "DEFAULT rate", 9),
    }


def test_fsck_repair_sql(spark, cat):
    """FSCK REPAIR TABLE t [DRY RUN] routes to LogTable.fsck_repair."""
    import os

    t = cat.table("lake.acid.orders")
    victim = sorted(f.path for f in t.snapshot().files)[0]
    os.remove(os.path.join(t.path, victim))
    dry = cat.sql("FSCK REPAIR TABLE lake.acid.orders DRY RUN").collect()[0]
    assert (dry.numFilesRemoved, dry.dryRun) == ("1", "True")
    out = cat.sql("FSCK REPAIR TABLE lake.acid.orders").collect()[0]
    assert (out.numFilesRemoved, out.dryRun) == ("1", "False")
    t.read().count()  # readable again


def test_generate_manifest_sql(spark, cat):
    """GENERATE symlink_format_manifest FOR TABLE t writes manifests."""
    import os

    out = cat.sql(
        "GENERATE symlink_format_manifest FOR TABLE lake.acid.orders"
    ).collect()[0]
    assert int(out.numManifestsWritten) >= 1
    t = cat.table("lake.acid.orders")
    man = os.path.join(t.path, "_symlink_format_manifest", "manifest")
    listed = sorted(open(man).read().splitlines())
    assert listed == sorted(f.abspath(t.path) for f in t.snapshot().files)


def test_informational_pk_fk_constraints(spark, cat):
    """PK/FK are recorded (informational, not enforced), validated
    against both schemas at DDL time, and DROP CONSTRAINT removes any
    family."""
    out = cat.sql(
        "ALTER TABLE lake.acid.orders ADD CONSTRAINT pk_o PRIMARY KEY (id)"
    ).collect()[0]
    assert out.primaryKeyAdded == "pk_o"
    out = cat.sql(
        "ALTER TABLE lake.acid.updates ADD CONSTRAINT fk_u "
        "FOREIGN KEY (id) REFERENCES lake.acid.orders (id)"
    ).collect()[0]
    assert out.foreignKeyAdded == "fk_u"
    assert cat.table("lake.acid.orders").properties()["pk.pk_o"] == "id"
    assert (
        cat.table("lake.acid.updates").properties()["fk.fk_u"]
        == "id->lake.acid.orders(id)"
    )
    # not enforced: inserting an orphan succeeds, the audit sees it
    cat.table("lake.acid.updates").append(
        spark.createDataFrame([(999, "X", 1.0)], SCHEMA)
    )
    audit = {
        (r.child_table, r.constraint_name): r.n_orphans
        for r in cat.audit_foreign_keys().collect()
    }
    assert audit[("lake.acid.updates", "fk_u")] == 2  # id=9 and id=999

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in schema"):
        cat.sql(
            "ALTER TABLE lake.acid.orders ADD CONSTRAINT bad "
            "PRIMARY KEY (nope)"
        )
    with _pytest.raises(ValueError, match="not in"):
        cat.sql(
            "ALTER TABLE lake.acid.updates ADD CONSTRAINT bad "
            "FOREIGN KEY (id) REFERENCES lake.acid.orders (nope)"
        )
    cat.sql("ALTER TABLE lake.acid.updates DROP CONSTRAINT fk_u")
    assert "fk.fk_u" not in cat.table("lake.acid.updates").properties()
    assert len(cat.audit_foreign_keys().collect()) == 0


def test_fk_audit_null_keys_exempt_and_single_pass(spark, cat, monkeypatch):
    """ADVICE r6 (catalog.py:225): MATCH SIMPLE FK semantics — child
    rows with a NULL FK value are NOT orphans (they're reported in
    n_null_keys); VERDICT r6 next-step #3: the audit computes orphans
    + null keys + n_rows in ONE pass per constraint (no trailing
    DataFrame.count), caching the child scan across a table's
    constraints."""
    # patch the CONCRETE DataFrame class (pyspark 4 routes calls via
    # pyspark.sql.classic.dataframe.DataFrame, not the abstract base)
    DataFrame = type(cat.table("lake.acid.orders").read())

    cat.sql(
        "ALTER TABLE lake.acid.updates ADD CONSTRAINT fk_u "
        "FOREIGN KEY (id) REFERENCES lake.acid.orders (id)"
    )
    # a NULL-key row and a real orphan
    cat.table("lake.acid.updates").append(
        spark.createDataFrame([(None, "NULLKEY", 0.0), (999, "X", 1.0)], SCHEMA)
    )
    collects = {"n": 0}
    orig_collect = DataFrame.collect

    def counting_collect(self):
        collects["n"] += 1
        return orig_collect(self)

    def no_count(self):
        raise AssertionError("audit must not run a separate count() pass")

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "count", no_count)
    rows = orig_collect(cat.audit_foreign_keys())
    assert collects["n"] == 1  # exactly one fused agg for the 1 constraint
    monkeypatch.undo()
    r = {(x.child_table, x.constraint_name): x for x in rows}[
        ("lake.acid.updates", "fk_u")
    ]
    # orphans: id=9 (fixture) and id=999 — the NULL row is exempt
    assert (r.n_orphans, r.n_null_keys, r.n_rows) == (2, 1, 4)


def test_pk_audit_single_pass(spark, cat, monkeypatch):
    """VERDICT r6 next-step #3 (PK half): n_rows comes from the same
    grouped pass as the duplicate counts — no trailing full count."""
    DataFrame = type(cat.table("lake.acid.orders").read())

    cat.sql(
        "ALTER TABLE lake.acid.orders ADD CONSTRAINT pk_o PRIMARY KEY (id)"
    )
    cat.table("lake.acid.orders").append(
        spark.createDataFrame([(1, "DUP", 0.0), (1, "DUP", 0.0)], SCHEMA)
    )

    def no_count(self):
        raise AssertionError("audit must not run a separate count() pass")

    monkeypatch.setattr(DataFrame, "count", no_count)
    rows = cat.audit_primary_keys().collect()
    monkeypatch.undo()
    r = rows[0]
    assert (r.n_duplicate_keys, r.n_surplus_rows, r.n_rows) == (1, 2, 5)


def test_insert_overwrite_and_replace_where_sql(spark, cat):
    """INSERT OVERWRITE replaces the whole table; INSERT INTO ...
    REPLACE WHERE atomically refreshes only the matching slice."""
    out = cat.sql(
        "INSERT OVERWRITE lake.acid.orders "
        "VALUES (10, 'A', 1.0), (11, 'B', 2.0), (20, 'C', 3.0)"
    ).collect()[0]
    assert out.numInsertedRows == "3"
    assert _state(cat) == {(10, "A", 1.0), (11, "B", 2.0), (20, "C", 3.0)}

    out = cat.sql(
        "INSERT INTO lake.acid.orders REPLACE WHERE id < 20 "
        "VALUES (10, 'A2', 9.0), (12, 'D', 4.0)"
    ).collect()[0]
    assert out.numInsertedRows == "2"
    # rows with id < 20 replaced; id=20 untouched
    assert _state(cat) == {(10, "A2", 9.0), (12, "D", 4.0), (20, "C", 3.0)}

    import pytest as _pytest

    # replaceWhere validates its input: rows violating the predicate
    # must be rejected, not silently smuggled into the slice
    with _pytest.raises(Exception, match="replaceWhere"):
        cat.sql(
            "INSERT INTO lake.acid.orders REPLACE WHERE id < 20 "
            "VALUES (99, 'X', 0.0)"
        )
