"""Physical-plan discipline gates: the properties that make the
headline queries survive a 100 TB / 1000-executor run, asserted on the
actual Catalyst plan text so a regression (lost pushdown, broadcast
falling back to shuffle, partial agg disappearing) fails CI — not just
slows the bench.
"""

from __future__ import annotations

import contextlib
import io
import re

from databricks_delta_lake_migration_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"


def explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def count_shuffle_exchanges(tree: str) -> int:
    """Shuffle exchanges only: 'Exchange (' lines that are neither
    'BroadcastExchange (' nor 'ReusedExchange (' — a reused broadcast
    (ReusedExchange appears in this repo's knn plans) must not count
    as a shuffle, and a broadcast swap must not satisfy a shuffle
    gate (ADVICE r11 + r12 review)."""
    return len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange \(", tree))


def _q(spark, name):
    return all_queries()[name].fn(spark, SF_DIR)


def test_q06_filters_pushed_and_columns_pruned(spark):
    plan = explain(_q(spark, "q06_revenue_forecast"))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan
    # projection pruning: the 16-column lineitem scan reads only the 4
    # referenced columns — l_comment et al. must not reach the reader
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_comment" not in read_schema[0]
    assert "l_orderkey" not in read_schema[0]


def test_q05_dimensions_broadcast_not_shuffled(spark):
    plan = explain(_q(spark, "q05_nation_revenue"))
    # 4 dims broadcast; only fact<->orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_q01_map_side_partial_aggregation(spark):
    plan = explain(_q(spark, "q01_pricing_summary"))
    assert "partial_sum" in plan or "partial_count" in plan
    # JVM-side expressions only — no Python evaluation in the agg path
    # (WholeStageCodegen spans aren't rendered in the pre-execution
    # AQE plan, so absence-of-Python is the testable proxy)
    assert "BatchEvalPython" not in plan


def test_q02_topn_plans_as_take_ordered(spark):
    plan = explain(_q(spark, "q02_top_orders_by_revenue"))
    assert "TakeOrderedAndProject" in plan


def test_q40_cosine_topk_stays_jvm_side(spark):
    """The brute-force cosine top-k baseline must stay in codegen'd
    expressions (F.aggregate dot products), not row-at-a-time Python."""
    plan = explain(_q(spark, "q40_cosine_topk"))
    assert "BatchEvalPython" not in plan


def test_q36_minhash_lsh_single_shuffle_per_band(spark):
    """LSH pair generation is bucket-grouped, never a cartesian — and
    the salt-cap size window RIDES the bucket groupBy's exchange
    (Window.partitionBy(band, bkt) under groupBy(band, bkt, salt):
    hash partitioning on a key subset satisfies both), so the executed
    plan carries EXACTLY the pre-cap exchange count: one on the bucket,
    one for the final distinct. Pinned on the AQE final plan (VERDICT
    r10 #2) so a Spark upgrade that stops sharing the exchange — a 50%
    shuffle regression at corpus scale — fails here, not in the bench."""
    df = _q(spark, "q36_minhash_lsh_pairs")
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    df.collect()
    executed = explain(df)
    assert "isFinalPlan=true" in executed
    final_tree = executed.split("== Initial Plan ==")[0]
    n_exchanges = count_shuffle_exchanges(final_tree)
    assert n_exchanges == 2, final_tree
    # the window runs BETWEEN the two, i.e. on the shared exchange —
    # it must not have sprouted its own
    assert final_tree.count("Window (") == 1


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both sides of a recurring join key pre-co-locates the
    data so the join needs NO Exchange — at 100 TB the difference
    between a one-off shuffle per query and none. (SURVEY §4 'bucketing
    for co-located joins'.)"""
    import uuid

    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    to, tl = f"bo_{uuid.uuid4().hex[:8]}", f"bl_{uuid.uuid4().hex[:8]}"
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table(to)
            .join(spark.table(tl), F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderstatus")
            .count()
        )
        plan = explain(j)
        # the join itself is exchange-free: no shuffle on either join
        # key anywhere in the plan — the only Exchange is the final
        # small groupBy on o_orderstatus
        assert "SortMergeJoin" in plan
        assert "hashpartitioning(o_orderkey" not in plan
        assert "hashpartitioning(l_orderkey" not in plan
        assert "hashpartitioning(o_orderstatus" in plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {to}")
        spark.sql(f"DROP TABLE IF EXISTS {tl}")


def test_new_text_queries_stay_jvm_side(spark):
    """Chunk dedup (q49) and word entropy (q77) are pure array/agg
    expression pipelines — no Python eval, no cartesian expansion."""
    for name in ("q49_chunk_dedup", "q77_word_entropy", "q83_top_tokens"):
        plan = explain(_q(spark, name))
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q56_cube_single_expand_pass(spark):
    """CUBE plans as one Expand + one aggregate pass, not one job per
    granularity."""
    plan = explain(_q(spark, "q56_cube_revenue"))
    assert plan.count("Expand") >= 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_validate_all_single_action(spark, monkeypatch):
    """Q1+Q2+Q3 fused validators: the whole check battery is ONE Spark
    action (one scan), not one action per check — the 100 TB discipline
    the reference's per-check re-scans lack. (Job count is not the
    gate: AQE legitimately splits one query into several jobs.)"""
    # patch the concrete runtime class — pyspark.sql.DataFrame is only
    # the dispatch facade in PySpark 4
    from pyspark.sql.classic.dataframe import DataFrame

    from databricks_delta_lake_migration_spark.quality import validate_all

    df = spark.range(1000).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS v",
        "CAST(id % 7 AS DOUBLE) AS x",
    )
    actions = []
    real_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (actions.append(1), real_collect(self))[1]
    )
    out = validate_all(
        df,
        required=["v"],
        key_columns=["id"],
        ranges={"x": (0, 5)},
    )
    assert len(actions) == 1, "fused validators must run as one action"
    assert out["completeness"]["v"]["null_count"] == 100
    assert out["uniqueness"]["is_unique"] is True
    assert out["ranges"]["x"]["out_of_range"] == 1000 - sum(
        1 for i in range(1000) if i % 7 <= 5
    )


def test_identity_assignment_broadcasts_offsets_no_sort_merge(spark, tmp_path):
    """The identity allocator's offset join must broadcast the
    (metadata-sized) per-partition offset table — a sort-merge join
    here would shuffle the entire append batch just to number it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from databricks_delta_lake_migration_spark.tables import LogTable

    t = LogTable.create(
        spark,
        str(tmp_path / "ident-plan"),
        T.StructType(
            [T.StructField("uid", T.LongType()), T.StructField("v", T.LongType())]
        ),
        identity_columns={"uid": {}},
    )
    df, _ = t._apply_identity(
        t.snapshot(),
        spark.range(1000).select(F.col("id").alias("v")).repartition(4)
    )
    plan = explain(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_lsh_never_rehashes_index(spark, tmp_path):
    """The index probe's whole point: the corpus side must be a plain
    scan and the batch must be hashed ONCE. The batch band rows are
    localCheckpoint'd (r10 review: they feed up to four plan branches,
    so lineage re-evaluation would run the shingle+sha2 fold per
    branch), so the final plan carries ZERO sha2 calls — the fold ran
    exactly once in the materialization job — and the index side joins
    as a scan of checkpointed/parquet rows; no Python in the plan."""
    from databricks_delta_lake_migration_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"text {i} body") for i in range(30)], "doc_id long, text string"
    )
    dedup.minhash_band_buckets(docs.filter("doc_id < 20")).write.parquet(
        str(tmp_path / "idx")
    )
    idx = spark.read.parquet(str(tmp_path / "idx"))
    inc = dedup.incremental_lsh_pairs(docs.filter("doc_id >= 20"), idx)
    plan = inc._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("sha2") == 0, plan.count("sha2")
    # the checkpointed batch relation appears (LogicalRDD), proving the
    # fold was materialized rather than inlined per branch
    assert "LogicalRDD" in plan
    assert "BatchEvalPython" not in plan


def test_chunk_documents_shuffle_free(spark):
    """Chunking is a pure map stage: zero exchanges at any corpus size."""
    from databricks_delta_lake_migration_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    plan = textstats.chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_row_tracking_read_broadcasts_file_map(spark, tmp_path):
    """The row-tracking read materializes ids via ONE broadcast join
    against the driver-side file map — never a shuffled join, never
    Python evaluation. At 100 TB the map is the file listing the scan
    already holds; a sort-merge here would shuffle the whole table to
    join against metadata."""
    from pyspark.sql import functions as F, types as T

    from databricks_delta_lake_migration_spark.tables import LogTable

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = LogTable.create(
        spark,
        str(tmp_path / "rtplan"),
        schema,
        properties={"delta.enableRowTracking": "true"},
    )
    t.append(spark.range(1000).select(F.col("id"), F.rand(7).alias("v")))
    t.append(spark.range(1000, 2000).select(F.col("id"), F.rand(8).alias("v")))
    plan = explain(t.read(row_tracking=True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_intradoc_dedup_and_normalize_shuffle_free(spark):
    """Intra-doc repetition removal and unicode normalization are pure
    map stages (row-local Catalyst folds / regexp chains): zero
    exchanges, zero Python eval, at any corpus size."""
    from databricks_delta_lake_migration_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a. b. a. c"), (2, "x“y” z")],
        "doc_id long, text string",
    )
    for df in (
        textstats.dedup_intradoc_segments(docs),
        textstats.normalize_text(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan


def test_classifier_fold_shuffle_free_join_path_broadcasts(spark):
    """Classifier inference: the inline-model fold is a pure map stage;
    the big-D path broadcasts the bucket→weight relation (never a
    shuffled join of the corpus against the model) and keeps all
    scoring JVM-side."""
    from databricks_delta_lake_migration_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    w = [((i * 31) % 401) - 200 for i in range(32)]
    fold_plan = (
        textstats.hashed_classifier_scores(docs, w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in fold_plan
    assert "BatchEvalPython" not in fold_plan
    join_plan = (
        textstats.hashed_classifier_scores(docs, w, use_join=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in join_plan
    assert "SortMergeJoin" not in join_plan
    assert "BatchEvalPython" not in join_plan


def test_salted_join_shuffles_on_key_and_salt(spark):
    """Salted join: both sides exchange on (key, salt) — the hot key
    spreads across n_salts reducers — and the result is identical to
    the unsalted join."""
    from pyspark.sql import functions as F

    from databricks_delta_lake_migration_spark.functions.scalars import (
        salted_join,
    )

    fact = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 7, 1).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim = (
        fact.select("k").distinct()
        .withColumn("attr", F.col("k") * 2)
        .hint("merge")
    )
    j = salted_join(fact, dim, ["k"], n_salts=4, fact_salt_cols=["k", "v"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan and "Exchange" in plan
    assert "BroadcastHashJoin" not in plan
    got = sorted((r.k, r.v, r.attr) for r in j.collect())
    expect = sorted(
        (r.k, r.v, r.attr) for r in fact.join(dim.drop("__salt"), "k").collect()
    )
    assert got == expect


def test_fk_orphans_has_no_broadcast_hint(spark):
    """q163's referential-integrity audit must NOT force-broadcast the
    parent key set (it is fact-sized for lineitem->orders): no
    ResolvedHint in the analyzed plan — AQE alone decides the physical
    strategy."""
    from databricks_delta_lake_migration_spark.queries.relational import (
        fk_orphans,
    )

    child = spark.range(1000).selectExpr("id % 100 as k")
    parents = spark.range(50).selectExpr("id as k")
    j = fk_orphans(child, parents, "k")
    analyzed = j._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
    # semantics intact: orphans are exactly the keys >= 50
    assert j.count() == 500


def test_knn_graph_no_cartesian(spark):
    """The k-NN graph must generate candidates via the (table, bucket)
    equi join — never a cartesian/nested-loop all-pairs plan."""
    from databricks_delta_lake_migration_spark.operators.similarity import (
        knn_graph,
    )
    from databricks_delta_lake_migration_spark.queries.registry import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    g = knn_graph(emb, k=3)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r11: the bucket relation is built from ONE corpus scan (explode
    # over per-table folds) and checkpointed before the self-join —
    # the executed plan carries the two re-rank scans (norms for src
    # and dst sides), NOT 4×n_tables+ scans (36 were measured before
    # the fix), and exactly one Window (top-k; the bucket-size window
    # is inside the materialized relation)
    g.collect()
    final = explain(g).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 4, final
    assert final.count("Window (") == 1, final


def test_q181_rollup_single_expand_single_shuffle(spark):
    """ROLLUP computes every grouping set from ONE scan via Expand —
    never one aggregate job per subtotal level."""
    plan = explain(_q(spark, "q181_rollup_subtotals"))
    assert plan.count("Expand") >= 1
    # "formatted" repeats node names in the detail section; Location
    # lines appear once per actual scan
    assert plan.count("Location:") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_q182_pivot_no_values_discovery_job(spark):
    """The explicit pivot value list keeps the pivot lazy: building the
    DataFrame must trigger ZERO Spark jobs (an implicit pivot runs a
    distinct-values collect first)."""
    from pyspark.sql import functions as F

    from databricks_delta_lake_migration_spark.queries.registry import (
        dsum,
        load_table,
    )

    o = load_table(spark, SF_DIR, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    pivoted = (
        o.groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(dsum("o_totalprice", "rev"))
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "pivot with explicit values ran a discovery job"
    assert "partial_sum" in explain(pivoted)
    assert "partial_sum" in explain(_q(spark, "q182_pivot_status_matrix"))


def test_q183_unpivot_single_scan(spark):
    """UNPIVOT doubles rows via Expand over ONE scan — the UNION ALL
    formulation (the oracle) would scan the table twice."""
    plan = explain(_q(spark, "q183_unpivot_metrics"))
    assert plan.count("Location:") == 1
    assert "Expand" in plan


def test_q184_set_ops_plan_as_existence_joins(spark):
    """INTERSECT/EXCEPT become semi/anti joins, not
    distinct-then-inner-join detours."""
    plan = explain(_q(spark, "q184_set_operations"))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q199_bucketed_join_no_exchange(spark):
    """Bucketed co-located join: with broadcast disabled (forcing the
    join strategy the bucketing exists for), the sort-merge join reads
    both bucketed tables WITHOUT any Exchange — the on-disk layout IS
    the shuffle."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = _q(spark, "q199_bucketed_join")
        plan = explain(df)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
        # the only exchange allowed is the post-join aggregate's
        # 5-group shuffle on c_mktsegment ("formatted" puts node names
        # and Arguments on separate lines — gate on the detail lines)
        hash_parts = [
            l for l in plan.splitlines()
            if "Arguments: hashpartitioning" in l
        ]
        assert len(hash_parts) == 1, f"extra exchanges: {hash_parts}"
        assert "c_mktsegment" in hash_parts[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q199_reentry_leaves_no_stale_state(spark):
    """ADVICE r7 hygiene: running q199 twice in one session leaves
    exactly ONE live pair of (unique-named) catalog tables and one
    temp dir — re-entry drops the previous run's state."""
    import glob
    import tempfile

    from databricks_delta_lake_migration_spark.queries import relational

    def live_tables():
        return [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("q199_")
        ]

    def live_dirs():
        return set(glob.glob(f"{tempfile.gettempdir()}/bucketed-join-*"))

    d0 = live_dirs()  # stale dirs from OTHER processes aren't ours
    _q(spark, "q199_bucketed_join").collect()
    t1, d1 = live_tables(), live_dirs()
    _q(spark, "q199_bucketed_join").collect()
    t2, d2 = live_tables(), live_dirs()
    assert len(t1) == 2 and len(t2) == 2
    assert not (set(t1) & set(t2))  # per-run unique; previous dropped
    assert len(d1 - d0) == 1 and len(d2 - d0) == 1
    assert not ((d1 - d0) & (d2 - d0))  # run-1's dir was reclaimed
    # simulate session end for the last run: the atexit hook reclaims
    # the dir; drop the tables too so the suite leaves a clean catalog
    relational._q199_cleanup(spark)
    assert live_tables() == []
    assert not live_dirs() & (d2 - d0)


def test_q206_semi_join_plans_left_semi(spark):
    """EXISTS is an existence join: LeftSemi with the quantity filter
    pushed to the probe-side scan, never inner-join + distinct."""
    plan = explain(_q(spark, "q206_semi_join_exists"))
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan


def test_q205_attribution_single_user_exchange_no_python(spark):
    """Both bookend windows stack on ONE user-keyed exchange; the
    channel rollups shuffle only conversion-sized relations; no Python
    in the plan."""
    plan = explain(_q(spark, "q205_touch_attribution"))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    user_exchanges = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(user_id" in l
    ]
    assert len(user_exchanges) == 1, user_exchanges


def test_q213_debounce_python_is_grouped_map_only(spark):
    """The recurrence runs as ONE Arrow grouped-map node — no
    row-at-a-time Python, no extra exchanges beyond the (user, type)
    grouping and the final rollup."""
    plan = explain(_q(spark, "q213_debounce_exact"))
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_q201_exact_substring_stays_jvm_side(spark):
    """Gram generation is row-local zip_with arrays — no Python, no
    cartesian; the gram relation reaches its frequency aggregate with
    map-side partial aggregation. r13: dup count AND span coverage come
    from ONE id-keyed aggregate (row-local coverage fold) — the old
    k×-explode+distinct coverage branch must not reappear, so the plan
    joins the per-doc signals back exactly once."""
    plan = explain(_q(spark, "q201_exact_substring_profile"))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_" in plan
    tree = plan.split("\n\n")[0]
    # ONE visible join: words ⟕ per_doc (the gram-keyed candidate join
    # lives behind the dup_pos checkpoint); the old shape joined words
    # against dup_counts AND the exploded-coverage branch = 2
    n_joins = sum(1 for l in tree.splitlines() if "Join" in l)
    assert n_joins <= 1, tree


def test_q202_table_diff_nullsafe_join_stays_hash_partitioned(spark):
    """VERDICT r8 #3 follow-through: the null-safe key join (`<=>`)
    must still compile to ONE hash-partitioned SortMergeJoin
    (Catalyst rewrites <=> keys as coalesce+isnull equi-keys) — never
    a BroadcastNestedLoopJoin/CartesianProduct, which is what a
    non-equi null-safe condition would degenerate to."""
    plan = explain(_q(spark, "q202_table_diff"))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(coalesce(") >= 2  # both sides


def test_q169_cms_single_token_shuffle(spark):
    """r12: the CMS sketch derives from the exact per-token counts
    (sum over disjoint token groups per cell == direct occurrence
    count), so ONE materialized vocabulary relation feeds both the
    top-k and the sketch — the final plan must carry no parquet scan
    (both branches read the checkpointed counts) and exactly one
    shuffle exchange (the vocab-sized cell re-aggregate; the sketch
    side then broadcasts)."""
    df = _q(spark, "q169_cms_heavy_hitters")
    plan = explain(df)
    assert "Scan parquet" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert count_shuffle_exchanges(tree) == 1, tree


def test_q209_gopher_mode_is_aggregate_not_window(spark):
    """r12: the per-(doc, order) most-frequent-gram pick is a min_by
    aggregate (ord = struct(-cnt, gram), unique per row, so ties break
    identically to the former cnt DESC / gram ASC mode window). The
    plan must carry NO Window node and exactly two shuffle exchanges
    (gram counts + per-doc pick) — the window variant had three plus a
    full sort of the gram relation."""
    df = _q(spark, "q209_gopher_repetition")
    plan = explain(df)
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree, tree
    assert count_shuffle_exchanges(tree) == 2, tree


def test_q188_bm25_single_corpus_tokenize(spark):
    """r12: doc lengths and per-query-term tfs come from ONE per-doc
    aggregate over one tokenize pass (checkpointed), the (doc, term,
    tf) relation is a row-local unpivot carrying dl — so the final
    plan reads no parquet (both branches consume the materialized
    per-doc relation) and carries at most 3 shuffle exchanges
    (per-doc agg is inside the checkpoint; docfreq + corpus + final
    rollup remain)."""
    plan = explain(_q(spark, "q188_bm25_search"))
    assert "Scan parquet" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert count_shuffle_exchanges(tree) <= 3, tree


def test_q22_cohort_single_scan_no_join(spark):
    """r13: the cohort (min month) and the distinct active-month set
    come from ONE per-customer aggregate over ONE orders scan, then a
    row-local explode — the r12 cohort⨝activity self-join re-scanned
    orders. The plan must read orders exactly once, carry no join, and
    at most 2 shuffle exchanges (per-customer agg + final rollup)."""
    plan = explain(_q(spark, "q22_cohort_retention"))
    assert plan.count("Scan parquet ") <= 2, plan  # tree + details = 1 scan
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree
    assert count_shuffle_exchanges(tree) <= 2, tree


def test_q44_partial_topk_below_exchange_and_norms_hoisted(spark):
    """r13 scale shape: (a) Spark's WindowGroupLimit pushes a PARTIAL
    top-k below the per-query exchange, so each scan task ships only
    its local top-k — the |queries|-partition window ceiling applies
    to k·|Q|·n_tasks rows, not the corpus; (b) the corpus-vector norm
    is projected BELOW the cross join (once per corpus row, not once
    per row×query pair) and the query norm on the broadcast side."""
    df = _q(spark, "q44_batch_topk")
    plan = explain(df)
    tree = plan.split("\n\n")[0]
    lines = [l for l in tree.splitlines() if l.strip()]
    wgl = [i for i, l in enumerate(lines) if "WindowGroupLimit" in l]
    exchange = next(
        (i for i, l in enumerate(lines)
         if re.search(r"(?<!Broadcast)Exchange \(", l)), None
    )
    # top-down tree: Final WGL above the exchange, Partial WGL below it
    assert len(wgl) == 2 and exchange is not None, tree
    assert wgl[0] < exchange < wgl[1], tree
    assert ", Partial" in plan and ", Final" in plan
    # norms are attributes at the cosine projection, not re-folded per
    # pair (the shared gate also pins that the folds still EXIST below
    # the join via "SQRT" in plan)
    assert "__cnorm" in plan and "__qnorm" in plan
    _assert_cosine_projection_norm_free(plan)


def _assert_cosine_projection_norm_free(plan: str):
    """Shared r13 gate: the cosine round(...) projection must divide by
    precomputed norm ATTRIBUTES — a SQRT re-appearing there means the
    norm fold regressed to per-pair evaluation."""
    details = plan.split("\n\n", 1)[-1]
    cosine_projs = [
        p for p in details.split("\n\n") if "cosine" in p and "round(" in p
    ]
    assert cosine_projs, plan
    assert all("SQRT" not in p for p in cosine_projs), (
        "cosine projection re-computes norms per pair"
    )
    assert "SQRT" in plan  # the folds exist — below the join, per side


def test_q40_cosine_norms_hoisted_below_join(spark):
    _assert_cosine_projection_norm_free(explain(_q(spark, "q40_cosine_topk")))


def test_q192_hard_negative_norms_hoisted_below_join(spark):
    _assert_cosine_projection_norm_free(
        explain(_q(spark, "q192_hard_negatives"))
    )
