"""Physical-plan assertions: the scale properties the engine relies on
must be visible in `.explain` — broadcast joins stay broadcast, semi joins
don't carry payload, top-k never globally sorts, bucketed joins don't
shuffle, and DSL filters reach the parquet scan (SURVEY §4.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spreadsheet_etl_engine_spark import registry


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan(registry.get("join_dims_broadcast").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_plan(spark, sf_dir):
    plan = _plan(registry.get("join_semi").fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(registry.get("sort_topk").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # No global Sort node — per-partition heaps + driver merge of k rows.
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")


def test_dsl_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(registry.get("dsl_flagship").fn(spark, sf_dir))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_quantity" in pushed or "l_returnflag" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_shipdate" not in read_schema  # unused column pruned


def test_minhash_signature_has_no_shuffle(spark, sf_dir):
    # Per-row signature computation must not introduce an aggregation
    # shuffle (only the optional repartition for local parallelism).
    from spreadsheet_etl_engine_spark.operators import dedup as DD
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(DD.minhash_signature(docs, "text", "doc_id"))
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key pre-partitions data so the
    join runs with zero Exchange — the co-located join strategy for
    repeated fact-fact joins at scale."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .option("path", str(tmp_path / "b_orders")).saveAsTable("b_orders"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .option("path", str(tmp_path / "b_lineitem")).saveAsTable("b_lineitem"))
    # Disable auto-broadcast so the small test tables take the same
    # sort-merge path a 100 TB fact-fact join would.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
        ).groupBy("o_orderpriority").count()
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    # The join inputs come straight from the bucketed scans: no Exchange
    # between scan and join (the only exchange is for the final groupBy).
    below_join = plan[plan.index("SortMergeJoin"):]
    assert "Exchange hashpartitioning(o_orderkey" not in below_join
    assert "Exchange hashpartitioning(l_orderkey" not in below_join
    assert "Bucketed: true" in plan


def test_registered_bucketed_join_has_zero_exchange(spark, sf_dir):
    """The driver-facing join_fact_fact_bucketed must run entirely
    shuffle-free: bucketed scans feed the sort-merge join directly, and
    the per-order aggregation's grouping keys contain the bucket key, so
    its distribution is already satisfied too."""
    plan = _plan(registry.get("join_fact_fact_bucketed").fn(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan


def test_bucketed_copies_are_scoped_to_the_application(spark, sf_dir, monkeypatch):
    """Two applications that build the bucketed copies of one sf directory
    at once must not write the same files, so their path names the
    application that owns the catalog entry."""
    from pyspark.sql.catalog import Catalog

    from spreadsheet_etl_engine_spark.sources import writers

    paths = []
    monkeypatch.setattr(Catalog, "tableExists", lambda self, name, *a: False)
    monkeypatch.setattr(writers, "write_bucketed",
                        lambda df, table, path, **kw: paths.append(path))
    registry._bucketed_fact_tables(spark, sf_dir)
    app = spark.sparkContext.applicationId
    assert len(paths) == 2 and all(app in p for p in paths), paths


def test_curation_query_plans(spark, sf_dir):
    """Scale-shape pins for the r4 curation queries: column pruning on the
    documents scan, broadcast of the benchmark gram set, and bucketed
    (never global) window partitioning for sequence packing."""
    plan = _plan(registry.get("text_repetition").fn(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema

    plan = _plan(registry.get("text_contamination").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # benchmark grams broadcast
    assert "SortMergeJoin" not in plan  # corpus side never shuffles to join

    plan = _plan(registry.get("train_pack_sequences").fn(spark, sf_dir))
    assert "hashpartitioning(bucket" in plan  # per-bucket window...
    assert "SinglePartition" not in plan      # ...never one global funnel


def test_ngram_jaccard_skew_guard_plans(spark, sf_dir):
    """Guard plan shapes, per path.  Plain inverted-index path: the
    keep-set must BROADCAST back to the shingle stream (a shuffle join
    against the full index would defeat the guard).  Prefix path: the
    guard folds into the ranking join, and the one-row corpus-count
    scalar must be a broadcast nested-loop join.  And the registered
    driver query must actually enable the guard."""
    from spreadsheet_etl_engine_spark.operators import dedup as DD
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    plain = _plan(DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.8, max_df_frac=0.1,
        prefix_filter=False))
    # Keep-set semi-filter + one-row scalar: both broadcast.
    assert plain.count("BroadcastHashJoin") + plain.count(
        "BroadcastNestedLoopJoin") >= 2

    prefix = _plan(DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.8, max_df_frac=0.1,
        prefix_filter=True))
    assert "BroadcastNestedLoopJoin" in prefix  # the corpus-count scalar

    # The registered driver query runs with the guard on.
    import inspect

    from spreadsheet_etl_engine_spark import ext_queries  # noqa: F401
    src = inspect.getsource(registry.get("dedup_ngram_jaccard_pairs").fn)
    assert "max_df_frac" in src


def test_broadcast_hint_survives_aqe(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(joined)


def test_whole_stage_codegen_on_dsl_pipeline(spark, sf_dir):
    # The `*(n)` prefix marks operators inside a WholeStageCodegen span.
    plan = _plan(registry.get("dsl_flagship").fn(spark, sf_dir))
    assert plan.startswith("*(1)") or "*(1)" in plan


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """Hive-style partitioned output prunes at read time: the standard
    layout for time/category-partitioned 100 TB datasets."""
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    path = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "login")
    plan = _plan(back)
    assert "PartitionFilters" in plan
    part_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in part_filters


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """write_parquet(partition_by=...) + an equality filter on the
    partition column must prune at the scan: the filter shows up in
    PartitionFilters and non-matching partition directories are never
    read — the layout that turns a 100 TB scan into a per-day/per-type
    slice."""
    from spreadsheet_etl_engine_spark.sources.writers import write_parquet

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = str(tmp_path / "ev_part")
    write_parquet(ev.withColumn("etype", F.col("event_type")), out,
                  partition_by=["etype"])
    scan = spark.read.parquet(out).filter(F.col("etype") == "click")
    plan = _plan(scan)
    assert "PartitionFilters" in plan and "etype" in plan.split("PartitionFilters")[1].split("]")[0]
    got = scan.count()
    exp = ev.filter(F.col("event_type") == "click").count()
    assert got == exp > 0


def test_key_skew_profiler_plan(spark, sf_dir):
    """The skew diagnostic must itself be skew-proof: the scan reads only
    the key column, top-20 runs as TakeOrderedAndProject (per-partition
    heaps, no global sort), and the one-row totals attach by broadcast."""
    plan = _plan(registry.get("profile_key_skew").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")
    assert "BroadcastNestedLoopJoin" in plan  # tiny totals side, not a shuffle
    for schema in plan.split("ReadSchema: ")[1:]:
        assert schema.splitlines()[0].strip() == "struct<user_id:bigint>"


def test_transitions_single_event_sized_shuffle(spark, sf_dir):
    """The transition matrix moves full event rows across the wire exactly
    once (the per-user sequence window); everything after the map-side
    partial agg is |event_types|^2-sized.  The scan must also prune the
    unused value/props columns."""
    plan = _plan(registry.get("events_transitions").fn(spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    event_sized = [l for l in exchanges if "user_id" in l]
    assert len(event_sized) == 1, exchanges
    assert "partial_count" in plan  # map-side combine before the agg shuffle
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "value" not in read_schema and "props" not in read_schema


def test_v2_and_predicate_pushdown(spark, sf_dir):
    """The v2 &&/|| expression must compile to ONE Catalyst predicate that
    reaches the parquet scan as a composite pushed filter — the grammar
    addition cannot cost a post-scan Filter-only plan."""
    plan = _plan(registry.get("dsl_v2_and_filter").fn(spark, sf_dir))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "Or(And(" in pushed or "And(" in pushed, pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema  # unused column pruned


def test_quality_rank_approx_threshold_is_broadcast(spark, sf_dir):
    """The approx-quantile path's per-language threshold table must join
    back by broadcast (it is |languages| rows) — a SortMergeJoin here
    would shuffle the whole corpus and defeat the point of the scale
    variant."""
    plan = _plan(registry.get("text_quality_rank_approx").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_write_plans_one_range_exchange(spark):
    """The clustering shuffle is the ONE Exchange in a z-order write —
    the key computes scan-side (codegen'd width_bucket + bit math), and
    the min/max aggregation for default ranges is its own tiny job, not
    part of the write plan."""
    from spreadsheet_etl_engine_spark.sources.writers import zorder_key

    df = spark.range(10_000).selectExpr(
        "id", "cast(id % 97 as double) AS x", "cast(id % 89 as double) AS y")
    key = zorder_key(df, ["x", "y"], ranges={"x": (0, 97), "y": (0, 89)})
    clustered = (df.withColumn("_zkey", key)
                 .repartitionByRange(8, "_zkey")
                 .sortWithinPartitions("_zkey").drop("_zkey"))
    plan = clustered._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" in plan.lower()


def test_paragraph_dedup_keep_first_is_map_side_combinable(spark, sf_dir):
    """paragraph_dedup's keep-first decision must be an algebraic
    aggregate (partial min(struct) collapses hot boilerplate chunks
    map-side, BEFORE any shuffle) and never a window over
    partitionBy(chunk hash) — the r6 shape funnelled exactly the
    high-frequency chunks the operator targets into one partition's
    row_number sort, which AQE cannot split.  The two-scan/small-shuffle
    trade: no exchange in this plan carries the exploded chunk table."""
    plan = _plan(registry.get("dedup_paragraphs").fn(spark, sf_dir))
    # Skew-fragile shape is gone: no window at all in this operator.
    assert "Window" not in plan, plan
    # The winner decision partial-aggregates before its exchange.
    assert "partial_min" in plan, plan
    # Corpus read twice (chunk branch + per-row totals branch) — the
    # price of shuffling only winner/aggregate-sized data.
    assert plan.count("Scan parquet") == 2, plan
    # Exchanges: winner hash agg, winner doc-id agg, totals-side join
    # exchange (+ at most a reused/broadcast kept side) — all bounded by
    # distinct-chunk or doc counts, never the chunk-table size.
    assert plan.count("Exchange") <= 4, plan
