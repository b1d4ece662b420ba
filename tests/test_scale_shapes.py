"""Scale-shape regression tests: these assert properties of the PHYSICAL
PLAN (pushdown, pruning, broadcast, bucket co-location), not row values —
the things that decide whether a query survives a 100x scale-up."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import jobs_in_group


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter_to_scan(spark, sf_dir):
    plan = _plan(REGISTRY["point_lookup_customer"].fn(spark, sf_dir))
    assert "PushedFilters" in plan and "EqualTo(c_custkey,42)" in plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    # a 2-column projection must read 2 columns, not the whole table
    df = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_small_dims_broadcast_in_multi_join(spark, sf_dir):
    plan = _plan(REGISTRY["revenue_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_global_topn_uses_take_ordered(spark, sf_dir):
    # ORDER BY + LIMIT must not global-sort the table
    plan = _plan(REGISTRY["orderby_limit_top_parts"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Pre-bucketed tables joined on the bucket key need NO exchange on
    either side — the co-located join strategy for repeated big joins."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    (
        o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", str(tmp_path / "b_orders")).mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", str(tmp_path / "b_cust")).mode("overwrite")
        .saveAsTable("b_cust")
    )
    try:
        bo, bc = spark.table("b_orders"), spark.table("b_cust")
        j = bo.hint("merge").join(bc, bo.o_custkey == bc.c_custkey)
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # sanity: result matches the unbucketed join
        assert j.count() == o.join(c, o.o_custkey == c.c_custkey).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The approximate-aggregate surface: HLL sketches are engine-specific
    (no cross-engine oracle possible), so the contract is a relative-error
    bound against the exact count."""
    li = table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    ).first()
    rel_err = abs(row["approx"] - row["exact"]) / row["exact"]
    assert rel_err < 0.05, f"approx {row['approx']} vs exact {row['exact']}"


def test_bernoulli_sample_is_shuffle_free(spark, sf_dir):
    # the deterministic sample is a pure map-side filter: scan -> filter ->
    # project, with NO exchange anywhere (df.sample-style RNG state or any
    # shuffle would break partitioning-independence)
    plan = _plan(REGISTRY["corpus_sample_bernoulli"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_stratified_sample_single_shuffle(spark, sf_dir):
    # exactly one exchange: the window over the stratum key
    plan = _plan(REGISTRY["corpus_sample_stratified"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_simhash_pairs_no_cartesian(spark, sf_dir):
    # candidate generation must be the banded equi-join, never a cross join
    plan = _plan(REGISTRY["dedup_simhash_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tfidf_broadcasts_small_sides(spark, sf_dir):
    # the document-frequency dim (|vocab| rows) and the 1-row corpus size
    # must broadcast; the big tf side must never be the build side of a
    # cartesian
    plan = _plan(REGISTRY["text_tfidf_top_terms"].fn(spark, sf_dir))
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    # GROUPING SETS must compile to one Expand + aggregate, not a union of
    # per-set scans
    plan = _plan(REGISTRY["agg_grouping_sets"].fn(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_gapfill_no_cartesian_on_data_side(spark, sf_dir):
    # the dense grid comes from a broadcast 1-row bounds frame x tiny type
    # dim; the events-side rollup must join it hash-wise
    plan = _plan(REGISTRY["events_gapfill_hourly"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_approx_percentile_plan_has_no_exact_buffer(spark, sf_dir):
    """The production percentile path must be the GK sketch alone — an
    exact Percentile aggregate buffers every group value (the 100 TB OOM
    the approx twin exists to avoid)."""
    li = table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("p50")
    )
    plan = _plan(df)
    assert "approx_percentile" in plan
    # the exact aggregate never appears (strip the approx occurrences first
    # — "approx_percentile(" contains the substring "percentile(")
    assert "percentile(" not in plan.replace("approx_percentile(", "")


def test_hotkey_salted_join_no_full_dim_replication(spark, sf_dir):
    """The hot-key salted join's dim side must broadcast the hot-key frame
    and must not cartesian anything."""
    plan = _plan(REGISTRY["join_salted_hotkeys"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sink_roundtrip_reads_only_newest_partition(spark, sf_dir):
    """The round-trip query's scan must carry a partition filter on
    run_date — older run directories are pruned at planning time."""
    plan = _plan(REGISTRY["sink_roundtrip_newest_partition"].fn(spark, sf_dir))
    assert "PartitionFilters" in plan and "run_date" in plan


def test_gopher_rules_is_shuffle_free(spark, sf_dir):
    """The Gopher-style quality pass computes the top-token fraction as a
    fold over the sorted token array — no (doc, token) explode, so the
    whole query is a pure scan: zero exchanges."""
    plan = _plan(REGISTRY["text_gopher_rules"].fn(spark, sf_dir))
    assert "Exchange" not in plan, "quality rules must stay map-side"


def test_shipping_priority_take_ordered_and_pushed_filters(spark, sf_dir):
    """Q3 shape: the top-10 is a TakeOrderedAndProject (per-partition heap,
    10-row merge — never a full sort) and the segment filter reaches the
    customer parquet scan."""
    plan = _plan(REGISTRY["tpch_shipping_priority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_large_orders_semi_join_before_wide_join(spark, sf_dir):
    """Q18 shape: the HAVING keep-list prunes via semi joins; nothing
    cartesian, and the final top-20 never global-sorts."""
    plan = _plan(REGISTRY["tpch_large_orders"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("LeftSemi") >= 2
    assert "TakeOrderedAndProject" in plan


def test_scalar_subquery_broadcasts_one_row_agg(spark, sf_dir):
    """The scalar-subquery pattern must broadcast the 1-row global
    aggregate (BroadcastNestedLoopJoin over a single row), never
    a shuffled cartesian."""
    plan = _plan(REGISTRY["subquery_scalar_above_avg"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """Runtime row-level filtering: a selective dim-side filter on a
    shuffle join injects a bloom filter into the fact-side scan (Spark's
    RuntimeFilter rule, on by default). At 100 TB this turns 'shuffle all
    of lineitem, drop 95% at the join' into 'drop 95% at the scan'. The
    10 GB application-side threshold means local test data never triggers
    it, so the thresholds are lowered here to the shapes a real cluster
    would see."""
    old = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    }
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = table(spark, sf_dir, "lineitem")
        p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
        j = li.join(p, li.l_partkey == p.p_partkey)
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, "bloom filter not injected"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_range_sorted_layout_tightens_rowgroup_stats(spark, sf_dir, tmp_path):
    """Data LAYOUT as a pruning lever: repartitionByRange +
    sortWithinPartitions on the filter column gives each parquet file/row-
    group a narrow min/max span, so a date-window scan skips most of the
    dataset from footer stats alone. A hash-shuffled layout leaves every
    row group spanning the full date range — zero skipping. At 100 TB
    this is the difference between reading one week and reading five
    years."""
    import datetime
    import glob as g

    import pyarrow.parquet as pq

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    (li.repartition(8)  # hash round-robin: every file spans the full range
       .write.mode("overwrite").parquet(str(tmp_path / "hashed")))
    (li.repartitionByRange(8, "l_shipdate").sortWithinPartitions("l_shipdate")
       .write.mode("overwrite").parquet(str(tmp_path / "ranged")))

    lo = datetime.datetime(1998, 3, 1)
    hi = datetime.datetime(1998, 3, 31, 23, 59, 59)

    def surviving_fraction(path: str) -> float:
        spans = []
        for f in g.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index("l_shipdate")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                assert st is not None and st.has_min_max
                spans.append((st.min, st.max))
        hit = sum(1 for mn, mx in spans if not (mx < lo or mn > hi))
        return hit / len(spans)

    assert surviving_fraction(str(tmp_path / "hashed")) == 1.0
    assert surviving_fraction(str(tmp_path / "ranged")) <= 0.5


def test_disjunctive_predicate_pushes_side_local_residues(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs spans both join sides, but CNF extraction
    must land the quantity disjunction on the lineitem SCAN and the
    brand/size disjunction on the part SCAN — each side prunes before the
    join even though no original conjunct is single-sided."""
    plan = _plan(REGISTRY["tpch_disjunctive_filter"].fn(spark, sf_dir))
    scans = [seg for seg in plan.split("FileScan parquet") if "DataFilters" in seg]
    li_scan = next(s for s in scans if "lineitem" in s)
    p_scan = next(s for s in scans if "part.parquet" in s)
    # NB: assert on column names, not literals like 'Brand#12' — plan
    # strings truncate filter lists ("= B...") once the session has run
    # enough queries, which made a literal match order-dependent.
    li_filters = li_scan.split("DataFilters")[1].split("Format:")[0]
    p_filters = p_scan.split("DataFilters")[1].split("Format:")[0]
    assert "l_quantity" in li_filters
    assert "p_brand" in p_filters and "p_size" in p_filters


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a partitioned fact table to a
    FILTERED dim injects a runtime partition filter derived from the dim's
    surviving keys — the fact scan reads only matching partitions. At
    100 TB (date- or tenant-partitioned facts) this is the difference
    between scanning one partition and scanning all of them, and it
    needs zero query changes — just partitioned layout."""
    base = str(tmp_path / "orders_by_priority")
    o = table(spark, sf_dir, "orders")
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(base)
    fact = spark.read.parquet(base)
    dim = spark.createDataFrame(
        [("1-URGENT", "expedite"), ("2-HIGH", "fast")], "p string, lbl string"
    )
    j = fact.join(dim.filter(F.col("lbl") == "expedite"), fact.o_orderpriority == dim.p)
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), "no runtime partition filter injected"
    # and the result only contains the surviving partition's rows
    assert j.select("o_orderpriority").distinct().count() == 1


def test_analyze_table_column_stats_feed_cbo(spark, sf_dir):
    """Catalog statistics: ANALYZE TABLE ... FOR COLUMNS records
    min/max/NDV that the cost-based optimizer uses for join sizing and
    reordering — at 100 TB, stats-driven planning replaces hand-placed
    hints. Verifies stats land in the catalog and the stats'd dim still
    broadcasts in a join."""
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        c = table(spark, sf_dir, "customer")
        c.write.mode("overwrite").saveAsTable("cbo_cust_t")
        spark.sql(
            "ANALYZE TABLE cbo_cust_t COMPUTE STATISTICS FOR COLUMNS c_custkey"
        )
        desc = {r[0]: r[1] for r in
                spark.sql("DESCRIBE EXTENDED cbo_cust_t c_custkey").collect()}
        assert int(desc["distinct_count"]) > 0
        assert desc["min"] is not None and desc["max"] is not None
        o = table(spark, sf_dir, "orders")
        j = o.join(spark.table("cbo_cust_t"),
                   o.o_custkey == F.col("c_custkey"))
        assert "BroadcastHashJoin" in _plan(j)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS cbo_cust_t")


def test_cached_dim_reused_from_memory(spark, sf_dir):
    """df.persist: a cached dimension's consumers read InMemoryTableScan
    (Tungsten columnar cache), not the parquet source — the reuse lever
    for a dim feeding many queries in one application."""
    d = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = d.cache()
    try:
        d.count()  # materialize
        plan = _plan(d.groupBy("c_mktsegment").count())
        assert "InMemoryTableScan" in plan
        assert "FileScan parquet" not in plan.split("InMemoryTableScan")[1][:200]
    finally:
        d.unpersist()


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Multi-dimensional data layout: bit-interleaved Z-VALUES (computed
    with plain shift/mask expressions — no engine extension needed) give
    row-group stats that prune on EITHER dimension, where a single-column
    sort prunes on one and leaves the other unfiltered. The reason
    lakehouse tables Z-order their two or three hottest filter columns at
    100 TB. Synthetic 1M-point 1024x1024 grid; predicate on the
    NON-sorted dimension must skip most of the z-ordered files and none
    of the x-sorted ones."""
    import glob as g

    import pyarrow.parquet as pq

    n_bits, n_files = 10, 64
    df = spark.range(1 << 20).select(
        (F.col("id") % 1024).cast("int").alias("x"),
        (F.pmod(F.col("id") * 2654435761, F.lit(1 << 20)) % 1024)
        .cast("int")
        .alias("y"),
    )
    z = F.lit(0).cast("bigint")
    for i in range(n_bits):
        z = z + (
            F.shiftleft(F.shiftright("x", i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright("y", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).cast("bigint")
    zdf = df.withColumn("z", z)
    (zdf.repartitionByRange(n_files, "z").sortWithinPartitions("z")
        .write.mode("overwrite").parquet(str(tmp_path / "zorder")))
    (df.repartitionByRange(n_files, "x").sortWithinPartitions("x")
       .write.mode("overwrite").parquet(str(tmp_path / "xsort")))

    def surviving(path: str, col: str, lo: int, hi: int) -> float:
        spans = []
        for f in g.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                spans.append((st.min, st.max))
        hit = sum(1 for mn, mx in spans if not (mx < lo or mn > hi))
        return hit / len(spans)

    # y-window: z-order prunes it, x-sort cannot
    assert surviving(str(tmp_path / "zorder"), "y", 100, 150) <= 0.30
    assert surviving(str(tmp_path / "xsort"), "y", 100, 150) >= 0.90
    # and z-order still prunes x too (both dims, not a trade)
    assert surviving(str(tmp_path / "zorder"), "x", 100, 150) <= 0.30


def test_tpch_q6_predicates_all_pushed(spark, sf_dir):
    plan = _plan(REGISTRY["tpch_revenue_forecast"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "IsNotNull(l_shipdate)" in plan
    # the display truncates long filter lists; match the stable prefix
    assert "GreaterThanOrEqual(l_shipda" in plan  # the range reaches the scan


def test_tpch_top_supplier_materializes_revenue_view_once(spark, sf_dir):
    # rev feeds both the max scalar and the equality probe; the
    # localCheckpoint means the final plan holds NO lineitem scan at all
    # (without it, Spark re-scans the fact once per consumer — no CSE).
    plan = _plan(REGISTRY["tpch_top_supplier"].fn(spark, sf_dir))
    assert "lineitem" not in plan
    assert "ExistingRDD" in plan


def test_tpch_important_stock_single_fact_scan_and_broadcast_scalar(spark, sf_dir):
    plan = _plan(REGISTRY["tpch_important_stock"].fn(spark, sf_dir))
    assert "lineitem" not in plan  # value aggregate checkpointed
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row threshold scalar


def test_tpch_min_cost_supplier_take_ordered_no_refetch(spark, sf_dir):
    plan = _plan(REGISTRY["tpch_min_cost_supplier"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert "lineitem" not in plan  # offers view checkpointed once
    assert "CartesianProduct" not in plan


def test_tpch_supplier_part_counts_anti_join_and_expand(spark, sf_dir):
    plan = _plan(REGISTRY["tpch_supplier_part_counts"].fn(spark, sf_dir))
    assert "LeftAnti" in plan  # NOT IN with non-null keys -> anti join
    # single count(DISTINCT): keyed pre-dedup aggregate + partial distinct
    # count (Expand only appears with MULTIPLE distinct aggs)
    assert "partial_count(distinct" in plan


def test_tpch_sales_opportunity_anti_join_pushes_order_date(spark, sf_dir):
    plan = _plan(REGISTRY["tpch_sales_opportunity"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    # the dated NOT EXISTS prunes the orders scan before the anti join
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_tpch_waiting_suppliers_one_window_no_self_joins(spark, sf_dir):
    # EXISTS + NOT EXISTS collapse to ONE window pass over l_orderkey —
    # the plan must contain a Window and no join of ls against itself
    # (supplier join is the only remaining join beyond the order filter).
    plan = _plan(REGISTRY["tpch_waiting_suppliers"].fn(spark, sf_dir))
    assert "Window" in plan
    assert plan.count("lineitem") <= 1  # the aggregate's single fact scan


def test_bm25_single_corpus_pass(spark, sf_dir):
    # tf is the only aggregate computed from the raw token stream; dl and
    # df derive from it, so the final plan reads NO documents scan.
    plan = _plan(REGISTRY["text_bm25_search"].fn(spark, sf_dir))
    assert "documents" not in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_one_tokenize_pass(spark, sf_dir):
    # feats is checkpointed; only the final lang join re-touches documents.
    plan = _plan(REGISTRY["text_quality_classifier"].fn(spark, sf_dir))
    assert plan.count("documents.parquet]") <= 1
    assert "CartesianProduct" not in plan


def test_semantic_prune_cell_local_pairs(spark, sf_dir):
    # assignment materialized once (the write-partitioned-by-cell step);
    # the pair scan joins it to itself on the cell key — equi-join, never
    # a cartesian, and no re-derivation from the embeddings table.
    plan = _plan(REGISTRY["dedup_semantic_prune"].fn(spark, sf_dir))
    assert "embeddings" not in plan
    assert "CartesianProduct" not in plan


# --- round-5 pins -----------------------------------------------------------

def test_sq8_rerank_codes_only_candidates(spark, sf_dir):
    # candidate generation runs on the checkpointed integer codes table;
    # the float corpus appears exactly twice — candidate rerank (by
    # design) and the in-plan brute-force recall verdict.
    plan = _plan(REGISTRY["ann_sq8_rerank"].fn(spark, sf_dir))
    assert plan.count("embeddings.parquet]") <= 2
    assert "CartesianProduct" not in plan


def test_exact_substring_one_gram_window(spark, sf_dir):
    # the sized frame is checkpointed (gram stream + final length join);
    # duplicated starts come from ONE count window over the gram hash,
    # not a groupBy + join-back of the gram stream.
    plan = _plan(REGISTRY["dedup_exact_substring_spans"].fn(spark, sf_dir))
    assert "documents" not in plan
    assert "CartesianProduct" not in plan


def test_span_corruption_map_side_only_draws(spark, sf_dir):
    # mask-start selection is a map-side explode+filter on the
    # checkpointed sized frame; only the islands window and the report
    # join shuffle. No corpus-wide aggregate of any kind.
    plan = _plan(REGISTRY["corpus_span_corruption_plan"].fn(spark, sf_dir))
    assert "documents" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_coverage_single_token_pass(spark, sf_dir):
    # the token stream is checkpointed: frequency vocab AND coverage join
    # both read it; the vocab reaches the join as a broadcast.
    plan = _plan(REGISTRY["tokenizer_vocab_coverage"].fn(spark, sf_dir))
    assert "documents" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-K vocab, never a global sort


def test_theta_sketch_two_exchange_single_pass(spark, sf_dir):
    # duplicate-insensitive sketches: one groupBy(user_day) + one scalar
    # agg compute both sketches and all four exact counts — exactly two
    # hash exchanges, no joins, no distincts.
    plan = _plan(REGISTRY["agg_theta_sketch_setops"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1  # the groupBy
    assert "Join" not in plan


# --- round-5 second-batch pins ----------------------------------------------

def test_bloom_filter_broadcasts_and_never_cartesians(spark, sf_dir):
    # the filter (<= m distinct bit rows, size-independent of the build
    # side) and the actual-membership dim both reach the probe as
    # broadcasts; the probe side itself never shuffles on data volume.
    plan = _plan(REGISTRY["agg_bloom_membership"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_countmin_single_tokenize_pass(spark, sf_dir):
    # the token-count aggregate is checkpointed: the cell grid, the
    # probe list, and the probe join all read it — the corpus is
    # tokenized exactly once, and the probe list is a
    # TakeOrderedAndProject, never a global sort.
    plan = _plan(REGISTRY["agg_countmin_frequency"].fn(spark, sf_dir))
    assert "documents" not in plan  # reads the checkpoint, not the table
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_url_blocklist_broadcast_suffix_join(spark, sf_dir):
    # suffix-chain explode is map-side; the rule table reaches it as a
    # broadcast hash join — no per-rule scan, no regex, no cartesian.
    plan = _plan(REGISTRY["corpus_url_blocklist"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_encoding_repair_zero_exchanges(spark, sf_dir):
    # the repair chain is a pure projection riding the scan: NO exchange
    # of any kind in the plan — at 100 TB this op is free.
    plan = _plan(REGISTRY["text_encoding_repair"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_profile_columns_single_scan(spark, sf_dir):
    # one scan of orders feeds every per-column metric; the multi-column
    # exact distincts compile to Expand (documented trade), never joins.
    plan = _plan(REGISTRY["quality_profile_columns"].fn(spark, sf_dir))
    assert plan.count("orders.parquet]") == 1
    assert "Expand" in plan
    assert "Join" not in plan


def test_mean_pool_single_shuffle(spark, sf_dir):
    # posexplode is map-side; ONE partial-aggregated hash exchange on
    # (label, pos) — shuffle volume is O(groups x dims), not O(vectors).
    plan = _plan(REGISTRY["embedding_mean_pool"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()  # map-side combine before the exchange


# --- round-5 third-batch pins -----------------------------------------------

def test_rrf_rankers_read_checkpoint_not_corpus(spark, sf_dir):
    # the candidate aggregate is checkpointed — both rankers and the
    # fusion read it, the corpus is tokenized once; each ranker cut is a
    # TakeOrderedAndProject, never a corpus-wide window.
    plan = _plan(REGISTRY["text_rrf_fusion"].fn(spark, sf_dir))
    assert "documents" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_single_fact_scan(spark, sf_dir):
    # v1 and both v2 branches derive from ONE checkpointed scan of the
    # fact table; the diff is a single full-outer join on the key.
    plan = _plan(REGISTRY["snapshot_diff"].fn(spark, sf_dir))
    assert "orders.parquet]" not in plan  # reads the checkpoint
    assert plan.count("FullOuter") == 1


def test_join_size_estimate_histograms_partial_agg(spark, sf_dir):
    # the two per-key histograms partial-aggregate map-side; the
    # verification join is the only place the raw tables meet.
    plan = _plan(REGISTRY["join_size_estimate"].fn(spark, sf_dir))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_pareto_window_runs_on_price_frame(spark, sf_dir):
    # the running-min window consumes the per-price aggregate (distinct
    # prices), never the part table; the join back is a broadcast.
    plan = _plan(REGISTRY["pareto_frontier"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # window input is the aggregated frame: partial min before exchange
    assert "partial_min" in plan


# --- round-5 fourth-batch pins -----------------------------------------------

def test_pmi_marginals_read_checkpoint_not_corpus(spark, sf_dir):
    # the bigram aggregate is checkpointed: both marginals, the total,
    # and the final join all derive from it — the corpus is tokenized
    # exactly once, and the marginal joins broadcast.
    plan = _plan(REGISTRY["text_pmi_collocations"].fn(spark, sf_dir))
    assert "documents" not in plan  # reads the checkpoint
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_curriculum_scan_prunes_to_needed_columns(spark, sf_dir):
    # Since the operators/ranks rewrite the parquet scan happens inside
    # global_cumsum's pinned (localCheckpoint'd) stamped frame, so the
    # final plan reads the checkpoint RDD: assert the checkpoint carries
    # ONLY the three needed columns (+ the partition stamp) — i.e. the
    # scan was pruned before materialization — and that no single-
    # partition window remains (the reason for the rewrite).
    from job_datapipeline_spark.testing import single_partition_windows

    df = REGISTRY["corpus_curriculum_schedule"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "lang" not in plan and "source" not in plan  # pruned
    assert "documents.parquet]" not in plan  # reads the pinned checkpoint
    assert "Scan ExistingRDD[doc_id" in plan
    assert single_partition_windows(df) == []


def test_mv_incremental_single_fact_scan(spark, sf_dir):
    # v1, both v2 branches, and all three aggregates derive from ONE
    # checkpointed scan of orders; the CDC join is the only full-outer.
    plan = _plan(REGISTRY["mv_incremental_maintenance"].fn(spark, sf_dir))
    assert "orders.parquet]" not in plan  # reads the checkpoint
    assert plan.count("FullOuter") == 2  # CDC delta + mv1-merge (tiny frames)
    assert "CartesianProduct" not in plan


def test_preference_pairs_one_shuffle_serves_both_windows(spark, sf_dir):
    # both row_number ranks ride the SAME hash partitioning on the group
    # key (one exchange before the checkpoint), so the extremes join
    # works over one-row-per-group frames.
    ranked_plan = _plan(REGISTRY["corpus_preference_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in ranked_plan
    # downstream of the checkpoint: only the extremes join remains
    assert "documents" not in ranked_plan


def test_lexical_diversity_partial_agg_on_bounded_keys(spark, sf_dir):
    # the (lang, token) count partial-aggregates map-side; the rollup
    # runs over the bounded vocabulary-x-language frame.
    plan = _plan(REGISTRY["text_lexical_diversity"].fn(spark, sf_dir))
    assert "partial_count" in plan
    assert "Join" not in plan
    assert plan.count("documents.parquet]") == 1


def test_gini_window_runs_on_distinct_source_frame(spark, sf_dir):
    # the rank window consumes the per-source aggregate (bounded domain
    # frame), never the documents table; one corpus scan total.
    plan = _plan(REGISTRY["agg_gini_concentration"].fn(spark, sf_dir))
    assert plan.count("documents.parquet]") == 1
    assert "partial_count" in plan  # map-side combine before the exchange


# --- round-5 fifth-batch pins ------------------------------------------------

def test_interpolate_windows_share_one_sort(spark, sf_dir):
    # all four neighbor lookups (prev/next value and position) ride ONE
    # partition-by-series sort; the spine is generated, never scanned.
    plan = _plan(REGISTRY["events_interpolate_linear"].fn(spark, sf_dir))
    assert plan.count("Window") <= 3  # rn + backward frame + forward frame
    # types+bounds fuse into one checkpointed per-type aggregate, so the
    # raw table is scanned once more for the rollup and that is all
    assert plan.count("events.parquet]") == 1
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_negative_samples_broadcast_ring(spark, sf_dir):
    # the representative election is the only aggregate (B rows); the
    # fan-out joins it broadcast — no shuffle scales with the corpus.
    plan = _plan(REGISTRY["corpus_negative_samples"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_skew_diagnosis_histogram_only(spark, sf_dir):
    # one partial-aggregated histogram, totals broadcast back, top-k via
    # TakeOrderedAndProject — the raw table never re-scans.
    plan = _plan(REGISTRY["join_skew_diagnosis"].fn(spark, sf_dir))
    assert "lineitem.parquet]" not in plan  # reads the checkpoint
    assert "TakeOrderedAndProject" in plan


def test_classification_metrics_single_pass(spark, sf_dir):
    # one scan, one map-side-combined aggregate, zero joins
    plan = _plan(REGISTRY["ml_classification_metrics"].fn(spark, sf_dir))
    assert plan.count("documents.parquet]") == 1
    assert "Join" not in plan
    assert "partial" in plan.lower()


def test_auc_window_runs_on_distinct_score_frame(spark, sf_dir):
    # the rank cumsum consumes the per-score aggregate, never raw rows:
    # since the round-7 global_cumsum rewrite the corpus scan + score
    # aggregate live inside the primitive's pinned checkpoint, so the
    # visible plan reads the checkpoint RDD and keeps NO
    # single-partition window (the reason for the rewrite).
    from job_datapipeline_spark.testing import single_partition_windows

    df = REGISTRY["ml_auc_rank"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "documents.parquet]" not in plan  # reads the pinned checkpoint
    assert "Scan ExistingRDD" in plan
    assert single_partition_windows(df) == []


# --- round-5 sixth-batch pins ------------------------------------------------

def test_cusum_windows_ride_checkpointed_rollup(spark, sf_dir):
    # the hourly rollup is checkpointed (stats aggregate + windows); the
    # cumsum and running-min share one partition-by-series sort.
    plan = _plan(REGISTRY["events_cusum_drift"].fn(spark, sf_dir))
    assert "events.parquet]" not in plan  # reads the checkpoint
    assert "BroadcastHashJoin" in plan  # tiny per-series stats join


def test_triangle_join_runs_on_checkpointed_edges(spark, sf_dir):
    # degrees and the three-way triangle join all consume the DISTINCT
    # edge checkpoint; the event log is scanned only to build cells.
    plan = _plan(REGISTRY["graph_triangle_clustering"].fn(spark, sf_dir))
    assert "events.parquet]" not in plan  # reads the checkpoint
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_broadcasts_bits(spark, sf_dir):
    # the bit table and the dim broadcast; the fact side never shuffles
    # for the prefilter itself (the per-key hit count is its only agg).
    plan = _plan(REGISTRY["join_bloom_prefilter"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_market_basket_single_fact_scan(spark, sf_dir):
    # the items frame is checkpointed: basket count, marginals, and the
    # pair self-join all read it; lineitem is scanned exactly once.
    plan = _plan(REGISTRY["orders_market_basket"].fn(spark, sf_dir))
    assert "lineitem.parquet]" not in plan  # reads the checkpoint
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# --- round-5 seventh-batch pins ----------------------------------------------

def test_scd2_apply_single_dim_scan(spark, sf_dir):
    # the dimension is scanned once (checkpointed); all four branches —
    # closed, reopened, inserted, untouched — derive from it.
    plan = _plan(REGISTRY["scd2_apply_changes"].fn(spark, sf_dir))
    assert "customer.parquet]" not in plan  # reads the checkpoint
    assert "Union" in plan
    assert "Exchange hashpartitioning" not in plan  # pure map-side apply


def test_ablation_one_scan_expand_no_joins(spark, sf_dir):
    # every rule is an expression on one checkpointed scan; the unpivot
    # is a map-side explode and the report aggregate partial-combines.
    plan = _plan(REGISTRY["corpus_quality_ablation_report"].fn(spark, sf_dir))
    assert "documents.parquet]" not in plan  # reads the checkpoint
    assert "SortMergeJoin" not in plan
    assert "partial" in plan.lower()


def test_psi_both_distributions_from_one_aggregate(spark, sf_dir):
    # FILTER-style conditional counts put both distributions in ONE
    # checkpointed token aggregate — the corpus is never scanned twice
    # (the totals fold and the term fold both read the checkpoint).
    plan = _plan(REGISTRY["corpus_psi_drift"].fn(spark, sf_dir))
    assert "documents.parquet]" not in plan  # reads the checkpoint
    assert "partial_sum" in plan


# --- round-5 eighth-batch pins -----------------------------------------------

def test_calibration_aggregates_to_fixed_bucket_frame(spark, sf_dir):
    # one map-side-combined aggregate onto the fixed-width bucket frame;
    # the ECE fold and report both read the checkpoint.
    plan = _plan(REGISTRY["ml_calibration_ece"].fn(spark, sf_dir))
    assert "documents.parquet]" not in plan  # reads the checkpoint
    assert "SortMergeJoin" not in plan


def test_markov_one_user_shuffle(spark, sf_dir):
    # the sequence window is the only event-sized exchange; the
    # transition aggregate and marginal join ride the checkpoint.
    plan = _plan(REGISTRY["events_markov_transitions"].fn(spark, sf_dir))
    assert "events.parquet]" not in plan  # reads the checkpoint
    assert "BroadcastHashJoin" in plan


def test_rfm_windows_run_on_customer_frame(spark, sf_dir):
    # the fact table collapses to the customer frame before any ntile;
    # the anchor is a broadcast scalar.
    plan = _plan(REGISTRY["orders_rfm_segmentation"].fn(spark, sf_dir))
    assert "orders.parquet]" not in plan  # reads the checkpoint
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_cohort_ltv_single_fact_scan(spark, sf_dir):
    # the rollup and the join side both read ONE checkpointed fact scan;
    # the cumsum window runs on the cohort x month frame.
    plan = _plan(REGISTRY["orders_cohort_ltv"].fn(spark, sf_dir))
    assert "orders.parquet]" not in plan  # reads the checkpoint
    assert "Window" in plan


# --- round-5 ninth-batch pins ------------------------------------------------

def test_active_users_range_join_on_distinct_frame(spark, sf_dir):
    # DAU and both range joins consume the checkpointed (day, user)
    # DISTINCT frame, never the raw event log; the day spine broadcasts.
    plan = _plan(REGISTRY["events_active_users"].fn(spark, sf_dir))
    assert "events.parquet]" not in plan  # reads the checkpoint
    assert "BroadcastNestedLoopJoin" in plan  # range join vs broadcast spine


def test_abc_cumsum_runs_on_part_frame(spark, sf_dir):
    # the fact table collapses to the part dimension before the running
    # sum; the totals scalar broadcasts back.
    plan = _plan(REGISTRY["orders_abc_classification"].fn(spark, sf_dir))
    assert "lineitem.parquet]" not in plan  # reads the checkpoint
    assert "Window" in plan


def test_session_window_single_user_shuffle(spark, sf_dir):
    # the native operator compiles to one hash exchange on user_id plus
    # sort — identical cost to the islands rewrite.
    plan = _plan(REGISTRY["events_session_window_native"].fn(spark, sf_dir))
    assert "SessionWindow" in plan or "session_window" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_readability_rides_the_scan(spark, sf_dir):
    # pure map-side expressions: no exchange except the output sort.
    plan = _plan(REGISTRY["text_readability_scores"].fn(spark, sf_dir))
    assert plan.count("documents.parquet]") == 1
    assert "Exchange hashpartitioning" not in plan


# --- round-5 tenth-batch pins ------------------------------------------------

def test_new_user_growth_rollups_share_checkpoint(spark, sf_dir):
    # DAU and the first-seen frame both read the (day, user) checkpoint;
    # the news join broadcasts and the cumsum runs on the day spine.
    plan = _plan(REGISTRY["events_new_user_growth"].fn(spark, sf_dir))
    assert "events.parquet]" not in plan  # reads the checkpoint
    assert "BroadcastHashJoin" in plan


def test_weighted_median_cumsum_on_value_frame(spark, sf_dir):
    # the cumsum runs on the (group, value) pre-aggregate, never raw
    # rows; the per-group totals broadcast back.
    plan = _plan(REGISTRY["agg_weighted_median"].fn(spark, sf_dir))
    assert "lineitem.parquet]" not in plan  # reads the checkpoint
    assert "BroadcastHashJoin" in plan


def test_interpurchase_gaps_dim_broadcast(spark, sf_dir):
    # the segment dim broadcasts onto the lag output; percentile cuts
    # run on the checkpointed (segment, gap) frame.
    plan = _plan(REGISTRY["orders_interpurchase_gaps"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bot_detection_one_user_shuffle(spark, sf_dir):
    # the planted bot is a generated Range scan (never a Python RDD);
    # the lag window is the only event-sized exchange.
    plan = _plan(REGISTRY["events_bot_detection"].fn(spark, sf_dir))
    assert "Range (0" in plan  # in-plan row generation
    assert plan.count("Exchange hashpartitioning") <= 2


# --- round-5 eleventh-batch pins ----------------------------------------------

def test_sweep_cumsum_on_date_domain(spark, sf_dir):
    # deltas partial-aggregate to the date-domain frame before the one
    # running sum; the fact join is the only fact-sized work.
    plan = _plan(REGISTRY["orders_open_interval_sweep"].fn(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_mode_window_on_value_frame(spark, sf_dir):
    # the rank window consumes the (group, value) count frame, never
    # raw rows; one fact scan total.
    plan = _plan(REGISTRY["agg_mode_exact"].fn(spark, sf_dir))
    assert plan.count("lineitem.parquet]") == 1
    assert "partial_count" in plan


def test_slo_single_rollup_one_sort(spark, sf_dir):
    # FILTER counts put errors and totals in the same rollup; both
    # running sums share one window sort over the day spine.
    plan = _plan(REGISTRY["events_error_rate_slo"].fn(spark, sf_dir))
    assert plan.count("events.parquet]") == 1
    assert plan.count("Window") == 1


def test_seasonality_calendar_frames_broadcast(spark, sf_dir):
    # daily -> monthly rollups are calendar-sized; the totals broadcast.
    plan = _plan(REGISTRY["orders_seasonality_index"].fn(spark, sf_dir))
    assert "orders.parquet]" not in plan  # reads the checkpoint
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_gram_matrix_broadcast_fanout_no_shuffle_of_facts(spark, sf_dir):
    # the 136-cell index frame broadcasts; vectors never shuffle before
    # partial aggregation collapses them onto the cell frame.
    plan = _plan(REGISTRY["embedding_gram_matrix"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("embeddings.parquet]") == 1
    assert "partial_sum" in plan


def test_geo_join_is_cell_hash_join_not_cartesian(spark, sf_dir):
    # the 3x3 ring fan-out is a broadcast on the probe side; the
    # candidate join is a HASH join on the cell key, never all-pairs.
    plan = _plan(REGISTRY["geo_nearest_supplier"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_cf_pair_join_single_fact_scans(spark, sf_dir):
    # the sampled (customer, part) frame is checkpointed: both sides of
    # the pair self-join read the checkpoint, so lineitem and orders are
    # scanned once each.
    plan = _plan(REGISTRY["recsys_item_item_cf"].fn(spark, sf_dir))
    assert plan.count("lineitem.parquet]") <= 1
    assert plan.count("orders.parquet]") <= 1
    assert "CartesianProduct" not in plan


def test_sparse_cosine_postings_checkpointed(spark, sf_dir):
    # weights feed norms AND both dot-product sides off one checkpoint;
    # the raw documents scan appears at most twice (tf + corpus count).
    plan = _plan(REGISTRY["text_sparse_cosine_topk"].fn(spark, sf_dir))
    assert plan.count("documents.parquet]") <= 2
    assert "CartesianProduct" not in plan


def test_feature_scaling_stats_broadcast_back(spark, sf_dir):
    # group stats broadcast onto rows: z and min-max are map-side after
    # one stats exchange; only the rank window sorts.
    plan = _plan(REGISTRY["ml_feature_scaling"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window") == 1


def test_survival_km_single_orders_scan(spark, sf_dir):
    # totals, risk set and survival fold are windows over the 53-row week
    # frame in one linear plan: orders is scanned exactly once, and no
    # self-join re-reads it.
    plan = _plan(REGISTRY["orders_survival_km"].fn(spark, sf_dir))
    assert plan.count("orders.parquet]") == 1


@pytest.mark.parametrize("name", ["orders_survival_km", "compaction_bin_packing"])
def test_window_fold_fn_starts_no_job(spark, sf_dir, name):
    # totals and prefix folds are windows over a k-row frame inside the
    # final plan, so building the DataFrame materializes nothing eagerly.
    fn = REGISTRY[name].fn
    assert jobs_in_group(spark, f"fn-{name}", lambda: fn(spark, sf_dir)) == []


def test_attribution_one_user_sort_serves_both_models(spark, sf_dir):
    # first-touch and last-touch unpivot from ONE pass: a single scan
    # and a single Window node over one user shuffle (the unionAll form
    # recomputed both — this pin caught it).
    plan = _plan(REGISTRY["events_attribution_models"].fn(spark, sf_dir))
    assert plan.count("events.parquet]") == 1
    assert plan.count("Window") == 1


def test_benford_nine_row_broadcasts(spark, sf_dir):
    # the digit aggregate partial-combines onto 9 cells, checkpointed so
    # the expectation join and the total share it: at most one scan.
    plan = _plan(REGISTRY["agg_benford_audit"].fn(spark, sf_dir))
    assert plan.count("orders.parquet]") <= 1
    # the digit count's partial agg lives inside the eager checkpoint;
    # the visible plan partial-combines the total off the 9-row frame
    assert "partial_sum" in plan or "partial_count" in plan


def test_pinned_exchange_counts_hold(spark, sf_dir):
    # The asserted form of tools/audit_plans.py's allowlist (the round-6
    # verdict's "pins, not prose" conversion): every query allowed past
    # the exchange budget carries a pinned max count in plan_pins.KNOWN;
    # a plan change that inflates an allowlisted query's shuffle count
    # fails HERE instead of hiding behind the old free-text reason.
    from job_datapipeline_spark.plan_pins import KNOWN

    over = []
    for name, (pin, _reason) in KNOWN.items():
        if pin is None:
            continue
        assert name in REGISTRY, f"pinned query {name} not registered"
        plan = _plan(REGISTRY[name].fn(spark, sf_dir))
        n_ex = plan.count("Exchange")
        if n_ex > pin:
            over.append(f"{name}: {n_ex} exchanges > pin {pin}")
    assert not over, "; ".join(over)


def test_pin_and_window_allowlists_name_real_queries(spark):
    from job_datapipeline_spark.plan_pins import BOUNDED_GLOBAL_WINDOWS, KNOWN

    unknown = [n for n in KNOWN if n not in REGISTRY]
    unknown += [n for n in BOUNDED_GLOBAL_WINDOWS if n not in REGISTRY]
    assert not unknown, f"allowlists name unregistered queries: {unknown}"


def test_window_detector_sees_through_aqe_wrappers():
    # The detector must catch Exchange SinglePartition under a Window even
    # when AQE interposes stage wrappers between the Sort and the
    # Exchange (the round-6 ADVICE false-negative), and must NOT flag a
    # deeper SinglePartition that feeds something else (a scalar agg).
    from job_datapipeline_spark.testing import single_partition_windows_in_plan

    direct = (
        "Window [sum(v) windowspecdefinition(k ASC)], [k ASC]\n"
        "+- *(2) Sort [k ASC NULLS FIRST], false, 0\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        "      +- *(1) Project [k, v]\n"
    )
    assert len(single_partition_windows_in_plan(direct)) == 1

    aqe_wrapped = (
        "Window [sum(v) windowspecdefinition(k ASC)], [k ASC]\n"
        "+- *(3) Sort [k ASC NULLS FIRST], false, 0\n"
        "   +- AQEShuffleRead local\n"
        "      +- ShuffleQueryStage 1\n"
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
    )
    assert len(single_partition_windows_in_plan(aqe_wrapped)) == 1

    reused = (
        "Window [sum(v) windowspecdefinition(k ASC)], [k ASC]\n"
        "+- *(3) Sort [k ASC NULLS FIRST], false, 0\n"
        "   +- ReusedExchange [k, v], Exchange SinglePartition, [plan_id=2]\n"
    )
    assert len(single_partition_windows_in_plan(reused)) == 1

    partitioned_window_with_deeper_scalar_agg = (
        "Window [sum(v) windowspecdefinition(g, k ASC)], [g], [k ASC]\n"
        "+- *(4) Sort [g ASC, k ASC], false, 0\n"
        "   +- Exchange hashpartitioning(g, 32), ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "      +- *(3) Project [g, k, v]\n"
        "         +- *(3) BroadcastHashJoin [t], [t2], Inner, BuildRight\n"
        "            :- *(1) Project [g, k, v, t]\n"
        "            +- BroadcastExchange IdentityBroadcastMode\n"
        "               +- *(2) HashAggregate(keys=[], functions=[sum(x)])\n"
        "                  +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
    )
    assert single_partition_windows_in_plan(
        partitioned_window_with_deeper_scalar_agg
    ) == []


# --- round-7 pins ------------------------------------------------------------

def test_markov_attribution_single_event_scan_no_chain_shuffles(spark, sf_dir):
    # one window pass over events builds the edges (swallowed by the
    # eager pivot checkpoint, so the visible plan reads ExistingRDD); the
    # five scenario chains are pure expression pipelines over the 1-row
    # pivot — no joins anywhere, and the only exchange above the
    # checkpoint is the 5-row output ordering.
    plan = _plan(REGISTRY["events_markov_attribution"].fn(spark, sf_dir))
    assert "events.parquet]" not in plan  # reads the pivot checkpoint
    assert "Scan ExistingRDD" in plan
    assert "Join" not in plan


def test_misra_gries_arrow_stage_single_tokenize(spark, sf_dir):
    # the MG summaries must run as an Arrow mapInPandas stage (never a
    # row-at-a-time BatchEvalPython), over ONE checkpointed tokenize pass
    # shared with the exact verification side.
    plan = _plan(REGISTRY["agg_misra_gries_topk"].fn(spark, sf_dir))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "documents.parquet]" not in plan  # reads the token checkpoint
    assert "TakeOrderedAndProject" in plan  # exact top-k never global-sorts


def test_retention_triangle_broadcast_sizes(spark, sf_dir):
    # cohort sizes and the first-week dim join broadcast; the event log
    # is swallowed by the (user, week) DISTINCT checkpoint.
    plan = _plan(REGISTRY["events_retention_triangle"].fn(spark, sf_dir))
    assert "events.parquet]" not in plan
    assert "BroadcastHashJoin" in plan


def test_cuped_single_pass_one_row_fold(spark, sf_dir):
    # one narrow scan, one user rollup exchange, one 1-row moment fold —
    # no window, no join anywhere.
    plan = _plan(REGISTRY["events_cuped_adjusted"].fn(spark, sf_dir))
    assert plan.count("events.parquet]") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_fuzzy_matches_blocked_join_partitioned_window(spark, sf_dir):
    # the pair join is equi-keyed on the block key (never a cartesian)
    # and the argmin window is partitioned by it.
    from job_datapipeline_spark.testing import single_partition_windows

    df = REGISTRY["part_fuzzy_matches"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert single_partition_windows(df) == []


def test_dpp_fires_on_partitioned_fact(spark, sf_dir):
    # layout_dpp_prune: the quarter filter lives on the DIM side, so only
    # a DynamicPruningExpression (runtime subquery on the fact's partition
    # column) can cut the fact scan; assert Catalyst planted one.
    plan = _plan(REGISTRY["layout_dpp_prune"].fn(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_range_boundaries_no_global_sort(spark, sf_dir):
    # layout_range_boundaries must pick exact ranks via the pruned
    # rank-pick device, never a global sort / single-partition window.
    from job_datapipeline_spark.testing import single_partition_windows

    df = REGISTRY["layout_range_boundaries"].fn(spark, sf_dir)
    assert single_partition_windows(df) == []
