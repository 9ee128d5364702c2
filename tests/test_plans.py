"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruning, broadcast, TakeOrderedAndProject, partial
aggregation) must not silently regress as queries evolve."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from tests.conftest import SF_SMOKE
from travelpulse_spark_stream_tourism_analytics_spark.plans import (
    all_queries,
    etl_queries,
    events_queries,
    functions_queries,
    relational_queries,
    text_queries,
    window_queries,
)

_CATALOG = all_queries()
_PLAN_MODULES = (
    events_queries,
    relational_queries,
    functions_queries,
    text_queries,
    window_queries,
    etl_queries,
)


def plan_of(spark, name: str) -> str:
    """Explain a catalog query OR a de-registered constituent transform
    (consolidated queries compose several operator plans; the plan
    assertions stay pinned to the constituent, which is unchanged)."""
    fn = _CATALOG.get(name)
    if fn is None:
        for mod in _PLAN_MODULES:
            fn = getattr(mod, name, None)
            if fn is not None:
                break
    if fn is None:
        raise KeyError(
            f"plan_of: {name!r} is neither a catalog query nor a "
            f"constituent in any plan module"
        )
    df = fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_push_down_to_scan(spark):
    plan = plan_of(spark, "filter_predicates")
    assert "GreaterThanOrEqual(p_size,10)" in plan
    assert "In(p_type, [ECONOMY,SMALL]" in plan
    assert "StringContains(p_name,re)" in plan


def test_columns_prune_to_read_schema(spark):
    plan = plan_of(spark, "events_per_minute")
    # The scan must read ONLY the timestamp column (storage type of `ts`
    # is the driver's choice — bigint epoch in r1/r2, timestamp_ntz in r3).
    import re

    m = re.search(r"ReadSchema: struct<(.+?)>", plan)
    assert m, plan
    fields = [f.split(":")[0] for f in m.group(1).split(",")]
    assert fields == ["ts"], m.group(1)


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region dims
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2


def test_global_topn_is_take_ordered(spark):
    plan = plan_of(spark, "top_revenue_customers")
    assert "TakeOrderedAndProject" in plan  # never a full global sort
    assert "GlobalSort" not in plan


def test_aggregation_is_partial_before_exchange(spark):
    plan = plan_of(spark, "pricing_summary")
    # HashAggregate (partial) -> Exchange -> HashAggregate (final)
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert first_agg != -1 and first_exchange != -1
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "name", ["shipping_priority", "orders_with_late_items"]
)
def test_date_filters_reach_scans(spark, name):
    plan = plan_of(spark, name)
    assert "PushedFilters" in plan
    assert "Exchange" in plan  # sanity: plan rendered fully


def test_repair_coarse_scan_trigger_and_noop(spark, tmp_path):
    """repair_coarse_scan repartitions a big single-row-group file and
    leaves well-partitioned (or small) inputs untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import (
        repair_coarse_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    if cores < 4:
        pytest.skip("repair only triggers when row_groups*4 <= cores")

    tbl = pa.table({"x": list(range(100_000))})
    coarse = str(tmp_path / "coarse.parquet")
    fine = str(tmp_path / "fine.parquet")
    pq.write_table(tbl, coarse)  # one row group
    pq.write_table(tbl, fine, row_group_size=5_000)  # 20 row groups
    df_c = spark.read.parquet(coarse)
    out_c = repair_coarse_scan(spark, df_c, coarse)
    assert out_c.rdd.getNumPartitions() == cores

    df_f = spark.read.parquet(fine)
    assert repair_coarse_scan(spark, df_f, fine) is df_f  # enough groups

    small = str(tmp_path / "small.parquet")
    pq.write_table(pa.table({"x": list(range(10))}), small)
    df_s = spark.read.parquet(small)
    assert repair_coarse_scan(spark, df_s, small) is df_s  # too few rows

    # correctness is unchanged by the repartition
    assert out_c.count() == 100_000
    assert out_c.agg({"x": "sum"}).collect()[0][0] == sum(range(100_000))


def test_asof_join_is_single_shuffle(spark):
    """The as-of join must plan as one Exchange + one Window — the
    union/running-last formulation, never a nested-loop range join."""
    plan = plan_of(spark, "clicks_asof_last_purchase")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Window (") == 1
    assert tree.count("Exchange (") == 1  # one shuffle on user_id
    assert "hashpartitioning(user_id" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q5_join_broadcasts_dimensions(spark):
    """regional_supplier_revenue: nation/region reach the join as
    broadcasts; the date filter is pushed into the orders scan."""
    plan = plan_of(spark, "regional_supplier_revenue")
    assert "BroadcastHashJoin" in plan
    # the date range must reach the orders scan as a pushed filter
    pushed = [
        seg.splitlines()[0]
        for seg in plan.split("PushedFilters: ")[1:]
    ]
    assert any("o_orderdate" in p for p in pushed), pushed


def test_hypertable_rollup_single_scan(spark):
    """The GROUPING SETS rollup must read the raw table exactly once
    (Expand), not once per grain."""
    plan = plan_of(spark, "event_hypertable_rollup")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 1
    assert tree.count("Expand") == 1


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """write_parquet(partition_by=day) must let a day-filtered read
    prune partitions at planning time — the layout contract that makes
    100 TB fact scans touch only the queried slice."""
    from pyspark.sql import functions as F

    from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import (
        load_table,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.sinks.files import (
        write_parquet,
    )

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_day")
    write_parquet(ev, out, partition_by=["day"])

    df = spark.read.parquet(out).filter(F.col("day") == "2024-01-03")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "2024-01-03" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    # and the filtered read really returns only that day's rows
    days = {r[0] for r in df.select("day").distinct().collect()}
    assert len(days) <= 1


def test_pointintime_join_broadcasts_dimension(spark):
    """The PIT enrich must ship the (small) versioned dimension to the
    fact side as a broadcast, never shuffle the fact table for it."""
    plan = plan_of(spark, "events_pointintime_enrich")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merged_topn_keeps_take_ordered(spark):
    """Consolidation must not cost the top-N plans their
    TakeOrderedAndProject — both ordered-limit branches of the merged
    entity query avoid a global sort."""
    plan = plan_of(spark, "topn_revenue_entities")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("TakeOrderedAndProject") >= 2
    assert "GlobalSort" not in plan


def test_graph_rank_entities_shares_one_fused_computation(spark):
    """The round-8 split-out entry must not UNDO the fused-rank win:
    both output arms (graph_pagerank + graph_trustrank) read the ONE
    materialized pagerank_multi result. Since round 11 that result is
    an eager localCheckpoint (lineage truncated at the arm boundary —
    VERDICT r10 item 4), so both arms scan the SAME checkpointed RDD
    and the 4-iteration rank lineage (per-iteration joins + quantized
    decimal aggs) appears NOWHERE in the entry's plan."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators._cache import (
        clear_operator_caches,
    )

    spark.catalog.clearCache()
    clear_operator_caches()
    try:
        plan = plan_of(spark, "graph_rank_entities")
        # two arms, both served from the one checkpointed fused result
        assert plan.count("Scan ExistingRDD") >= 2, plan[:2000]
        # the expensive rank lineage must be fully truncated: no
        # per-iteration decimal aggregation, no Exchange anywhere —
        # the plan is two top-50 arms over one LogicalRDD plus the
        # union
        tree = plan.split("== Physical Plan ==")[1]
        assert "decimal(38,0)" not in tree
        assert "Exchange" not in tree
        assert tree.count("TakeOrderedAndProject") >= 2
    finally:
        clear_operator_caches()


def test_merged_geo_rollups_broadcast_dims(spark):
    """Both branches (region revenue + Q5) keep their dimension
    broadcasts after the merge."""
    plan = plan_of(spark, "geo_revenue_rollups")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("BroadcastHashJoin") >= 3
    pushed = [seg.splitlines()[0] for seg in plan.split("PushedFilters: ")[1:]]
    assert any("o_orderdate" in p for p in pushed), pushed


def test_merged_semi_anti_join_kinds(spark):
    plan = plan_of(spark, "semi_anti_join_counts")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_docs_text_profile_single_scan_no_shuffle(spark):
    """The merged per-doc profile must stay ONE scan and fully
    map-side — no joins, no exchanges (the whole point of the
    expression-form SimHash)."""
    plan = plan_of(spark, "docs_text_profile")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 1
    assert "Exchange" not in tree
    assert "Join" not in tree


def test_event_time_profiles_single_scan_grouping_sets(spark):
    """The merged time profiles aggregate both grains off one scan via
    Expand (GROUPING SETS), not a union of two scans. Round 5 adds the
    PSI drift grains: exactly TWO more scans (one bucket-shares
    aggregate per snapshot — base and candidate), still a single
    Expand (the drift branch buckets with a plan-constant CASE chain,
    no grouping sets, no join)."""
    plan = plan_of(spark, "event_time_profiles")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 3
    assert tree.count("Expand") == 1


def test_customer_profile_two_scans(spark):
    """customer_profile: one customer scan + one orders scan (the
    latest-order join) — never the 4x self-join of its constituents."""
    plan = plan_of(spark, "customer_profile")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 2


def test_simhash_pairs_plan_has_no_distinct_aggregate(spark):
    """The saturated-corpus lesson from the sf1 soak: multi-band pair
    dedup must stay a per-row 'lowest agreeing band' filter, never a
    distinct() — at sf1 the distinct shuffled 1.16e9 rows (241 s). A
    regression would reappear in the plan as an aggregate grouping on
    (id_a, id_b)."""
    plan = plan_of(spark, "docs_simhash_neardups")
    import re

    assert not re.search(r"HashAggregate \(.*keys=\[id_a", plan)
    assert not re.search(r"keys=\[id_a[^\]]*id_b", plan)


def test_runtime_bloom_filter_injects_on_shuffle_joins(spark):
    """100 TB contract: when a selective dimension side is too big to
    broadcast (so the join must shuffle), Spark's runtime bloom filter
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`, on in
    session.py via Spark defaults) must inject a `might_contain`
    pre-filter on the fact scan — pruning shuffle input by the dim's
    selectivity. At test scale the 10 GiB application-side threshold
    keeps it off (broadcast handles small dims); this test lowers the
    thresholds to prove the engine's join shapes qualify for
    injection, so the behavior is there when the scan sizes are real.
    """
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    old_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        sel = orders.filter(
            "o_orderpriority = '1-URGENT' and o_totalprice > 350000"
        ).select("o_orderkey")
        j = li.join(sel, li.l_orderkey == sel.o_orderkey).groupBy().count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_scan,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_dynamic_partition_pruning_injects_on_dim_filtered_join(
    spark, tmp_path
):
    """A partitioned fact joined to a selectively-filtered dim must get
    a runtime dynamicpruningexpression on its PartitionFilters — at
    100 TB this is what keeps a fact-dim join from scanning every
    partition when the dim filter only selects a few. Gotcha pinned
    here: the dim predicate must be one Spark considers 'likely
    selective' (comparison/IN/LIKE) — a bare boolean attribute filter
    does NOT qualify and silently skips DPP."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 100_000).select(
        (F.col("id") % 20).alias("day"), F.col("id").alias("v")
    )
    fact.write.mode("overwrite").partitionBy("day").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.range(0, 20).select(
        F.col("id").alias("day"),
        F.when(F.col("id") % 3 == 0, "keep").otherwise("drop").alias("grp"),
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))

    f = spark.read.parquet(str(tmp_path / "fact"))
    dm = (
        spark.read.parquet(str(tmp_path / "dim"))
        .filter(F.col("grp") == "keep")
        .select(F.col("day").cast("int").alias("day"))
    )
    j = f.join(dm, "day")
    buf = io.StringIO()
    with redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression" in plan, plan
    # The pruning subquery hangs off the fact scan's PartitionFilters.
    pf_line = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "dynamicpruning" in pf_line
    # 7 of 20 days survive the dim filter.
    assert j.count() == 7 * 5_000


def test_contamination_branch_broadcasts_eval_ngrams(spark):
    """docs_top_terms contam branch: the eval-set n-gram side must
    BROADCAST (a benchmark suite is tiny); the train side aggregates
    with partial aggregation before its doc_id shuffle."""
    plan = plan_of(spark, "docs_top_terms")
    assert "BroadcastHashJoin" in plan
    # partial aggregation before the exchange on the contam agg
    assert plan.count("HashAggregate") >= 4


def test_pack_chunks_window_partitions_by_shard(spark):
    """docs_chunked packing: the running-sum window partitions by
    shard_id — never a single-partition global window (the 100 TB
    failure mode of naive running totals)."""
    plan = plan_of(spark, "docs_chunked")
    assert "Window" in plan
    # The only exchange is a hash partitioning on shard_id...
    assert "hashpartitioning(shard_id" in plan
    # ...never a single-partition exchange feeding the window.
    assert "SinglePartition" not in plan


def test_pq_adc_branch_plan_shape(spark):
    """pq_adc (round 4): codes come from ONE MapInPandas encode pass;
    the query tables broadcast (never shuffle the corpus for 5
    queries); the top-5 applies a PARTIAL WindowGroupLimit before the
    exchange so only candidate rows shuffle — the plan that survives a
    100x corpus."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    df = _CATALOG["embedding_knn_variants"](spark, SF_SMOKE).filter(
        F.col("variant") == "pq_adc"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast query tables
    assert plan.count("WindowGroupLimit") >= 2  # partial + final top-5
    # Catalyst folded the other four union legs away entirely.
    assert "semdedup" not in plan and "ivf_seeded" not in plan


def test_tsmatch_branch_plan_shape(spark):
    """tsmatch (round 4): series assembly is the only shuffle; the
    global top-10 is TakeOrderedAndProject (no global sort)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    df = _CATALOG["latest_event_per_user"](spark, SF_SMOKE).filter(
        F.col("branch") == "tsmatch"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 2  # the user_id agg (+AQE read)


def test_audio_clip_search_joins_broadcast(spark):
    """match_audio_clip (round 5): both halves of the search must
    broadcast the small side — the query's prints against the index
    (candidate join) and the vote-floor candidate set (verification
    join) — so the persistable print index is never shuffled."""
    import io
    from contextlib import redirect_stdout

    import numpy as np

    from travelpulse_spark_stream_tourism_analytics_spark.operators.audio_search import (
        audio_subfingerprints,
        match_audio_clip,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.multimodal import (
        synth_wav,
    )

    def wav_of(samples):
        shell = bytearray(synth_wav(len(samples), 8000, 1))
        shell[-2 * len(samples):] = np.asarray(samples, "<i2").tobytes()
        return bytes(shell)

    rng = np.random.default_rng(2)
    track = (rng.standard_normal(4000) * 2000).astype(np.int64)
    corpus = spark.createDataFrame(
        [(0, wav_of(track))], "doc_id long, payload binary"
    )
    index = audio_subfingerprints(corpus)
    q = audio_subfingerprints(
        spark.createDataFrame(
            [(9, wav_of(track[1280:3000]))], "doc_id long, payload binary"
        )
    )
    df = match_audio_clip(index, q)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("BroadcastHashJoin") >= 3  # cand, verify x2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_docs_text_profile_is_shuffle_free(spark):
    """The per-document profile (incl. the round-6 Gopher repetition
    masses — sorted-run folds, not explode+groupBy) must stay ONE
    map-side projection pipeline: no Exchange anywhere in the plan.
    (Pinned at SF_SMOKE, below the coarse-scan-repair row threshold —
    the at-scale/no-op shape; the repair's local trigger is pinned in
    test_docs_text_profile_repairs_coarse_scan.)"""
    plan = plan_of(spark, "docs_text_profile")
    assert "Exchange" not in plan
    assert "Scan parquet" in plan  # sanity: plan rendered fully


def test_docs_text_profile_repairs_coarse_scan(spark, tmp_path):
    """The profile is the most expression-heavy map-side projection in
    the catalog, so it opts into repair_coarse_scan (round 10): a
    >=2000-doc corpus arriving as ONE row group must plan a
    round-robin repartition (else the whole profile serializes onto
    one core — measured 4.4 s vs 0.9 s at sf0.1), carrying ONLY the
    pruned columns. Values are unchanged by partitioning: every column
    is a per-row projection."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from travelpulse_spark_stream_tourism_analytics_spark.plans import (
        text_queries,
    )

    d = tmp_path / "fix"
    d.mkdir()
    n = 2500
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(n)),
                "source": ["s"] * n,
                "lang": ["en"] * n,
                "n_chars": [11] * n,
                "text": ["hello world"] * n,
            }
        ),
        str(d / "documents.parquet"),
    )
    df = text_queries.docs_text_profile(spark, str(d))
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "RoundRobinPartitioning" in plan, plan[:1500]
    # still one scan, no joins, no hash exchange (tree section only —
    # the formatted details repeat each node's header)
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree
    assert "hashpartitioning" not in plan


def test_remove_dup_spans_plan_shape(spark):
    """The exact-substring removal must never go pairwise: occurrences
    meet the span table on the 16-byte window hash (equi-join), the
    removal list folds back with ONE id-keyed aggregation, and no
    cartesian/nested-loop appears anywhere — the plan that survives a
    boilerplate-heavy 100 TB crawl (the span side degrades to
    sort-merge gracefully when it outgrows broadcast)."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators.dedup import (
        remove_dup_spans,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import (
        load_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    df = remove_dup_spans(docs, "text", "doc_id")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "text_hash" in plan  # the equi-join key reached the plan
    # exactly one occurrence-side explode feeds the join (posexplode
    # of the positional windows) plus the detector's own explode
    assert plan.count("Generate") >= 2


def test_build_arms_reports_every_failed_arm_and_inherits_properties(spark):
    """``build_arms`` joins every arm, raises ONE error naming each
    failed arm (chained from the first), and runs arms on
    InheritableThreads: an arm sees the caller's job description."""
    from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import (
        build_arms,
    )

    def failing(msg):
        def arm():
            raise ValueError(msg)

        return arm

    sc = spark.sparkContext
    with pytest.raises(RuntimeError) as info:
        build_arms(
            "probe",
            {"bad_a": failing("a"), "good": lambda: 1, "bad_b": failing("b")},
        )
    msg = str(info.value)
    assert msg.startswith("probe: arm build failed: ")
    assert "bad_a" in msg and "bad_b" in msg and "good" not in msg
    assert isinstance(info.value.__cause__, ValueError)
    assert str(info.value.__cause__) == "a"

    sc.setJobDescription("build-arms probe")
    try:
        built = build_arms(
            "probe",
            {"desc": lambda: sc.getLocalProperty("spark.job.description")},
        )
    finally:
        sc.setJobDescription(None)
    assert built == {"desc": "build-arms probe"}
