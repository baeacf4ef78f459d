"""Physical-plan property tests: the scale promises in docstrings are
asserted here so they can't silently regress (SURVEY §4: pushdown /
broadcast / codegen are the engine's whole performance story)."""

from etl_marketeye_airflow_spark import queries as reg
from etl_marketeye_airflow_spark.conf_scope import scoped_conf
from etl_marketeye_airflow_spark.plans import (
    executed_plan,
    has_broadcast_join,
    has_python_eval,
    pushed_filters,
)

SF = "/root/testdata/sf0.001"


def test_filters_reach_parquet_scan(spark):
    df = reg.QUERIES["q05_filter_project"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_returnflag" in pushed
    assert "l_discount" in pushed
    assert "l_shipdate" in pushed
    # column pruning: scan must not read unused columns like l_comment-ish ones
    assert "l_tax" not in executed_plan(df).split("ReadSchema")[1][:400]


def test_dimension_joins_broadcast(spark):
    assert has_broadcast_join(reg.QUERIES["q01_brand_price_summary"](spark, SF))
    assert has_broadcast_join(reg.QUERIES["q07_join_inner_agg"](spark, SF))
    assert has_broadcast_join(reg.QUERIES["q11_enrichment_lookup"](spark, SF))


# The ONLY sanctioned row-at-a-time Python in the registry: explicit
# Arrow/grouped-pandas/UDTF surface demos (each documents the set-based
# equivalent).  Anything else that grows a BatchEvalPython node is a
# hot-path regression and fails the sweep below.
ROW_PYTHON_ALLOWLIST = {
    "q30_multimodal_decode",
    "q32_enrichment_http",
    # q41 left this list in r12: its grouped-pandas body was replaced by
    # the built-in window form (guide §4) — reintroducing Python there
    # should fail the sweep like anywhere else.
    "q66_multimodal_features",
    "q68_udtf_token_offsets",
}
# Streaming queries drain a real stream when invoked (their returned
# DataFrame is a memory-sink scan, so the plan check would be vacuous
# anyway); stateful ones are applyInPandasWithState by design.
STREAMING_QUERIES = {
    "q31_streaming_window",
    "q34_stateful_running_totals",
    "q50_streaming_dedup",
    "q63_stream_stream_join",
    "q65_session_windows",
    "q117_streaming_cdc_apply",
}


def test_no_python_in_relational_paths(spark):
    """Registry-wide sweep: no query outside the explicit allowlist may
    drop to row-at-a-time Python (VERDICT r2 item 8)."""
    for name, fn in reg.QUERIES.items():
        if name in ROW_PYTHON_ALLOWLIST or name in STREAMING_QUERIES:
            continue
        assert not has_python_eval(fn(spark, SF)), name


def test_no_approx_aggregates_in_oracle_backed_queries(spark):
    """Sketch aggregates (HLL++ approx_count_distinct, percentile_approx)
    are not cross-engine hash-stable; an oracle-backed registry query
    that picked one up would flake the DuckDB gate.  The approximate
    operators (stats.approx_market_stats, profile.approx_numeric_
    quantiles) are error-bound-pytest-gated ONLY — this sweep keeps the
    exact forms the oracle-backed ones."""
    for name in reg.ORACLES:
        if name in STREAMING_QUERIES:
            continue  # invoking drains a real stream; memory-sink scan plan
        df = reg.QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().analyzed().toString() + executed_plan(df)
        for marker in ("approx_count_distinct", "percentile_approx", "HyperLogLog"):
            assert marker not in plan, (name, marker)


def test_adapters_stay_codegen(spark):
    from etl_marketeye_airflow_spark.jobs import run_etl

    res = run_etl(spark, "tests/fixtures", persist=False)
    plan = executed_plan(res.merged)
    assert "BatchEvalPython" not in plan
    # expression staging must keep the optimized plan bounded (see
    # adapters/avito.py) — a 30x blowup regression would trip this
    assert len(plan) < 500_000
    res_opt = len(res.merged._jdf.queryExecution().optimizedPlan().toString())
    assert res_opt < 500_000


def _merged_plans(spark):
    from etl_marketeye_airflow_spark.jobs import run_etl

    merged = run_etl(spark, "tests/fixtures", persist=False).merged
    return merged._jdf.queryExecution().optimizedPlan().toString(), executed_plan(merged)


def test_merge_adds_no_size_filter_above_the_adapters(spark):
    """An inner explode of the offers would infer `size(offers) > 0`,
    which the optimizer pushes through each adapter's projection onto
    its scan, re-running every offer expression per row (conv 2b)."""
    import re

    optimized, _ = _merged_plans(spark)
    filters = [line for line in optimized.splitlines()
               if re.match(r"^[\s:+\-|]*Filter ", line) and "size(" in line]
    assert not filters, filters


def test_merge_runs_one_exchange(spark):
    """The dedup and the product aggregate share one hash repartition on
    product_id."""
    import re

    _, executed = _merged_plans(spark)
    assert len(re.findall(r"\bExchange ", executed)) == 1, executed


def test_etl_build_round_trips_stay_bounded(spark):
    """A run_etl build makes ~4.9k py4j round trips with per-Column
    call-site capture off (9.4k with it on).  Only the building thread's
    calls count: py4j's finalizer thread sends proxy deletions whenever
    Python's collector frees them."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from etl_marketeye_airflow_spark.jobs import run_etl

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    builder, calls = threading.get_ident(), 0
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == builder
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        run_etl(spark, "tests/fixtures", persist=False)
    finally:
        ClientServerConnection.send_command = send
    assert calls < 7_500, calls


def test_topk_uses_partitioned_window_not_global_sort(spark):
    plan = executed_plan(reg.QUERIES["q15_topk_per_group"](spark, SF))
    assert "Window" in plan


def test_fuzzy_pairs_is_band_blocked_equi_join(spark):
    """q44 must execute as a hash/sort-merge equi-join on the length
    band — a nested-loop over all name pairs is the O(n²) scale-killer
    the banding exists to avoid."""
    plan = executed_plan(reg.QUERIES["q44_fuzzy_name_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # still actually a join, not something degenerate


def test_minhash_base_is_cached(spark):
    """q22/q47's signature+set base must come from the persisted
    InMemoryRelation — losing the persist silently re-runs the dominant
    shingle+kernel pipeline for each of its 3 consumers.  Inspected on
    the lazy (eager=False) plan: the default eager path materializes and
    unpersists, leaving only an RDD scan to look at."""
    from etl_marketeye_airflow_spark.operators.dedup import minhash_lsh_pairs
    from etl_marketeye_airflow_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    try:
        plan = executed_plan(minhash_lsh_pairs(docs, threshold=0.5, eager=False))
        assert "InMemoryTableScan" in plan
    finally:
        spark.catalog.clearCache()


def test_embedding_near_dup_join_is_equi(spark):
    """Multi-table LSH candidate generation must be a hash/sort-merge
    bucket join — never a nested loop over vector pairs."""
    plan = executed_plan(reg.QUERIES["q26_embedding_near_dup"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontamination_broadcasts_benchmark_grams(spark):
    """q55's inverted-index join must broadcast the (small) benchmark
    gram-hash side and never nested-loop over document pairs."""
    df = reg.QUERIES["q55_decontamination"](spark, SF)
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q3_top10_never_global_sorts(spark):
    """q59's orderBy+limit must compile to TakeOrderedAndProject
    (per-partition top-k + driver merge), and the date/segment filters
    must reach the parquet scans."""
    df = reg.QUERIES["q59_tpch_q3_shipping_priority"](spark, SF)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed
    assert "c_mktsegment" in pushed


def test_tpch_q5_broadcasts_dims(spark):
    df = reg.QUERIES["q60_tpch_q5_local_supplier_volume"](spark, SF)
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q8_broadcasts_dims_no_cartesian(spark):
    df = reg.QUERIES["q69_tpch_q8_market_share"](spark, SF)
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = " ".join(pushed_filters(df))
    assert "p_type" in pushed and "o_orderdate" in pushed


def test_tpch_q18_aggregates_before_join_and_takes_ordered(spark):
    """q70's lineitem must collapse in a hash agg BEFORE any join (the
    big-order filter shrinks the fact side first), and the top-100 must
    be TakeOrderedAndProject, never a global sort."""
    plan = executed_plan(reg.QUERIES["q70_tpch_q18_large_volume_customer"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    first_join = min(i for i in [plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"), plan.find("ShuffledHashJoin")] if i >= 0)
    # plans print top-down: the aggregate feeding the join appears below it
    assert "HashAggregate" in plan[first_join:]


def test_vocab_coverage_has_no_global_window(spark):
    """q58's prefix sums must run as per-partition windows over the
    range-partitioned vocab (partition spec = _pid) with the base cached
    once — a partition-less window over the vocab is the 100 TB
    scale-killer the two-pass design exists to avoid."""
    import re

    from etl_marketeye_airflow_spark.operators.corpus import vocab_coverage
    from etl_marketeye_airflow_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    df = vocab_coverage(docs, eager=False)
    try:
        plan = executed_plan(df)
        specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
        assert specs and set(specs) == {"_pid"}, specs
        # the range-partitioned base must come from the single persisted
        # materialization (pids are frozen there — see corpus.py)
        assert "InMemoryTableScan" in plan
    finally:
        spark.catalog.clearCache()


def test_heavy_hitters_aggregates_before_window(spark):
    """q57's rank window must consume the aggregated vocab table: the
    plan's Window sorts AFTER a HashAggregate, never the raw token
    stream, and no global (partition-less) window appears."""
    plan = executed_plan(reg.QUERIES["q57_heavy_hitters"](spark, SF))
    # plans print top-down: upstream operators appear LATER in the text,
    # so the aggregate must come after (= below) the window
    assert plan.index("HashAggregate") > plan.index("Window")
    # partial per-partition top-k before the shuffle (WindowGroupLimit)
    assert "WindowGroupLimit" in plan


def test_aqe_splits_skewed_join(spark):
    """SCALE.md's skew story has two layers: explicit salting (q33) and
    AQE's runtime skew-join split.  Pin the second: a join with one hot
    key must execute with skew=true on the sort-merge join once AQE's
    thresholds see the imbalance — this is the no-code-change fallback
    for skew the salting operator doesn't cover."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.shuffle.partitions": "8",
    }
    with scoped_conf(spark, confs):
        left = spark.range(200_000).select(
            F.when(F.col("id") < 150_000, F.lit(0))
            .otherwise(F.col("id") % 999 + 1)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("payload"),
        )
        right = spark.range(1_000).select(F.col("id").alias("k"), F.lit("d").alias("d"))
        out = left.join(right, "k")
        # execute THIS DataFrame's plan (count() would run a different
        # query execution and leave out's adaptive plan unfinalized)
        assert len(out.collect()) == 200_000  # hot key 0 carries 150k rows
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]


def test_tpch_subquery_shapes_decorrelate_cleanly(spark):
    """q74 (EXISTS/NOT EXISTS), q75 (NOT IN), q76 (correlated scalar avg)
    must decorrelate to hash joins + aggregates — never a nested loop or
    cartesian over the fact table; q75's excluded-supplier keyset must
    broadcast into a left-anti."""
    for name in (
        "q74_tpch_q21_sole_late_supplier",
        "q75_tpch_q16_supplier_count",
        "q76_tpch_q17_small_quantity_revenue",
    ):
        plan = executed_plan(reg.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    q75 = executed_plan(reg.QUERIES["q75_tpch_q16_supplier_count"](spark, SF))
    assert "LeftAnti" in q75 and "BroadcastHashJoin" in q75


# Unpartitioned ordered windows over CONFIG-BOUNDED frames: each entry
# names the bound that keeps the single-partition sort trivial at any
# data volume.  Anything else in the registry must rank via the two-pass
# range-partitioned pattern (operators/ranking.py) — q188/q189 shipped
# with global windows over the per-customer frame in r6 and this guard
# exists so that class can't recur.
_BOUNDED_WINDOW_ALLOWLIST = {
    "q124_kmv_sketch": "window after orderBy().limit(k): <= k=256 rows",
    "q127_quantile_estimate": "cumsum over dyadic sketch buckets "
    "(<= levels x log(range) rows, config-bounded)",
    "q132_rrf_hybrid_fusion": "both rank windows follow top-k(20) cuts",
    "q175_exact_median_selection": "cumsum over the fixed bucket "
    "histogram (2^bits rows), the selection pattern's bounded frame",
    "q176_key_skew_report": "",  # fixed r7: two-pass rank — must be clean
    "q177_quota_sample": "largest-remainder seats over the strata frame "
    "(categorical cardinality, not rows)",
    "q54_length_bucket_packing": "cumsum over fixed length buckets",
}


# Keys that registry queries scope for themselves.  The hygiene gate
# unsets them before each query: a restore that sets an absent key to its
# default only shows when the key was absent, and once one query leaks a
# key every later query would find it set.
_SCOPED_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def test_registry_has_no_unbounded_global_windows(spark):
    """Registry-wide guard (r6 verdict item 4): no query plan may
    contain an unpartitioned ORDERED window — Spark's 'Moving all data
    to a single partition' — unless its frame is config-bounded and
    allowlisted above.  The same loop is the conf-hygiene gate: building
    a query's plan must leave the session conf exactly as it found it
    (no key added, changed or removed; conv 5).  It runs in a plain
    session with ``_SCOPED_KEYS`` unset, as a bare-builder session has them.
    ~2 min: it builds every registry plan."""
    from etl_marketeye_airflow_spark.plans.explain import (
        unpartitioned_windows,
    )

    plain = spark.newSession()
    offenders, leaks = {}, {}
    for name in sorted(reg.QUERIES):
        for k in _SCOPED_KEYS:
            plain.conf.unset(k)
        before = plain.conf.getAll
        df = reg.QUERIES[name](plain, SF)
        after = plain.conf.getAll
        if before != after:
            leaks[name] = {k: (before.get(k), after.get(k))
                           for k in before.keys() | after.keys() if before.get(k) != after.get(k)}
        uw = unpartitioned_windows(executed_plan(df))
        spark.catalog.clearCache()
        if uw and not _BOUNDED_WINDOW_ALLOWLIST.get(name):
            offenders[name] = uw[0][:160]
    assert not offenders, offenders
    assert not leaks, leaks
