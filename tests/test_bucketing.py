"""Bucketed-table co-located join: the 100 TB shuffle-elimination story.

A repeated big-big equi-join (fact x fact on the same key) shuffles both
sides EVERY run unless the tables are bucketed on the join key: bucketed
scans satisfy the join's required distribution directly, so the sort-
merge join runs with ZERO Exchange nodes.  This file proves that works
end-to-end in this engine (write bucketed, reload, join, assert the
plan) — the pattern SCALE.md prescribes for the orders-lineitem join
family at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.conf_scope import scoped_conf
from etl_marketeye_airflow_spark.plans import executed_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture
def no_broadcast(spark):
    """Force the SMJ path: broadcast would hide the Exchange question."""
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        yield


def test_bucketed_join_runs_with_zero_exchanges(spark, no_broadcast):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    from etl_marketeye_airflow_spark.sinks import read_bucketed, write_bucketed

    try:
        for df, name, key in [(li, "t_li_bucketed", "l_orderkey"),
                              (o, "t_o_bucketed", "o_orderkey")]:
            write_bucketed(df, name, key, n_buckets=8)

        j = read_bucketed(spark, "t_li_bucketed").join(
            read_bucketed(spark, "t_o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = executed_plan(j.groupBy("o_orderkey").agg(F.sum("l_quantity")))
        smj = plan[plan.index("SortMergeJoin"):]
        # bucketed scans satisfy the join distribution: no shuffle on
        # either side, and (sortBy) no per-partition re-sort of the scan
        assert "Exchange" not in smj
        assert "SelectedBucketsCount" in plan

        # equivalence with the plain (shuffling) join
        plain = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        assert j.count() == plain.count()
        plain_plan = executed_plan(plain)
        assert "Exchange" in plain_plan  # the shuffle bucketing removes
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_bucket_pruning_on_point_lookup(spark):
    """Point filters on the bucket key scan only the matching bucket —
    the read-side half of the bucketing story.  autoBucketedScan must be
    held on: with no join/agg needing the distribution, the planner
    otherwise downgrades to a plain scan and skips pruning."""
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    no_auto = {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    try:
        with scoped_conf(spark, no_auto):
            (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
              .mode("overwrite").saveAsTable("t_o_pruned"))
            q = spark.table("t_o_pruned").filter(F.col("o_orderkey") == 7)
            plan = executed_plan(q)
            assert "SelectedBucketsCount: 1 out of 8" in plan
            assert q.count() <= 1
    finally:
        spark.sql("DROP TABLE IF EXISTS t_o_pruned")
