"""Pin _spread_heavy_scan's firing condition: repartition ONLY an
under-split scan carrying more than the byte floor per partition —
no-op on small files (measured loss at sf0.1) and whenever the scan
already feeds the cores (any real-scale layout)."""

from __future__ import annotations

import os

from etl_marketeye_airflow_spark._registry_base import _spread_heavy_scan


def _write_docs(spark, path, n):
    spark.range(n).selectExpr(
        "id AS doc_id", "repeat('lorem ipsum dolor sit amet ', 8) AS text"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_noop_below_byte_floor(tmp_path, spark):
    p = str(tmp_path / "sf" / "documents.parquet")
    _write_docs(spark, p, 50)
    df = spark.read.parquet(p)
    out = _spread_heavy_scan(df, str(tmp_path / "sf"), "documents")
    # tiny single file: condition must NOT fire (bytes/partition << floor)
    assert out.rdd.getNumPartitions() == df.rdd.getNumPartitions()
    assert out is df


def test_fires_on_undersplit_heavy_scan(tmp_path, spark, monkeypatch):
    p = str(tmp_path / "sf" / "documents.parquet")
    _write_docs(spark, p, 2000)
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MIN_MB", "0")
    df = spark.read.parquet(p)
    n_before = df.rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    out = _spread_heavy_scan(df, str(tmp_path / "sf"), "documents")
    if n_before < par:
        assert out.rdd.getNumPartitions() == par
        # row set unchanged by the round-robin repartition
        assert out.count() == df.count()
    else:  # already well-split (e.g. 1-2 core test session): no-op
        assert out is df


def test_noop_when_scan_already_feeds_cores(spark, tmp_path):
    # in-memory frame with >= cores partitions: returns df untouched
    par = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(par)
    out = _spread_heavy_scan(df, str(tmp_path), "missing_table")
    assert out is df


def test_missing_file_is_noop(spark, tmp_path):
    df = spark.range(10).coalesce(1)
    out = _spread_heavy_scan(df, str(tmp_path), "documents")
    assert out is df


def test_malformed_min_mb_falls_back_to_default(tmp_path, spark, monkeypatch):
    """A SPARK_GRAFT_SPREAD_MIN_MB that does not parse falls back to the
    32 MB default instead of raising inside every pair query."""
    p = str(tmp_path / "sf" / "documents.parquet")
    _write_docs(spark, p, 50)
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MIN_MB", "32MB")
    df = spark.read.parquet(p).coalesce(1)
    # tiny file under the default floor: a no-op, as without the override
    assert _spread_heavy_scan(df, str(tmp_path / "sf"), "documents") is df
