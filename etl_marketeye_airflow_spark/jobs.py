"""Composed end-to-end pipelines (SURVEY.md §3.1 lifecycle, Spark-first).

The reference's five Airflow tasks materialize JSON between every stage;
here the whole ETL is ONE lazy plan: read 3 sources → project → union →
merge-groupBy → checkpoint → fan out to stats/report/sinks.  What is
computed once, and why:

- the merged DF is computed once and reused by every consumer (the
  reference re-reads the file per sink — SURVEY §4 'redundant
  recomputation').  It is a ``localCheckpoint(eager=False)``, not a
  ``persist()``: the daily pass's eleven actions on it (summaries, anomaly
  frames, sinks) then read plain rows instead of decoding a columnar
  cache of nested arrays, structs and maps.  Under AQE the call runs
  the merge's shuffle map stage at once, so that work moves from the
  first summary into ``run_etl``.  The trade: the checkpoint truncates
  lineage, so a lost executor fails the task instead of recomputing
  the partition, and the DAG's ``retries: 1`` re-runs the task in a
  fresh session (as for the anomaly checkpoints below);
- each summary is one aggregate: ``dataset_statistics`` reads the flat
  offers once, and the brand table is sorted in one partition (it is
  bounded by the brand count);
- the anomaly fan-out computes the per-product market aggregate (exact
  median and percentiles, the dearest part of the pass) once and the
  flagged offers once, each ``localCheckpoint(eager=False)``: the stats
  table, the flags, the top-N and the type counts read those rows
  instead of re-running the aggregate per consumer.  Nothing unpersists
  those blocks; they stay until Spark's ContextCleaner collects the
  frames, which is acceptable because each Airflow task runs in its own
  fresh session and both frames are small.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .adapters import transform_avito, transform_electroplanet, transform_jumia
from .operators import anomaly as anomaly_ops
from .operators import stats as stats_ops
from .operators.merge import flatten_offers, merge_products, union_sources
from .schemas import AVITO_RAW_SCHEMA, ELECTROPLANET_RAW_SCHEMA, JUMIA_RAW_SCHEMA
from .sources.json_source import read_source


@dataclass
class EtlResult:
    merged: DataFrame
    offers_flat: DataFrame
    statistics: DataFrame
    brand_distribution: DataFrame
    source_counts: DataFrame
    condition_distribution: DataFrame
    extras: dict = field(default_factory=dict)


def extract_all(spark: SparkSession, raw_dir: str) -> DataFrame:
    """3 extracts + union, all lazy — Catalyst sees one plan."""
    avito = transform_avito(read_source(spark, raw_dir, "avito", AVITO_RAW_SCHEMA))
    jumia = transform_jumia(read_source(spark, raw_dir, "jumia", JUMIA_RAW_SCHEMA))
    electro = transform_electroplanet(
        read_source(spark, raw_dir, "electroplanet", ELECTROPLANET_RAW_SCHEMA)
    )
    return union_sources(avito, jumia, electro)


def run_etl(spark: SparkSession, raw_dir: str, persist: bool = True) -> EtlResult:
    merged = merge_products(extract_all(spark, raw_dir))
    if persist:
        merged = merged.localCheckpoint(eager=False)
    offers = flatten_offers(merged)
    return EtlResult(
        merged=merged,
        offers_flat=offers,
        statistics=stats_ops.dataset_statistics(offers),
        brand_distribution=stats_ops.brand_distribution(merged),
        source_counts=stats_ops.offers_per_source(offers),
        condition_distribution=stats_ops.condition_distribution(offers),
    )


def run_anomaly_analysis(
    offers_flat: DataFrame, strategy: str = "zscore", top_n: int = 10, **kwargs
) -> dict[str, DataFrame]:
    stats = anomaly_ops.market_stats(offers_flat).localCheckpoint(eager=False)
    anomalies = anomaly_ops.flag_anomalies(
        offers_flat, stats, strategy=strategy, **kwargs
    ).localCheckpoint(eager=False)
    return {
        "group_stats": anomaly_ops.group_market_stats(stats),
        "anomalies": anomalies,
        "top_anomalies": anomaly_ops.top_anomalies(anomalies, top_n),
        "type_distribution": anomaly_ops.anomaly_type_distribution(anomalies),
    }
