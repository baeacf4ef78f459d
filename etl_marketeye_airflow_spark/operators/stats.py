"""Dataset statistics + report (A1-A5, T1-T2 in SURVEY.md §2.4/2.6).

Reference: dags/marketeye_etl_dag.py:743-792 (calculate_statistics),
plugins/marketeye_operators.py:290-327 (richer variant: brand/condition
distributions), :431-471 (text report).  Engine computes everything in
one pass over the flat offers DF where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dataset_statistics(offers_flat: DataFrame) -> DataFrame:
    """A1/A2: single-row global stats (total products/offers, price agg,
    sources) from ONE aggregate over the flat offers.

    Every merged product has at least one offer, so its products are
    the distinct offer product ids; ``total_offers`` is a sum of ones,
    NULL on empty input like the per-product offer-count sum it
    replaces.  The flat offers come from the merged frame, which is
    already hash-partitioned on product_id, so the distinct count adds
    no shuffle."""
    price = F.col("price")
    positive = F.when(price > 0, price)
    return offers_flat.agg(
        F.count_distinct("product_id").alias("total_products"),
        F.sum(F.lit(1)).alias("total_offers"),
        F.avg(positive).alias("avg_price"),
        F.min(positive).alias("min_price"),
        F.max(positive).alias("max_price"),
        F.array_sort(F.collect_set("source")).alias("sources"),
    )


def approx_market_stats(
    offers_flat: DataFrame,
    rsd: float = 0.05,
    quantile_accuracy: int = 10000,
) -> DataFrame:
    """APPROXIMATE engine extension (SURVEY §2.4 note — beyond reference
    parity; ``dataset_statistics`` stays the exact, oracle-backed truth).

    One-pass sketch aggregate over the flat offers:
    - HLL++ distinct counts (``approx_count_distinct``, relative error
      ``rsd``): at 100 TB an exact COUNT(DISTINCT) shuffles the full key
      space; the sketch is a few KB per partition merged map-side.
    - Price quantiles p25/p50/p75/p95 via ``percentile_approx``
      (Greenwald-Khanna variant): rank error ≤ 1/accuracy, vs an exact
      percentile's full sort.

    Sketch outputs are NOT cross-engine oracle-stable, so this is
    pytest-error-bound-gated only (tests/test_pipeline.py), never a
    registry/oracle query — and test_plans guards that no oracle-backed
    query ever picks up an approximate aggregate by accident."""
    priced = offers_flat.filter(F.col("price") > 0)
    return priced.agg(
        F.count(F.lit(1)).alias("n_offers"),
        F.approx_count_distinct("product_id", rsd).alias("approx_products"),
        F.approx_count_distinct("source", rsd).alias("approx_sources"),
        F.approx_count_distinct("price", rsd).alias("approx_price_points"),
        F.percentile_approx(
            "price", [0.25, 0.5, 0.75, 0.95], quantile_accuracy
        ).alias("price_quantiles"),
    )


def offers_per_source(offers_flat: DataFrame) -> DataFrame:
    """A3: offer counts per source."""
    return offers_flat.groupBy("source").agg(F.count(F.lit(1)).alias("n_offers"))


def brand_distribution(merged: DataFrame) -> DataFrame:
    """A4/T1: products per brand, sorted desc (deterministic tiebreak on brand)."""
    return (
        merged.groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_products"))
        .coalesce(1)  # bounded by the brand count: no range shuffle
        .sortWithinPartitions(F.desc("n_products"), "brand")
    )


def condition_distribution(offers_flat: DataFrame) -> DataFrame:
    """A5: offer counts per condition."""
    return offers_flat.groupBy("condition").agg(F.count(F.lit(1)).alias("n_offers"))


def multi_source_products(merged: DataFrame, min_sources: int = 2) -> DataFrame:
    """P8: products listed on more than one platform (offre_3.ipynb)."""
    return (
        merged.withColumn(
            "n_sources", F.size(F.array_distinct(F.col("offers.source")))
        )
        .filter(F.col("n_sources") >= min_sources)
        .select("product_id", "brand", "model", "product_name", "n_sources", "offers")
    )


def render_report(stats_row, brand_rows, ts: str) -> str:
    """Text report from collected stats (driver-side formatting only —
    mirrors dags/marketeye_etl_dag.py:802-817 + top-5 brands
    plugins/marketeye_operators.py:449)."""
    # degenerate runs (no positive-price offers) yield null price aggs —
    # the report must still render (reference prints 0, dags:810-812)
    avg_p = stats_row["avg_price"] or 0.0
    min_p = stats_row["min_price"] or 0.0
    max_p = stats_row["max_price"] or 0.0
    lines = [
        "=" * 43,
        f"RAPPORT ETL MARKETEYE - {ts}",
        "=" * 43,
        "",
        "RESUME:",
        f"- Produits uniques: {stats_row['total_products']}",
        f"- Offres totales: {stats_row['total_offers'] or 0}",
        f"- Prix moyen: {avg_p:.2f} MAD",
        f"- Prix min: {min_p:.2f} MAD",
        f"- Prix max: {max_p:.2f} MAD",
        "",
        f"SOURCES: {', '.join(stats_row['sources'])}",
        "",
        "TOP MARQUES:",
    ]
    for r in brand_rows[:5]:
        lines.append(f"- {r['brand']}: {r['n_products']} produits")
    lines.append("")
    lines.append("Pipeline execute avec succes!")
    return "\n".join(lines)


def exact_median_selection(
    df: DataFrame, value_col: str, bucket_width: int = 8192
) -> DataFrame:
    """EXACT global median of an integer column by two-pass selection —
    the distributed-selection technique that replaces a full global
    sort (the thing you cannot do to 100 TB) with (1) a tiny
    bucket-count aggregate and (2) a sort of ONLY the one or two
    buckets containing the median ranks (~N/n_buckets rows):

        pass 1: cnt per (value div bucket_width); cumulative over the
                bucket frame locates ranks r1=(N+1)div2, r2=(N+2)div2
        pass 2: rows of the target bucket(s) get a within-bucket
                row_number; the global rank is cum_before + local rank

    Returns ONE row (n_rows, med2, median) in the doubled-integer
    convention (q143): med2 = v(r1) + v(r2), median = med2/2 as the
    display double.  Pure integer algebra — the REGISTRY oracle
    computes the same median by direct order statistics, so the gate
    proves two-pass selection ≡ full sort.

    Scale shape: pass 1 is one map-side-combined agg to a
    value-range/bucket_width-sized frame (windowed on that FRAME, not
    on rows); pass 2 filters on a bucket predicate (parquet min/max
    prunable), sorts only the filtered sliver, and the target-rank
    frame is a ≤2-row broadcast — never a driver collect.

    Contract: values must be NON-NEGATIVE integers (cents) — `div`
    truncates toward zero, so a negative value's bucket would not be
    monotone in the value and rank arithmetic breaks; shift upstream
    if needed.
    """
    from pyspark.sql.window import Window

    if bucket_width < 1:
        raise ValueError("bucket_width must be >= 1")
    v = F.col(value_col)
    rows = df.select(v.alias("v")).withColumn(
        "bucket", F.expr(f"v div {bucket_width}")
    )
    counts = rows.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(wb).cast("long"))
    tot = cum.agg(F.max("cum").cast("long").alias("n_rows"))
    # posexplode tags the two ranks: for odd n they are EQUAL and must
    # both be picked (med2 = 2·middle), so they may not collapse
    ranks = tot.select(
        "n_rows",
        F.posexplode(
            F.array(
                F.expr("(n_rows + 1) div 2"), F.expr("(n_rows + 2) div 2")
            )
        ).alias("ridx", "rank"),
    )
    # the bucket holding each rank: smallest bucket with cum >= rank
    targets = (
        ranks.join(
            cum, F.col("cum") >= F.col("rank"), "inner"
        )
        .groupBy("n_rows", "ridx", "rank")
        .agg(
            F.min_by(
                F.struct("bucket", (F.col("cum") - F.col("cnt")).alias("cb")),
                F.col("bucket"),
            ).alias("t")
        )
        .select(
            "n_rows",
            "ridx",
            "rank",
            F.col("t.bucket").alias("bucket"),
            F.col("t.cb").alias("cum_before"),
        )
    )
    picked = (
        rows.join(F.broadcast(targets), "bucket")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("ridx").orderBy(F.col("v").asc())
            ),
        )
        .filter(F.col("_rn") == F.col("rank") - F.col("cum_before"))
    )
    return picked.groupBy().agg(
        F.max("n_rows").cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("med2"),
    ).select(
        "n_rows",
        "med2",
        (F.col("med2").cast("double") / F.lit(2.0)).alias("median"),
    )
