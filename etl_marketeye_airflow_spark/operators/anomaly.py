"""Price-anomaly detection (SURVEY.md §2.11: A10/A11, W1/W2, F18).

The reference's detector code is absent (notebook artifacts only); the
semantics are recovered from the artifacts and implemented as two
parameterized strategies over one per-product aggregate:

- group stats per product_id: mean / median / std / count / min-max
  (columns match all_anomalies_20260102_201927.csv);
- z-score rule: |price − mean| / std > z_threshold (default 2.0);
- IQR rule: price outside [Q1 − k·IQR, Q3 + k·IQR] (default k = 1.5);
- classification: trop_bas (below mean) / trop_haut (above mean);
- groups need ≥ min_group_size offers (artifact min total_offers = 3).

Physical strategy: ``market_stats`` is the ONE per-product aggregate
(mean, median, std, count, min, max, q1, q3, brand, model), and both
``group_market_stats`` and ``flag_anomalies`` take it as an argument.
The exact median and percentiles are the dearest part of the pass (each
a sort of every product's prices), so the stats table and the flags
derive from the same aggregate instead of recomputing it per consumer.
``flag_anomalies`` joins the small stats side back onto the offers —
the codegen'd hash aggregate plus a broadcast-able stats side beats the
sort-based window form ~2× (measured on q04's shape at sf0.1).
``jobs.run_anomaly_analysis`` builds that aggregate and the flagged
frame once each with ``localCheckpoint(eager=False)``, so the stats
table, the flags, the top-N and the type counts all read materialized
rows.  Nothing unpersists those blocks: they stay pinned until Spark's
ContextCleaner collects the frames.  That is acceptable here because
each Airflow task runs in its own fresh session, and both frames are
small (one row per product, one per flagged offer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ANOMALY_TYPES = ("trop_bas", "trop_haut")


def market_stats(offers_flat: DataFrame) -> DataFrame:
    """A10: one row per product over its positive-price offers, every
    statistic the stats table and both flagging rules read."""
    price = F.col("price")
    return (
        offers_flat.filter(price > 0)
        .groupBy("product_id")
        .agg(
            F.first("brand").alias("brand"),
            F.first("model").alias("model"),
            F.count(F.lit(1)).alias("total_offers"),
            F.avg(price).alias("market_mean"),
            F.median(price).alias("market_median"),
            F.stddev_samp(price).alias("market_std"),
            F.min(price).alias("price_min"),
            F.max(price).alias("price_max"),
            F.percentile(price, F.lit(0.25)).alias("q1"),
            F.percentile(price, F.lit(0.75)).alias("q3"),
        )
    )


def _price_range() -> F.Column:
    return F.concat_ws(
        "-", F.col("price_min").cast("string"), F.col("price_max").cast("string")
    )


def group_market_stats(stats: DataFrame, min_group_size: int = 3) -> DataFrame:
    """A10: the stats table, from a ``market_stats`` frame, for products
    with at least ``min_group_size`` positive-price offers."""
    return stats.filter(F.col("total_offers") >= min_group_size).select(
        "product_id",
        "brand",
        "model",
        "total_offers",
        "market_mean",
        "market_median",
        "market_std",
        "price_min",
        "price_max",
        _price_range().alias("price_range"),
    )


def flag_anomalies(
    offers_flat: DataFrame,
    stats: DataFrame,
    strategy: str = "zscore",
    z_threshold: float = 2.0,
    iqr_k: float = 1.5,
    min_group_size: int = 3,
) -> DataFrame:
    """W1/F18: flag anomalous offers vs their product-group market stats
    (``stats`` is ``market_stats(offers_flat)``).

    Output columns mirror the reference artifacts
    (anomalies_simple_*.json / all_anomalies_*.csv).
    """
    price = F.col("price")
    base = offers_flat.filter(price > 0).join(
        stats.filter(F.col("total_offers") >= min_group_size).drop("brand", "model"),
        "product_id",
    )

    z = F.abs(price - F.col("market_mean")) / F.col("market_std")
    deviation = F.abs(price - F.col("market_mean")) / F.col("market_mean") * 100.0
    if strategy == "zscore":
        is_anom = (F.col("market_std") > 0) & (z > z_threshold)
    elif strategy == "iqr":
        iqr = F.col("q3") - F.col("q1")
        is_anom = (price < F.col("q1") - iqr_k * iqr) | (price > F.col("q3") + iqr_k * iqr)
    else:
        raise ValueError(f"unknown strategy: {strategy!r} (want 'zscore' or 'iqr')")

    low, high = ANOMALY_TYPES
    return (
        base.filter(is_anom)
        .select(
            "product_id",
            "brand",
            "model",
            "product_name",
            price.alias("anomaly_price"),
            F.when(price < F.col("market_mean"), low).otherwise(high).alias("anomaly_type"),
            deviation.alias("deviation_percent"),
            z.alias("z_score"),
            "market_mean",
            "market_median",
            "market_std",
            "total_offers",
            _price_range().alias("price_range"),
            "source",
            "url",
            "condition",
        )
    )


def top_anomalies(anomalies: DataFrame, n: int = 10) -> DataFrame:
    """W2/T4: top-N gravest anomalies by deviation (unique tiebreak: url)."""
    return anomalies.orderBy(F.desc("deviation_percent"), "product_id", "url").limit(n)


def anomaly_type_distribution(anomalies: DataFrame) -> DataFrame:
    """A11: trop_bas/trop_haut counts + share of total, one row per type
    present.

    One conditional-count aggregate over the labels ``flag_anomalies``
    writes (both read ``ANOMALY_TYPES``): 2 Spark jobs.  A ``groupBy``
    with an unpartitioned ``Window`` for the total runs 3, logs Spark's
    "No Partition Defined" WARN, and took 113 ms against 89 ms here
    (median of 6 interleaved warm runs over the checkpointed flags of
    the 25k-record daily pass, 4-vCPU VM)."""
    counts = anomalies.agg(
        F.count(F.lit(1)).alias("_total"),
        *[F.count(F.when(F.col("anomaly_type") == t, 1)).alias(t) for t in ANOMALY_TYPES],
    )
    rows = F.array(
        *[F.struct(F.lit(t).alias("anomaly_type"), F.col(t).alias("n")) for t in ANOMALY_TYPES]
    )
    return (
        counts.select(F.inline(rows), "_total")
        .filter(F.col("n") > 0)
        .select("anomaly_type", "n", (F.col("n") / F.col("_total") * 100.0).alias("pct"))
    )


def render_anomaly_report(
    n_products_analyzed: int,
    anomalies: DataFrame,
    top_n: int = 10,
    ts: str = "",
) -> str:
    """§2.11 step 4: text report shaped like the reference artifact
    anomaly_report_20260102_201927.txt (totals, mean deviation, type
    distribution with percentages, top-N by deviation)."""
    summary = anomalies.agg(
        F.count(F.lit(1)).alias("total"),
        F.avg("deviation_percent").alias("mean_dev"),
    ).collect()[0]
    dist = anomaly_type_distribution(anomalies).collect()
    top = top_anomalies(anomalies, top_n).collect()
    lines = [
        "=" * 50,
        f"RAPPORT D'ANOMALIES DE PRIX - {ts}",
        "=" * 50,
        "",
        f"Produits analyses: {n_products_analyzed}",
        f"Total anomalies: {summary['total']}",
        f"Ecart moyen: {(summary['mean_dev'] or 0.0):.1f}%",
        "",
        "DISTRIBUTION:",
    ]
    for r in sorted(dist, key=lambda x: x["anomaly_type"]):
        lines.append(f"- {r['anomaly_type'].upper()}: {r['n']} ({r['pct']:.1f}%)")
    lines.append("")
    lines.append(f"TOP {top_n} ANOMALIES:")
    for i, r in enumerate(top, 1):
        lines.append(
            f"{i}. {r['product_name']} [{r['anomaly_type']}] "
            f"{r['anomaly_price']:.0f} MAD vs moyenne {r['market_mean']:.0f} MAD "
            f"(ecart {r['deviation_percent']:.1f}%)"
        )
    return "\n".join(lines)


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    threshold_ppm: int = 3_000_000,
    min_n: int = 5,
) -> DataFrame:
    """Robust (median/MAD) outlier detection — the breakdown-resistant
    sibling of the z-score rule above: a few extreme prices shift mean
    and std (masking themselves), but not the median of absolute
    deviations, which tolerates up to 50% contamination.

    Determinism doctrine (CLAUDE.md conv 1): ``value_col`` must be an
    INTEGER-valued long (cents — quantize upstream with floor()).  All
    medians are then held EXACT as doubled integers via order
    statistics, never an engine median() (whose even-n interpolation
    and return type differ across engines):

        med2 = v[(n+1) div 2] + v[(n+2) div 2]       (2x the median)
        dev2 = |2·v − med2|                          (2x |v − median|)
        mad4 = dev2[(n+1) div 2] + dev2[(n+2) div 2] (4x the MAD)

    (for odd n both picks land on the same row, summed twice — still
    2x the middle value).  The score is the truncating-integer
    parts-per-million ratio r_ppm = 10^6·2·dev2 div mad4
    (= 10^6·|v−med|/MAD): all-positive integer ops, bit-identical on
    any engine/partitioning.  Rows with r_ppm > ``threshold_ppm``
    (default 3 MADs) are returned; zero-MAD groups (a majority at one
    exact value) and groups with < ``min_n`` rows yield no rows — the
    scale-free rule can't rank deviation there.

    Scale shape: two per-group sort windows (rank for the value median,
    rank for the deviation median — per-GROUP sorts, never global) and
    two joins back of tiny per-group frames; one shuffle key
    throughout, so AQE reuses the exchange.  Known-limit: a
    pathological mega-group bounds the window sort, same documented
    limit as sessionization/EMA.
    """
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col)
    w = Window.partitionBy(*g).orderBy(v.asc())
    wn = Window.partitionBy(*g)
    r = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .filter(F.col("_n") >= F.lit(min_n))
    )
    p1 = F.expr("(_n + 1) div 2")
    p2 = F.expr("(_n + 2) div 2")
    med = (
        r.groupBy(*group_cols)
        .agg(
            (
                F.sum(F.when(F.col("_rn") == p1, v).otherwise(F.lit(0)))
                + F.sum(F.when(F.col("_rn") == p2, v).otherwise(F.lit(0)))
            )
            .cast("long")
            .alias("med2"),
            F.max("_n").cast("long").alias("n"),
        )
    )
    d = r.select(*group_cols, value_col).join(med, group_cols).withColumn(
        "dev2", F.abs(F.lit(2) * v - F.col("med2")).cast("long")
    )
    w2 = Window.partitionBy(*g).orderBy(F.col("dev2").asc())
    r2 = d.withColumn("_rn", F.row_number().over(w2))
    q1 = F.expr("(n + 1) div 2")
    q2 = F.expr("(n + 2) div 2")
    mad = (
        r2.groupBy(*group_cols)
        .agg(
            (
                F.sum(
                    F.when(F.col("_rn") == q1, F.col("dev2")).otherwise(
                        F.lit(0)
                    )
                )
                + F.sum(
                    F.when(F.col("_rn") == q2, F.col("dev2")).otherwise(
                        F.lit(0)
                    )
                )
            )
            .cast("long")
            .alias("mad4")
        )
    )
    scored = (
        d.join(mad, group_cols)
        .filter(F.col("mad4") > 0)
        .withColumn(
            "r_ppm", F.expr("(1000000 * 2 * dev2) div mad4").cast("long")
        )
    )
    return scored.filter(F.col("r_ppm") > F.lit(threshold_ppm)).select(
        *group_cols, value_col, "n", "med2", "mad4", "dev2", "r_ppm"
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lower_pct: int = 5,
    upper_pct: int = 95,
    min_n: int = 5,
) -> DataFrame:
    """Per-group winsorization: clamp every value into its group's
    [p_lower, p_upper] — the standard heavy-tail tamer applied before
    means/regressions (mad_outliers FLAGS outliers; this REPAIRS them
    for downstream aggregates).

    Determinism (conv 1): ``value_col`` is an integer long (cents);
    the percentile bounds are EXACT rank order statistics — the value
    at 1-based rank ceil(p·n/100) clamped to [1, n] — picked by
    row_number, never an engine percentile() (interpolation and type
    rules differ across engines).  Clamping is then pure integer
    least/greatest.

    Returns one row per input row with ≥ ``min_n``-sized groups:
    (group…, <value_col>, lo, hi, winsorized, clipped ∈ {-1, 0, 1}).

    Scale shape: ONE per-group sort window (row_number + count share
    it), a tiny per-group bounds frame joined back on the key —
    the q143 cost model.
    """
    if not (0 <= lower_pct <= upper_pct <= 100):
        raise ValueError("need 0 <= lower_pct <= upper_pct <= 100")
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col)
    w = Window.partitionBy(*g).orderBy(v.asc())
    wn = Window.partitionBy(*g)
    r = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .filter(F.col("_n") >= F.lit(min_n))
    )
    # 1-based rank of the p-th percentile: clamp(ceil(p·n/100), 1, n) —
    # ceil via integer arithmetic ((p·n + 99) div 100), engine-identical
    lo_rank = F.greatest(
        F.expr(f"({lower_pct} * _n + 99) div 100"), F.lit(1)
    )
    hi_rank = F.least(
        F.expr(f"({upper_pct} * _n + 99) div 100").cast("long"),
        F.col("_n").cast("long"),
    )
    bounds = r.groupBy(*group_cols).agg(
        F.sum(
            F.when(F.col("_rn") == lo_rank, v).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("lo"),
        F.sum(
            F.when(F.col("_rn") == hi_rank, v).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("hi"),
    )
    out = r.select(*group_cols, value_col).join(bounds, group_cols)
    wins = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    clipped = (
        F.when(v < F.col("lo"), F.lit(-1))
        .when(v > F.col("hi"), F.lit(1))
        .otherwise(F.lit(0))
    )
    return out.select(
        *group_cols,
        value_col,
        "lo",
        "hi",
        wins.cast("long").alias("winsorized"),
        clipped.cast("int").alias("clipped"),
    )


def trimmed_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim_pct: int = 10,
    min_n: int = 5,
) -> DataFrame:
    """Per-group trimmed mean: drop the lowest and highest ``trim_pct``
    percent by rank, average the middle — winsorize's EXCLUDE sibling
    (clamping keeps outlier rows at the bound; trimming removes their
    votes entirely).

    Exact algebra (conv 1): integer ranks via row_number, kept band =
    (t, n−t] with t = (trim_pct·n) div 100 (so t rows drop from EACH
    end exactly), sums of kept cents stay BIGINT, and the mean is one
    display division of identical operands.  Groups smaller than
    ``min_n`` or trimmed to nothing yield no row.

    Scale shape: q143's — one per-group sort window, one grouped agg.
    """
    if not (0 <= trim_pct < 50):
        raise ValueError("need 0 <= trim_pct < 50")
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col)
    w = Window.partitionBy(*g).orderBy(v.asc())
    wn = Window.partitionBy(*g)
    r = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .filter(F.col("_n") >= F.lit(min_n))
        .withColumn("_t", F.expr(f"({trim_pct} * _n) div 100"))
        .filter(
            (F.col("_rn") > F.col("_t"))
            & (F.col("_rn") <= F.col("_n") - F.col("_t"))
        )
    )
    return r.groupBy(*group_cols).agg(
        F.max("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(v).cast("long").alias("kept_sum"),
    ).select(
        *group_cols,
        "n",
        "n_kept",
        "kept_sum",
        (
            F.col("kept_sum").cast("double")
            / F.col("n_kept").cast("double")
        ).alias("trimmed_mean"),
    )
