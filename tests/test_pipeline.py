"""End-to-end pipeline tests over the marketeye-shaped fixtures (FIXTURES.md).

Covers SURVEY §2: S1-S3 tolerant ingestion, P1-P3 adapters, J1/A6-A9 merge,
A1-A5 stats, A10/A11/W1/W2/F18 anomaly strategies.
"""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.jobs import run_anomaly_analysis, run_etl
from etl_marketeye_airflow_spark.operators.anomaly import flag_anomalies, market_stats
from etl_marketeye_airflow_spark.operators.stats import multi_source_products

FIXTURES = str(Path(__file__).parent / "fixtures")


@pytest.fixture(scope="module")
def etl(spark):
    res = run_etl(spark, FIXTURES)
    res.merged.count()  # materialize the checkpoint
    yield res
    res.merged.unpersist()


def test_merge_totals(etl):
    stats = etl.statistics.collect()[0]
    assert stats.total_products == 6
    assert stats.total_offers == 8
    assert stats.sources == ["Avito", "Electroplanet", "Jumia"]
    assert stats.min_price == 199.0
    assert stats.max_price == 13875.0  # fixed thousands parsing, not 13.875


def test_cross_source_merge(etl):
    row = etl.merged.filter(F.col("product_id") == "samsung_s24ultra").collect()
    assert len(row) == 1
    p = row[0]
    # intra-Avito duplicate (same source/url/price) removed → 3 offers
    assert [o.source for o in p.offers] == ["Avito", "Jumia", "Electroplanet"]
    assert p.metadata.sources == ["Avito", "Electroplanet", "Jumia"]
    # first-arrival (Avito) supplies brand/model
    assert p.brand == "Samsung" and p.model == "S24 ULTRA"
    # longest name wins (Electroplanet's 35-char name)
    assert p.product_name == "SAMSUNG GALAXY S24 ULTRA 512GB NOIR"
    # spec fusion: Avito first wins storage/ram; Jumia adds screen; EP adds new keys
    specs = p.specifications
    assert specs["storage"] == "512GB"  # Avito's, not Jumia's "512 Go"
    assert specs["ram"] == "12GB"
    assert specs["screen_size"] == '6.8"'  # from Jumia description regex
    assert specs["gorilla_glass"] == "Oui"  # EP French-key translation
    assert specs["condition"] == "NEUF"


def test_offer_values(etl):
    offers = {
        (r.product_id, r.source): r for r in etl.offers_flat.collect()
    }
    golden = offers[("samsung_s24ultra", "Avito")]
    assert golden.price == 7800.0
    assert golden.condition == "new"
    assert golden.city == "Casablanca"
    jumia = offers[("samsung_s24ultra", "Jumia")]
    assert jumia.price == 13875.0
    assert jumia.rating == 4.5
    assert jumia.original_price == 15000.0
    ep = offers[("samsung_s24ultra", "Electroplanet")]
    assert ep.price == 12499.0
    assert ep.rating == 4.2
    assert ep.reviews_count == "5"
    assert ep.scraped_at == "2025-12-16T11:05:00Z"  # detailed wins
    iphone = [v for (pid, _), v in offers.items() if pid.startswith("apple_")]
    assert len(iphone) == 1
    assert iphone[0].price == 4500.0  # European format
    assert iphone[0].condition == "like new"
    assert iphone[0].url == "https://www.avito.ma/vi/111.htm"  # rebuilt from ad_id


def test_distributions(etl):
    brands = {r.brand: r.n_products for r in etl.brand_distribution.collect()}
    assert brands == {"Samsung": 2, "Apple": 1, "Xiaomi": 1, "Unknown": 1, "LG": 1}
    src = {r.source: r.n_offers for r in etl.source_counts.collect()}
    assert src == {"Avito": 3, "Jumia": 3, "Electroplanet": 2}
    cond = {r.condition: r.n_offers for r in etl.condition_distribution.collect()}
    assert cond == {"new": 6, "like new": 1, "good": 1}


def test_multi_source_filter(etl):
    multi = multi_source_products(etl.merged).collect()
    assert [r.product_id for r in multi] == ["samsung_s24ultra"]
    assert multi[0].n_sources == 3


def test_determinism_rerun(spark, etl):
    """Same input → identical merged output (reference is arrival-order-
    dependent; the engine must not be)."""
    again = run_etl(spark, FIXTURES, persist=False)
    a = {r.product_id: r for r in etl.merged.collect()}
    b = {r.product_id: r for r in again.merged.collect()}
    assert a.keys() == b.keys()
    for pid in a:
        assert [o.url for o in a[pid].offers] == [o.url for o in b[pid].offers]
        assert a[pid].specifications == b[pid].specifications


def test_dedup_keeps_earliest_copy_whatever_the_order(spark):
    """Two copies of one (product_id, source, url, price) offer that differ
    elsewhere (a repost: later scraped_at, longer title, other specs)
    merge to the earliest copy's row under either union order and any
    input partitioning — not to whichever copy the shuffle saw first."""
    from etl_marketeye_airflow_spark.operators.merge import merge_products
    from etl_marketeye_airflow_spark.schemas import MASTER_SCHEMA

    def doc(scraped_at, name, specs):
        offer = ("Avito", 9000.0, None, "MAD", "new", "private", "Sami",
                 ("Rabat", "Agdal"), None, None, "https://avito.ma/x", scraped_at)
        return ("Apple iPhone15", "Apple", "iPhone 15", name, "phone", specs, [offer],
                (["Avito"], None, None))

    first = spark.createDataFrame(
        [doc("2026-01-01T10:00:00", "iPhone 15", {"storage": "128GB"})], MASTER_SCHEMA)
    repost = spark.createDataFrame(
        [doc("2026-01-02T09:00:00", "iPhone 15 128GB comme neuf",
             {"storage": "128 Go", "color": "noir"})], MASTER_SCHEMA)

    def merged_row(df):
        rows = merge_products(df).collect()
        assert len(rows) == 1
        out = rows[0].asDict(recursive=True)
        out["metadata"].pop("created_at"), out["metadata"].pop("last_updated")
        return out

    variants = []
    for a, b in ((first, repost), (repost, first)):
        u = a.unionByName(b)
        variants += [merged_row(u), merged_row(u.coalesce(1)), merged_row(u.repartition(3))]
    want = variants[0]
    assert want["product_name"] == "iPhone 15"
    assert want["specifications"] == {"storage": "128GB"}
    assert [o["scraped_at"] for o in want["offers"]] == ["2026-01-01T10:00:00"]
    assert all(v == want for v in variants), variants


def _jobs_in_group(spark, group, action):
    """Spark jobs one action runs, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_summaries_are_one_aggregate_each(spark, etl):
    """dataset_statistics is one aggregate over the flat offers (a map
    stage and a result stage), and the anomaly type counts one
    conditional-count aggregate over the checkpointed flags."""
    assert _jobs_in_group(spark, "t-statistics", etl.statistics.collect) <= 2
    res = run_anomaly_analysis(etl.offers_flat, strategy="zscore", z_threshold=0.5)
    assert _jobs_in_group(spark, "t-type-dist", res["type_distribution"].collect) <= 2


def test_anomaly_consumers_read_the_checkpoint(etl):
    """top_anomalies and type_distribution read the flagged frame's
    checkpoint: neither plan re-runs the exact median or percentiles."""
    import re

    res = run_anomaly_analysis(etl.offers_flat)
    for key in ("top_anomalies", "type_distribution"):
        plan = res[key]._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"(?<!\w)(median|percentile)\(", plan), (key, plan)


def test_dataset_statistics_on_empty_input(etl):
    from etl_marketeye_airflow_spark.operators.stats import dataset_statistics

    row = dataset_statistics(etl.offers_flat.filter(F.lit(False))).collect()[0]
    assert row.total_products == 0
    assert row.total_offers is None
    assert row.avg_price is None and row.sources == []


# --- anomaly strategies (hand-computed expectations) ------------------------


@pytest.fixture(scope="module")
def offers_anomaly(spark):
    rows = [("p1", "B", "M", "name", "S", float(p), f"u{i}", "new")
            for i, p in enumerate([100, 110, 90, 105, 95, 2000])]
    rows += [("p2", "B", "M", "name", "S", 50.0, "v1", "new"),
             ("p2", "B", "M", "name", "S", 55.0, "v2", "new")]  # group < 3 → ignored
    return spark.createDataFrame(
        rows,
        "product_id string, brand string, model string, product_name string, "
        "source string, price double, url string, condition string",
    )


def test_zscore_strategy(offers_anomaly):
    out = flag_anomalies(
        offers_anomaly, market_stats(offers_anomaly), strategy="zscore", z_threshold=2.0
    ).collect()
    assert len(out) == 1
    a = out[0]
    assert a.anomaly_price == 2000.0
    assert a.anomaly_type == "trop_haut"
    assert a.total_offers == 6
    assert a.z_score == pytest.approx(2.041, abs=1e-3)
    assert a.deviation_percent == pytest.approx(380.0, abs=0.5)
    assert a.market_median == pytest.approx(102.5)
    assert a.price_range == "90.0-2000.0"


def test_iqr_strategy(offers_anomaly):
    out = flag_anomalies(
        offers_anomaly, market_stats(offers_anomaly), strategy="iqr", iqr_k=1.5
    ).collect()
    assert [r.anomaly_price for r in out] == [2000.0]


def test_anomaly_reports(offers_anomaly):
    res = run_anomaly_analysis(offers_anomaly, strategy="iqr", top_n=5)
    stats = {r.product_id: r for r in res["group_stats"].collect()}
    assert set(stats) == {"p1"}  # p2 below min group size
    assert stats["p1"].market_mean == pytest.approx(416.6667, abs=1e-3)
    dist = res["type_distribution"].collect()
    assert [(r.anomaly_type, r.n, r.pct) for r in dist] == [("trop_haut", 1, 100.0)]
    top = res["top_anomalies"].collect()
    assert len(top) == 1 and top[0].anomaly_price == 2000.0


def test_anomaly_report_rendering(spark, offers_anomaly):
    from etl_marketeye_airflow_spark.operators.anomaly import render_anomaly_report

    anomalies = flag_anomalies(offers_anomaly, market_stats(offers_anomaly), strategy="iqr")
    report = render_anomaly_report(1, anomalies, top_n=5, ts="2026-08-13")
    assert "Total anomalies: 1" in report
    assert "TROP_HAUT: 1 (100.0%)" in report
    assert "2000 MAD vs moyenne 417 MAD" in report


# ------------------------------------------------------- mad_outliers


def test_mad_outliers_hand_computed_odd_group(spark):
    """Group of 7 values 100..100,1000: median 100 (med2=200), devs are
    six 0s and one 1800 (doubled), mad4=0+0 -> zero-MAD group emits
    NOTHING (majority at one value).  A spread group [10,12,14,16,100]:
    med2=28, dev2=(8,4,0,4,172), sorted (0,4,4,8,172) -> mad4=8,
    r_ppm for 100 = 2*172*1e6 // 8 = 43e6 > 3e6 -> exactly one flag."""
    from etl_marketeye_airflow_spark.operators.anomaly import mad_outliers

    rows = [("a", v) for v in [100, 100, 100, 100, 100, 100, 1000]]
    rows += [("b", v) for v in [10, 12, 14, 16, 100]]
    df = spark.createDataFrame(rows, "g string, v long")
    got = mad_outliers(df, ["g"], "v", min_n=5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.g, r.v, r.n, r.med2, r.mad4, r.dev2, r.r_ppm) == (
        "b", 100, 5, 28, 8, 172, 43_000_000
    )


def test_mad_outliers_even_group_and_min_n(spark):
    """Even n=6 [10,10,20,20,30,1000]: med2=40 (20+20), dev2 =
    (20,20,0,0,20,1960) sorted (0,0,20,20,20,1960), picks rn 3,4 ->
    mad4=40, outlier r_ppm = 2*1960*1e6//40 = 98e6.  The inliers score
    2*20*1e6//40 = 1e6 < 3e6 (no flag).  A 4-row group is dropped by
    min_n=5 entirely."""
    from etl_marketeye_airflow_spark.operators.anomaly import mad_outliers

    rows = [("a", v) for v in [10, 10, 20, 20, 30, 1000]]
    rows += [("small", v) for v in [1, 2, 3, 4000]]
    df = spark.createDataFrame(rows, "g string, v long")
    got = mad_outliers(df, ["g"], "v", min_n=5).collect()
    assert len(got) == 1 and got[0].g == "a"
    assert (got[0].med2, got[0].mad4, got[0].r_ppm) == (40, 40, 98_000_000)


def test_mad_outliers_masking_resistance_vs_zscore_shape(spark):
    """Two extremes in a group of 10 are BOTH flagged (each is ~45 MADs
    out) even though together they inflate a std enough to mask each
    other at z=2 — the robustness motivation.  Rerun is bit-identical
    (pure integer algebra)."""
    from etl_marketeye_airflow_spark.operators.anomaly import mad_outliers

    vals = [100, 102, 104, 106, 108, 110, 112, 114, 5000, 5200]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    got = {r.v: r.r_ppm for r in mad_outliers(df, ["g"], "v").collect()}
    got2 = {r.v: r.r_ppm for r in mad_outliers(df, ["g"], "v").collect()}
    assert set(got) == {5000, 5200} and got == got2


def test_winsorize_hand_computed(spark):
    """n=10 values 1..9 plus 1000: p5 rank = ceil(0.5)=1 -> lo=1, p95
    rank = ceil(9.5)=10 -> hi=1000 (nothing clips at 5/95 with n=10);
    at 10/90 the hi rank is 9 -> 1000 clips down to 9.  A 4-row group
    is dropped by min_n=5.  Bounds ranks clamp into [1, n]."""
    from etl_marketeye_airflow_spark.operators.anomaly import winsorize

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
    rows += [("tiny", v) for v in [1, 2, 3, 4]]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {(r.g, r.v): (r.lo, r.hi, r.winsorized, r.clipped)
           for r in winsorize(df, ["g"], "v", 5, 95).collect()}
    assert all(g == "a" for g, _ in out)
    assert out[("a", 1000)] == (1, 1000, 1000, 0)
    out2 = {r.v: (r.lo, r.hi, r.winsorized, r.clipped)
            for r in winsorize(df, ["g"], "v", 10, 90).collect()}
    assert out2[1000] == (1, 9, 9, 1)
    assert out2[5] == (1, 9, 5, 0)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winsorize(df, ["g"], "v", 90, 10)


def test_exact_median_selection_matches_sorted_reference(spark):
    """Two-pass selection ≡ direct sorted median on adversarial
    frames: even/odd sizes, duplicates straddling bucket boundaries,
    bucket_width 1 and huge (single-bucket degenerate)."""
    import random

    from etl_marketeye_airflow_spark.operators.stats import (
        exact_median_selection,
    )

    rng = random.Random(7)
    cases = [
        [5],
        [1, 2],
        [8191, 8192, 8193, 8192],
        [rng.randrange(0, 100_000) for _ in range(501)],
        [rng.randrange(0, 30) for _ in range(500)],
    ]
    for i, vals in enumerate(cases):
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        s = sorted(vals)
        n = len(s)
        want = s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]
        for bw in (1, 8192, 10**9):
            r = exact_median_selection(df, "v", bucket_width=bw).collect()[0]
            assert (r.n_rows, r.med2) == (n, want), (i, bw)
            assert r.median == want / 2.0


def test_trimmed_mean_hand_computed(spark):
    """n=10, trim 10%: exactly one row drops from each end —
    [1..9,1000] keeps 2..9 -> mean 5.5; trim 0 keeps all; a 4-row
    group drops via min_n; guard on trim >= 50."""
    from etl_marketeye_airflow_spark.operators.anomaly import trimmed_mean

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
    rows += [("tiny", v) for v in [1, 2, 3, 4]]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r.g: r for r in trimmed_mean(df, ["g"], "v", 10).collect()}
    assert set(out) == {"a"}
    r = out["a"]
    assert (r.n, r.n_kept, r.kept_sum, r.trimmed_mean) == (10, 8, 44, 5.5)
    r0 = trimmed_mean(df.filter("g = 'a'"), ["g"], "v", 0).collect()[0]
    assert (r0.n_kept, r0.kept_sum) == (10, 1045)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        trimmed_mean(df, ["g"], "v", 50)


def test_weighted_median_hand_computed(spark):
    """Lower weighted median: values (10 w1, 20 w1, 30 w6): half of
    W=8 is reached at 30; equal-split (10 w2, 30 w2) picks the LOWER
    value 10 (2·cw = W rule); unit weights reduce to the ordinary
    lower median."""
    from etl_marketeye_airflow_spark.queries import QUERIES  # noqa: F401
    from pyspark.sql import functions as FF
    from pyspark.sql.window import Window as W

    def wmed(rows):
        df = spark.createDataFrame(rows, "g string, v long, w long")
        g = df.groupBy("g", "v").agg(FF.sum("w").cast("long").alias("w"))
        wcum = (W.partitionBy("g").orderBy(FF.col("v").asc())
                .rowsBetween(W.unboundedPreceding, W.currentRow))
        c = (g.withColumn("cw", FF.sum("w").over(wcum))
             .withColumn("tw", FF.sum("w").over(W.partitionBy("g"))))
        return {r.g: r.m for r in c.groupBy("g").agg(
            FF.min(FF.when(2 * FF.col("cw") >= FF.col("tw"),
                           FF.col("v"))).alias("m")).collect()}

    rows = [("a", 10, 1), ("a", 20, 1), ("a", 30, 6),
            ("b", 10, 2), ("b", 30, 2),
            ("c", 1, 1), ("c", 2, 1), ("c", 3, 1)]
    got = wmed(rows)
    assert got == {"a": 30, "b": 10, "c": 2}
