"""Product merge: union-then-groupBy (J1 + A6-A9 in SURVEY.md §2.3/2.4).

Reference semantics (dags/marketeye_etl_dag.py:618-741 merge_data):
- normalize product ids (lower, spaces→_) before grouping (:645-650);
- group by product_id; first-seen product contributes brand/model/
  category/specs base (:712-714);
- offers unioned across sources, deduped (:665-682);
- spec maps merged first-non-empty-per-key (:684-691);
- metadata.sources set-unioned (:693-705);
- longest product_name wins (:707-710).

Engine decisions (SURVEY §2.13/§7.3):
- offer dedup key = (product_id, source, url, price) — the DAG uses
  (source,url) per product, the plugin dedups (source,price,url)
  GLOBALLY (a bug); we take the per-product superset key.
- "first-seen" is arrival-order-dependent in the reference.  The engine
  defines a deterministic arrival order: (source_rank, scraped_at, url,
  price) with Avito < Jumia < Electroplanet matching the reference's
  source processing order (dags:627).  Of two copies of one offer (same
  dedup key) the earlier arrival is kept; copies that tie there are
  ordered by all their other fields.  Same-input runs give identical
  output regardless of union order or partitioning.

Scale notes: one shuffle, a hash repartition on product_id that both
the dedup and the product aggregate reuse.  Offer-count skew
(one product held 995/25,558 offers in the reference run) is handled by
AQE;  the per-group collect_list is bounded by group size — at 100 TB
with pathological groups, cap offers per product upstream or switch the
offers sink to the flat relational form (which never collects).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import normalize_product_id

SOURCE_RANK = {"Avito": 0, "Jumia": 1, "Electroplanet": 2}


def _source_rank(source: Column) -> Column:
    expr = F.lit(len(SOURCE_RANK))
    for name, rank in SOURCE_RANK.items():
        expr = F.when(source == name, rank).otherwise(expr)
    return expr


def union_sources(*dfs: DataFrame) -> DataFrame:
    """U1: union the per-source master-schema DataFrames."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def merge_products(products: DataFrame) -> DataFrame:
    """J1/A6-A9: merge single-offer product docs into unified products.

    Input: master-schema rows (typically one offer per row, straight from
    the adapters).  Output: one row per product_id with merged offers /
    specs / sources / best name.
    """
    # F8 id normalization.  P6 (null-id drop) is the CALLER's contract:
    # adapter ids are non-null by construction, and external master docs
    # must be filtered at their scan — a filter here on the derived id
    # would be pushed below the adapters' projections, duplicating the
    # whole id expression tree into the predicate (30× plan blowup).
    # Null/empty ids that do slip through merge into a '' junk group
    # rather than corrupting real groups.
    p = products.withColumn("product_id", normalize_product_id(F.col("product_id")))

    # Explode to offer granularity; keep product-level fields alongside.
    # posexplode_outer + `pos IS NOT NULL` keeps exactly explode's rows
    # (NULL/empty arrays give a NULL pos; NULL elements keep theirs) but,
    # unlike an inner explode, gets no inferred `size(offers) > 0` filter
    # for the optimizer to push through every adapter projection, where
    # it would re-run each offer expression per row (CLAUDE.md conv 2b).
    o = p.select(
        "product_id",
        "brand",
        "model",
        "product_name",
        "category",
        "specifications",
        F.col("metadata.sources").alias("doc_sources"),
        F.posexplode_outer("offers").alias("pos", "offer"),
    ).filter(F.col("pos").isNotNull())

    # Deterministic arrival order (see module docstring).
    o = o.withColumn(
        "arrival",
        F.struct(
            _source_rank(F.col("offer.source")).alias("rank"),
            F.col("offer.scraped_at").alias("scraped_at"),
            F.col("offer.url").alias("url"),
            F.col("offer.price").alias("price"),
        ),
    )

    # The one shuffle: hash on product_id satisfies the clustering of both
    # the dedup and the product aggregate, so neither adds an Exchange.
    # A6: per-product offer dedup on (source, url, price) keeps the
    # earliest-arrival copy; copies that tie on arrival are ordered by
    # every other field (the spec map by its sorted entries), so the kept
    # copy never depends on shuffle-arrival order.
    payload = ["arrival", "offer", "brand", "model", "product_name", "category", "doc_sources"]
    copy_order = F.struct(
        *payload, F.array_sort(F.map_entries("specifications")).alias("spec_entries")
    )
    o = (
        o.repartition("product_id")
        .groupBy("product_id", "offer.source", "offer.url", "offer.price")
        .agg(F.min_by(F.struct(*payload, "specifications"), copy_order).alias("c"))
        .select("product_id", "c.*")
    )

    # P7 + aggregation back to product granularity.
    name_key = F.struct(
        (-F.length(F.coalesce(F.col("product_name"), F.lit("")))).alias("neg_len"),
        F.col("arrival"),
    )
    merged = o.groupBy("product_id").agg(
        # first-seen product supplies brand/model/category (deterministic min over arrival)
        F.min_by(F.struct("brand", "model", "category"), F.col("arrival")).alias("head"),
        # A9: longest name, ties broken by arrival
        F.min_by(F.col("product_name"), name_key).alias("product_name"),
        # A7: first non-empty value per spec key — fold arrival-sorted maps,
        # earlier maps win (merge_spec_maps keeps `acc` keys).  sort_array
        # can't order map-bearing structs → sorted post-agg by comparator.
        F.collect_list(F.struct(F.col("arrival"), F.col("specifications").alias("m"))).alias(
            "spec_seq"
        ),
        # offers sorted by arrival for a deterministic array
        F.collect_list(F.struct(F.col("arrival"), F.col("offer").alias("o"))).alias("offer_seq"),
        # A8: source set union (sorted for determinism; reference keeps arrival order)
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("doc_sources")))).alias("sources"),
    )

    ts = F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

    def by_arrival(l, r):  # noqa: E741
        lk, rk = l.getField("arrival"), r.getField("arrival")
        return F.when(lk < rk, -1).when(lk > rk, 1).otherwise(0)

    spec_seq = F.array_sort(F.col("spec_seq"), by_arrival)
    offer_seq = F.array_sort(F.col("offer_seq"), by_arrival)
    specs = F.aggregate(
        spec_seq,
        F.create_map().cast("map<string,string>"),
        lambda acc, x: F.map_concat(
            acc, F.map_filter(x.getField("m"), lambda k, v: ~F.array_contains(F.map_keys(acc), k))
        ),
    )
    return merged.select(
        "product_id",
        F.col("head.brand").alias("brand"),
        F.col("head.model").alias("model"),
        "product_name",
        F.col("head.category").alias("category"),
        specs.alias("specifications"),
        F.transform(offer_seq, lambda x: x.getField("o")).alias("offers"),
        F.struct(
            F.col("sources").alias("sources"), ts.alias("created_at"), ts.alias("last_updated")
        ).alias("metadata"),
    )


def flatten_offers(merged: DataFrame) -> DataFrame:
    """Relational projection: one row per offer (S5 CSV / S6 JDBC shape)."""
    o = merged.select(
        "product_id",
        "brand",
        "model",
        "product_name",
        F.explode("offers").alias("offer"),
    )
    return o.select(
        "product_id",
        "brand",
        "model",
        "product_name",
        F.col("offer.source").alias("source"),
        F.col("offer.price").alias("price"),
        F.col("offer.original_price").alias("original_price"),
        F.col("offer.currency").alias("currency"),
        F.col("offer.condition").alias("condition"),
        F.col("offer.seller_type").alias("seller_type"),
        F.col("offer.seller_name").alias("seller_name"),
        F.col("offer.location.city").alias("city"),
        F.col("offer.location.area").alias("area"),
        F.col("offer.rating").alias("rating"),
        F.col("offer.reviews_count").alias("reviews_count"),
        F.col("offer.url").alias("url"),
        F.col("offer.scraped_at").alias("scraped_at"),
    )
