"""q69-q93: the TPC-H band plus mid-band pipeline queries

Registry band module (r11 split of the 12.6k-line queries.py).  Shared
helpers, the @query decorator, and the oracle-parity conventions live in
``_registry_base`` (same package level, so function sources — and hence
sweep digests — are byte-identical to the pre-split file).  Importing
this module registers its queries into the shared QUERIES/ORACLES dicts.
"""

from __future__ import annotations

from . import _registry_base as _B

# bind every base helper (incl. underscore names) into this module's
# globals so the verbatim-moved query sources resolve unchanged
globals().update({k: v for k, v in vars(_B).items() if not k.startswith("__")})

@query(
    "q69_tpch_q8_market_share",
    oracle=f"""
    WITH vols AS (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,4)) *
               (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'AMERICA'
        AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '2000-01-01'
    )
    SELECT CAST(o_year AS INT) AS o_year,
           -- conv 16: scale-8 volume sums exceed 2^53 unscaled —
           -- VARCHAR roundtrip for the correctly-rounded conversion
           CAST(CAST(COALESCE(sum(volume) FILTER (WHERE supp_nation = 'NATION_3'),
                         0) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(volume) AS VARCHAR) AS DOUBLE) AS mkt_share,
           CAST(CAST(sum(volume) AS VARCHAR) AS DOUBLE)     AS total_volume
    FROM vols
    GROUP BY o_year
    """,
)
def q69_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of the AMERICA-region
    ECONOMY-part market per order year — an 8-way join with a
    conditional-aggregate ratio.

    Plan notes: region→nation (customer side) collapses to a broadcast
    nationkey set; the supplier-side nation name map is broadcast too
    (nation is 25 rows at ANY scale).  The part join stays an equi-join
    for AQE to size — p_type selects ~1/6 of a table that is ~2×10^10
    rows at 100 TB, far past broadcast.  Both date bounds and p_type
    are pushed to scans.  Float discipline: volumes sum EXACTLY as
    decimals on both engines; the ONLY float ops are the final
    double casts and one division, identical IEEE ops either side —
    never a float accumulation (convention #1).  year() runs under a
    pinned UTC session (q67 precedent)."""
    with _utc(spark):
        vol = F.col("l_extendedprice").cast("decimal(12,4)") * (
            F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
        )
        amer_keys = F.broadcast(
            _t(spark, sf_dir, "nation")
            .join(
                F.broadcast(
                    _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
                ),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .select(F.col("n_nationkey").alias("cnk"))
        )
        supp_nations = F.broadcast(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
            )
        )
        p = (
            _t(spark, sf_dir, "part")
            .filter(F.col("p_type") == "ECONOMY")
            .select("p_partkey")
        )
        o = (
            _t(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "2000-01-01")
            )
            .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
        )
        c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
        num = F.sum(F.when(F.col("supp_nation") == "NATION_3", vol))
        den = F.sum(vol)
        return (
            li.join(p, li["l_partkey"] == p["p_partkey"])
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(amer_keys, c["c_nationkey"] == F.col("cnk"))
            .join(s, li["l_suppkey"] == s["s_suppkey"])
            .join(supp_nations, s["s_nationkey"] == F.col("snk"))
            .groupBy("o_year")
            .agg(
                (
                    F.coalesce(num, F.lit(0).cast("decimal(6,4)")).cast("double")
                    / den.cast("double")
                ).alias("mkt_share"),
                den.cast("double").alias("total_volume"),
            )
            .select("o_year", "mkt_share", "total_volume")
        )


@query(
    "q70_tpch_q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(19,4))) > 150
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q70_tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders whose total quantity
    exceeds a threshold (large-volume semi-join on an aggregate), top
    100 by order value.

    Plan notes: lineitem collapses FIRST in a (l_orderkey) hash
    aggregation with map-side partial combine — the HAVING filter then
    shrinks the fact side to the rare big orders BEFORE any join, which
    is the whole scale story (the aggregate-then-filter side is ~10^2
    smaller than lineitem; AQE broadcasts it into orders).  orderBy +
    limit compiles to TakeOrderedAndProject; o_orderkey (unique per
    row) breaks o_totalprice ties, so the top-100 SET is deterministic.
    Quantity sums as DECIMAL(19,4) — exact on both engines; the HAVING
    compares the exact decimal, not a float (convention #1)."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(19,4)")).alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", F.col("_q").cast("double").alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@query(
    "q71_temperature_mix",
    # identical fixed IEEE op sequence on both engines: exact-integer
    # W_s/n_s, sqrt (correctly rounded per IEEE-754), one multiply, one
    # divide, floor to an integer threshold; the coin is 40 bits of md5
    oracle="""
    WITH f AS (
      SELECT source,
             CAST(floor(LEAST(1.0,
                   (0.25 * sqrt(CAST(sum(n_chars) AS DOUBLE)))
                     / CAST(count(*) AS DOUBLE)) * 1099511627776.0) AS BIGINT)
               AS thresh
      FROM documents GROUP BY source
    )
    SELECT doc_id, source, n_chars
    FROM documents JOIN f USING (source)
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
          < thresh
    """,
)
def q71_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (alpha=0.5): the multi-source
    sampling step of dataset assembly — expected picks per source scale
    with sqrt of its char mass, flattening the source-size distribution.
    One map-side-combined hash agg, broadcast factor table, pure map
    filter; acceptance is a deterministic md5 coin against an integer
    threshold (no RNG state, no cross-group float accumulation)."""
    from .operators.sampling import temperature_mix

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return temperature_mix(
        d, "source", "doc_id", "n_chars", alpha=0.5, scale=0.25
    ).select("doc_id", "source", "n_chars")


@query(
    "q72_near_dup_scalable",
    # The SCALABLE near-dup configuration (auto-sized planes), oracle-
    # exact: a planted twin corpus (each vector + a deterministic small
    # perturbation) where true near-dups are tight-angle (cos ≈ 0.9998)
    # and everything else sits below ~0.55 — the regime where deep
    # bucketing loses nothing.  Margins pinned in test_trainingdata.
    oracle=f"""
    WITH c AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(range(1, len(embedding) + 1),
               i -> CAST(embedding[i] AS DOUBLE)
                    + 0.01 * CAST(((vec_id * 31 + (i - 1)) % 7) - 3 AS DOUBLE))
      FROM embeddings
    ),
    cc AS (
      -- mirror Spark's nonzero_vec on the UNIONED corpus (conv 21/22)
      SELECT * FROM c WHERE {_sql_nonzero('e')}
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_SQL_COS.format(a="a.e", b="b.e")} AS c2
      FROM cc a JOIN cc b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(c2, 6) AS cosine FROM p WHERE c2 >= 0.95
    """,
)
def q72_near_dup_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at the SCALABLE operating point: tight-angle
    twins (cosine ≥ 0.95) found with ``n_planes=None`` auto-sizing —
    the configuration the 10× probe showed q26's wide-angle regime can
    never have.  The corpus doubles each vector with a deterministic
    elementwise perturbation (recomputed identically in the oracle);
    the exact pair set is the 500 (orig, twin) pairs, margins pinned.
    Candidates remain a bucket equi-join; precision exact by cosine
    verify; recall complete at this angle (asserted vs brute force in
    pytest AND by the oracle hash)."""
    from .operators.similarity import embedding_near_dup_pairs

    base = _t(spark, sf_dir, "embeddings")
    orig = base.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )
    # perturb FIRST, shift the id in a second select: referencing
    # vec_id inside the lambda alongside an `... AS vec_id` alias would
    # resolve to the SHIFTED id (lateral column aliases), silently
    # changing the perturbation pattern vs the oracle
    twin = base.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + F.lit(0.01)
            * (((F.col("vec_id") * 31 + i) % 7) - 3).cast("double"),
        ).alias("embedding"),
    ).select((F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding")
    corpus = orig.unionByName(twin)
    pairs = embedding_near_dup_pairs(
        corpus, threshold=0.95, n_planes=None, n_tables=8
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine")
    )


@query(
    "q73_dataset_assembly",
    # end-to-end composition of four individually-oracled stages; every
    # stage is hash-deterministic so the WHOLE pipeline replays in SQL
    oracle=f"""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    ),
    d AS (SELECT documents.* FROM documents JOIN keep USING (doc_id)),
    q AS (SELECT * FROM d WHERE n_chars BETWEEN 100 AND 500),
    f AS (
      SELECT source,
             CAST(floor(LEAST(1.0,
                   (0.5 * sqrt(CAST(sum(n_chars) AS DOUBLE)))
                     / CAST(count(*) AS DOUBLE)) * 1099511627776.0) AS BIGINT)
               AS thresh
      FROM q GROUP BY source
    ),
    m AS (
      SELECT q.* FROM q JOIN f USING (source)
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
            < thresh
    ),
    tr AS (
      SELECT * FROM m
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 100 < 80
    ),
    w AS (SELECT doc_id, {_SQL_TOKENIZE} AS ws FROM tr),
    k AS (SELECT doc_id, ws, (greatest(len(ws) - 32, 0) + 23) // 24 AS kmax FROM w),
    e AS (SELECT doc_id, ws, unnest(range(0, kmax + 1)) AS chunk_id FROM k)
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32), ' ')
             AS chunk_text,
           CAST(len(list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32)) AS INT)
             AS n_chunk_tokens
    FROM e
    """,
)
def q73_dataset_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dataset-assembly pipeline a training-data user
    actually runs, as ONE lazy plan: exact dedup (digest groupBy, min-id
    keeper) → quality band on length → temperature-weighted source
    mixing (alpha=0.5) → deterministic train split (md5 bucket < 80) →
    32/24 context-window chunking.  Every stage is hash-deterministic,
    so the full composition — not just the stages — is oracle-verified.

    Scale shape: digest shuffle (32 bytes/doc) + one factor agg +
    broadcast joins + a pure map+explode; the text column is carried
    once, never shuffled by the mix/split/chunk stages."""
    from .operators.corpus import chunk_documents
    from .operators.dedup import exact_dedup
    from .operators.sampling import hash_split, temperature_mix

    docs = _t(spark, sf_dir, "documents")
    d = exact_dedup(docs)
    q = d.filter((F.col("n_chars") >= 100) & (F.col("n_chars") <= 500))
    m = temperature_mix(q, "source", "doc_id", "n_chars", alpha=0.5, scale=0.5)
    tr = hash_split(m, "doc_id").filter(F.col("split") == "train")
    return chunk_documents(tr.select("doc_id", "text"), chunk_size=32, stride=24)


@query(
    "q74_tpch_q21_sole_late_supplier",
    # the oracle keeps the textbook EXISTS / NOT EXISTS correlation so
    # the gate proves the Spark aggregate decorrelation is equivalent
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 365 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    sup_order AS (
      SELECT l_orderkey, l_suppkey, max(late) AS late
      FROM li GROUP BY l_orderkey, l_suppkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM sup_order t
    JOIN supplier ON s_suppkey = t.l_suppkey
    WHERE t.late
      AND EXISTS (SELECT 1 FROM sup_order u
                  WHERE u.l_orderkey = t.l_orderkey
                    AND u.l_suppkey <> t.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM sup_order v
                      WHERE v.l_orderkey = t.l_orderkey
                        AND v.l_suppkey <> t.l_suppkey
                        AND v.late)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q74_tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order — the EXISTS / NOT-EXISTS double correlation,
    decorrelated into aggregates.

    Instead of two correlated subqueries per row (which Spark would
    rewrite into two extra joins against the same fact), the per-order
    facts collapse ONCE: (order, supplier) → any-late, then order →
    (n_suppliers, n_late_suppliers); the predicate becomes
    late ∧ n_suppliers > 1 ∧ n_late = 1 — one extra hash agg instead of
    two semi/anti joins over lineitem, and the whole thing stays two
    shuffles (orderkey, then suppkey).  The oracle keeps the textbook
    correlated form, so the gate PROVES the decorrelation equivalent.
    Top-20 by (numwait desc, s_name) — s_name unique, set deterministic."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
            ).alias("late"),
        )
    )
    sup_order = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late")).alias("late")
    )
    order_stats = sup_order.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_sup"),
        F.sum(F.col("late").cast("int")).alias("_n_late"),
    )
    sole_late = (
        sup_order.filter(F.col("late"))
        .join(
            order_stats.filter((F.col("_n_sup") > 1) & (F.col("_n_late") == 1)),
            "l_orderkey",
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(s, sole_late["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q75_tpch_q16_supplier_count",
    # NOT IN kept literal in the oracle; Spark decorrelates to an
    # anti-join (safe here: s_suppkey is never NULL — with nullable
    # columns NOT IN needs the null-aware anti-join Spark also has)
    oracle="""
    SELECT p_brand, p_type,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    """,
)
def q75_tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type),
    excluding one brand and a NOT-IN supplier set.

    The NOT IN subquery becomes a LEFT ANTI join against the (tiny,
    broadcast) excluded-supplier keyset — the decorrelation Spark's
    optimizer would pick, made explicit; count(DISTINCT) expands to the
    standard two-level aggregate (partial distinct per partition, then
    merge) — no row ever carries more than (brand, type, suppkey)."""
    excluded = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#1")
        .select("p_partkey", "p_brand", "p_type")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(excluded, li["l_suppkey"] == excluded["s_suppkey"], "left_anti")
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


@query(
    "q76_tpch_q17_small_quantity_revenue",
    # correlated scalar subquery kept literal in the oracle; both
    # engines compute the same IEEE double 0.2*(sum/count) per part, and
    # the final sum is exact decimal with ONE double division at the end
    oracle="""
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l1
    JOIN part ON p_partkey = l1.l_partkey
    WHERE p_type = 'ECONOMY'
      AND l1.l_quantity < (
        SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(19,4))) AS DOUBLE)
                      / CAST(count(l2.l_quantity) AS DOUBLE))
        FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q76_tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity line items, where
    "small" is a correlated per-part scalar average.

    Decorrelated: per-part (sum, count) aggregate ONCE over lineitem,
    joined back — the quantity filter then runs as a map predicate.
    Float discipline: the threshold is the same fixed IEEE sequence on
    both engines (exact-integer sum and count → one divide, one multiply
    by the 0.2 literal); the revenue sums as exact DECIMAL with a single
    final double division by 7.0 (convention #1 — no float
    accumulation anywhere)."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    per_part = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(19,4)")).cast("double")
                / F.count("l_quantity").cast("double")
            )
        ).alias("_threshold")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(per_part.withColumnRenamed("l_partkey", "_pk"), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,4)")).cast("double")
                / F.lit(7.0)
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "q77_scd2_history_merge",
    # the oracle rebuilds the same merge set-algebraically: closed =
    # changed-or-gone actives, unchanged = equal matches, fresh = the
    # incoming rows not kept open.  acctbal is never NULL here so <>
    # matches the operator's eqNullSafe-negation exactly.
    oracle="""
    WITH cur AS (
      SELECT s_suppkey, s_acctbal,
             '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      FROM supplier WHERE s_suppkey % 7 <> 0
    ),
    inc AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100
                  ELSE s_acctbal END AS s_acctbal
      FROM supplier WHERE s_suppkey % 11 <> 0
    ),
    closed AS (
      SELECT c.s_suppkey, c.s_acctbal, c.valid_from,
             '2024-06-01' AS valid_to
      FROM cur c LEFT JOIN inc i USING (s_suppkey)
      WHERE i.s_suppkey IS NULL OR i.s_acctbal <> c.s_acctbal
    ),
    unchanged AS (
      SELECT c.* FROM cur c JOIN inc i USING (s_suppkey)
      WHERE i.s_acctbal = c.s_acctbal
    ),
    fresh AS (
      SELECT i.s_suppkey, i.s_acctbal,
             '2024-06-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      FROM inc i LEFT JOIN unchanged u USING (s_suppkey)
      WHERE u.s_suppkey IS NULL
    )
    SELECT * FROM closed
    UNION ALL SELECT * FROM unchanged
    UNION ALL SELECT * FROM fresh
    """,
)
def q77_scd2_history_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history merge (Delta-MERGE semantics emulated with
    anti-join + union): a derived update batch — some suppliers change
    acctbal, some disappear, some are new — against an open history.
    Changed/absent actives close at the batch timestamp; new versions
    and new keys append open.  Promotes the pytest-only `scd2_merge`
    operator to oracle coverage: the gate proves the anti-join/union
    decomposition equals the set-algebraic MERGE."""
    from .operators.profile import scd2_merge

    s = _t(spark, sf_dir, "supplier")
    current = s.filter(F.col("s_suppkey") % 7 != 0).select(
        "s_suppkey",
        "s_acctbal",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    incoming = s.filter(F.col("s_suppkey") % 11 != 0).select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 3 == 0, F.col("s_acctbal") + 100)
        .otherwise(F.col("s_acctbal"))
        .alias("s_acctbal"),
    )
    return scd2_merge(current, incoming, "s_suppkey", ["s_acctbal"], "2024-06-01")


@query(
    "q78_doc_rarity_score",
    # exact-integer sums (corpus counts) with ONE final double division
    # per doc; the bucket CASE compares that same double on both sides
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENIZE}) AS token FROM documents
    ),
    t2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    v AS (SELECT token, count(*) AS cnt FROM t2 GROUP BY token)
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                       AS n_tokens,
           CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                                                          AS mean_token_freq,
           CASE WHEN CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) < 8.0
                  THEN 'rare'
                WHEN CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) < 20.0
                  THEN 'mid'
                ELSE 'common' END                         AS rarity_bucket
    FROM t2 JOIN v USING (token)
    GROUP BY doc_id
    """,
)
def q78_doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document rarity scoring: each doc's mean CORPUS frequency of its
    tokens — the integer-exact cousin of unigram-LM perplexity scoring
    (log-prob needs libm log, which is NOT cross-engine bit-stable;
    mean frequency ranks documents the same way for bucketing).  Used to
    up-weight rare/specialist text and spot boilerplate (high mean
    frequency ⇒ stopword soup).

    Scale shape: the token stream collapses into the vocab ONCE
    (map-side combined), then joins back to the stream on token.  AQE
    broadcasts the vocab while it fits (it does at test SFs — see
    PLANS.md); past broadcast size the join degrades gracefully to a
    token-hash shuffle of the (doc_id, token) stream plus the per-doc
    re-aggregation: both key-partitioned, nothing global."""
    from .operators.corpus import token_counts
    from .operators.dedup import spread, words

    docs = _t(spark, sf_dir, "documents")
    tok = (
        spread(docs)
        .select("doc_id", F.explode(words(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    vocab = token_counts(docs, "text", None)
    mean = F.sum("cnt").cast("double") / F.count(F.lit(1)).cast("double")
    return (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            mean.alias("mean_token_freq"),
            F.when(mean < 8.0, "rare")
            .when(mean < 20.0, "mid")
            .otherwise("common")
            .alias("rarity_bucket"),
        )
    )


@query(
    "q79_token_offsets_set_based",
    # same contract as q68 — the oracle is the identical lateral
    # expansion, so the gate proves the two forms EQUAL row-for-row
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM documents
    ),
    e AS (
      SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w
    )
    SELECT doc_id,
           CAST(i AS INT) AS token_idx,
           ws[CAST(i AS INT)] AS token,
           CAST(CASE WHEN i = 1 THEN 0
                ELSE len(array_to_string(list_slice(ws, 1, CAST(i AS INT) - 1), ' ')) + 1
                END AS INT) AS char_offset
    FROM e
    """,
)
def q79_token_offsets_set_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The set-based twin of q68's UDTF: identical (token_idx, token,
    char_offset) rows from posexplode + a per-doc running-sum window —
    zero Python, whole-stage codegen.  Exists so the registry QUANTIFIES
    the UDTF tax (bench q68 vs q79 at the same output) and so the fast
    form is itself oracle-verified, not just documented in q68's
    docstring.  The window partitions by doc_id — bounded by document
    token count, never corpus-global."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("_norm"),
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("_norm"), " ")).alias("_idx0", "token"),
    ).select(
        "doc_id",
        (F.col("_idx0") + 1).cast("int").alias("token_idx"),
        "token",
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("token_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.select(
        "doc_id",
        "token_idx",
        "token",
        F.coalesce(F.sum(F.length("token") + 1).over(w), F.lit(0))
        .cast("int")
        .alias("char_offset"),
    )


@query(
    "q80_full_pipeline_with_near_dup",
    # q73's assembly plus the FUZZY dedup stage: every piece of this
    # composition is an already-proven oracle (q20 digest keepers, q47
    # exact-Jaccard pairs + recursive closure, q71 mix, q51 split, q61
    # chunking) — composed here so the WHOLE modern pipeline, not just
    # its stages, is hash-verified.
    oracle=f"""
    WITH RECURSIVE
    keep0 AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    ),
    sh AS MATERIALIZED ({_Q80_SH_SQL}),
    ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    sizes AS (SELECT doc_id, len(grams) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = inter.id_a
      JOIN sizes sb ON sb.doc_id = inter.id_b
      WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.35
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, x) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON r.x = e.src
    ),
    labels AS (
      SELECT id, least(id, min(x)) AS cluster FROM reach GROUP BY id
    ),
    surv AS (
      SELECT d.* FROM documents d JOIN keep0 USING (doc_id)
      WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)
    ),
    q AS (SELECT * FROM surv WHERE n_chars BETWEEN 100 AND 500),
    f AS (
      SELECT source,
             CAST(floor(LEAST(1.0,
                   (0.5 * sqrt(CAST(sum(n_chars) AS DOUBLE)))
                     / CAST(count(*) AS DOUBLE)) * 1099511627776.0) AS BIGINT)
               AS thresh
      FROM q GROUP BY source
    ),
    m AS (
      SELECT q.* FROM q JOIN f USING (source)
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
            < thresh
    ),
    tr AS (
      SELECT * FROM m
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 100 < 80
    ),
    w AS (SELECT doc_id, {_SQL_TOKENIZE} AS ws FROM tr),
    k AS (SELECT doc_id, ws, (greatest(len(ws) - 32, 0) + 23) // 24 AS kmax FROM w),
    e AS (SELECT doc_id, ws, unnest(range(0, kmax + 1)) AS chunk_id FROM k)
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32), ' ')
             AS chunk_text,
           CAST(len(list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32)) AS INT)
             AS n_chunk_tokens
    FROM e
    """,
)
def q80_full_pipeline_with_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q73's dataset assembly with the FUZZY dedup stage in: exact dedup
    → MinHash+LSH near-dup clustering (keep min-id representative) →
    length quality band → temperature mix → train split → 32/24
    chunking.  The complete modern training-data pipeline, end-to-end
    hash-verified against an oracle that brute-forces the near-dup
    stage (all-pairs exact Jaccard + recursive closure) — banding
    recall completeness carries over from q47 (the keeper subset's pair
    set is a subset of the full corpus's, which is pinned recall-
    complete)."""
    from .operators.corpus import chunk_documents
    from .operators.dedup import dedup_by_clusters, exact_dedup, minhash_lsh_pairs
    from .operators.sampling import hash_split, temperature_mix

    docs = _t(spark, sf_dir, "documents")
    d1 = exact_dedup(docs)
    pairs = minhash_lsh_pairs(d1, threshold=0.35)
    d2 = dedup_by_clusters(d1, pairs)
    q = d2.filter((F.col("n_chars") >= 100) & (F.col("n_chars") <= 500))
    m = temperature_mix(q, "source", "doc_id", "n_chars", alpha=0.5, scale=0.5)
    tr = hash_split(m, "doc_id").filter(F.col("split") == "train")
    return chunk_documents(tr.select("doc_id", "text"), chunk_size=32, stride=24)


@query(
    "q81_tpch_q2_min_cost_supplier",
    # cost is ONE double division per row (identical IEEE op both
    # engines); min() selects among identical doubles, so the cost =
    # min_cost equality is bit-safe cross-engine.
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT l_partkey, min(cost) AS min_cost FROM costs GROUP BY l_partkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost
    FROM costs
    JOIN best USING (l_partkey)
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE cost = min_cost AND p_type = 'LARGE' AND p_size <= 25
    ORDER BY s_acctbal DESC, s_name, p_partkey
    LIMIT 100
    """,
)
def q81_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part (correlated-min
    subquery, decorrelated to an aggregate + equality join).

    Adaptation: no partsupp table, so supply cost per (part, supplier)
    is the minimum unit price (l_extendedprice / l_quantity) across
    their lineitems — same argmin-per-group pattern over a derived
    cost table.  Plan: region→nation collapses to a broadcast keyset;
    the part filter prunes BEFORE the output join (the min is computed
    per part over all European suppliers first, exactly like Q2's
    correlated subquery scoping); sort+LIMIT is a TakeOrderedAndProject
    with a total-order tiebreak so the top-100 is deterministic."""
    euro_keys = F.broadcast(
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("enk"))
    )
    s_euro = (
        _t(spark, sf_dir, "supplier")
        .join(euro_keys, F.col("s_nationkey") == F.col("enk"))
        .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
    )
    costs = (
        li.join(s_euro.select("s_suppkey"), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit").alias("cost"))
    )
    best = costs.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 25))
        .select("p_partkey", "p_brand")
    )
    nat = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nnk"), "n_name"
        )
    )
    return (
        costs.join(best, "l_partkey")
        .filter(F.col("cost") == F.col("min_cost"))
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .join(
            s_euro.withColumnRenamed("s_suppkey", "_sk"),
            F.col("l_suppkey") == F.col("_sk"),
        )
        .join(nat, F.col("s_nationkey") == F.col("nnk"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "cost")
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q82_tpch_q4_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q82_tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts over an EXISTS semi-join.

    Adaptation: "l_commitdate < l_receiptdate" (late delivery) becomes
    "l_shipdate > o_orderdate + 30 days" (late shipment) — an EXISTS
    whose predicate references BOTH sides, so the decorrelation is a
    LEFT SEMI join with a compound (equi + range) condition, exactly
    the plan Spark gives the original Q4.  The quarter bound is pushed
    to the orders scan; lineitem ships only (l_orderkey, l_shipdate)."""
    with _utc(spark):
        o = (
            _t(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderdate") >= "1996-07-01")
                & (F.col("o_orderdate") < "1996-10-01")
            )
            .select("o_orderkey", "o_orderdate", "o_orderpriority")
        )
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
        return (
            o.join(
                li,
                (o["o_orderkey"] == li["l_orderkey"])
                & (
                    li["l_shipdate"]
                    > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")
                ),
                "left_semi",
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count"))
            .orderBy("o_orderpriority")
        )


@query(
    "q83_tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(l_discount AS DECIMAL(6,4))) AS VARCHAR)
               AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q83_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecasting-revenue-change — the canonical scan-only
    aggregate.  All four predicates are scan-pushable (PushedFilters);
    no join, no shuffle beyond the single-row final aggregate.  At
    100 TB this is the query shape that lives or dies on predicate
    pushdown + column pruning: the scan reads 4 of 11 columns.
    Revenue accumulates as exact DECIMAL(19,8) products."""
    with _utc(spark):
        li = _t(spark, sf_dir, "lineitem").filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        return li.agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,4)")
                * F.col("l_discount").cast("decimal(6,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )


@query(
    "q84_tpch_q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(CAST(sum({_SQL_VOL}
                    - CAST(p_retailprice AS DECIMAL(12,4))
                      * CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR)
               AS DOUBLE)
             AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE 'red%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q84_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by supplier nation and order
    year — the 5-way join with a derived profit measure.

    Adaptation: no partsupp, so unit cost is p_retailprice (a real
    part-side column) instead of ps_supplycost; profit per lineitem =
    vol − p_retailprice·l_quantity, all exact DECIMAL until the final
    double cast.  Plan: p_name prefix filter prunes part before the
    join; nation (25 rows) broadcasts; part/orders stay equi-joins for
    AQE.  year() under the pinned-UTC session."""
    with _utc(spark):
        p = (
            _t(spark, sf_dir, "part")
            .filter(F.col("p_name").like("red%"))
            .select("p_partkey", "p_retailprice")
        )
        s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        nat = F.broadcast(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("nnk"), F.col("n_name").alias("nation")
            )
        )
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", F.year("o_orderdate").alias("o_year")
        )
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount", "l_quantity",
        )
        profit = _vol() - (
            F.col("p_retailprice").cast("decimal(12,4)")
            * F.col("l_quantity").cast("decimal(12,4)")
        )
        return (
            li.join(p, li["l_partkey"] == p["p_partkey"])
            .join(s, li["l_suppkey"] == s["s_suppkey"])
            .join(nat, s["s_nationkey"] == F.col("nnk"))
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("nation", "o_year")
            .agg(F.sum(profit).cast("double").alias("sum_profit"))
            .orderBy("nation", F.desc("o_year"))
        )


@query(
    "q85_tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(CAST(sum({_SQL_VOL}) AS VARCHAR) AS DOUBLE) AS revenue,
           c_acctbal, n_name, c_mktsegment
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q85_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item reporting — top-20 customers by lost
    revenue in a quarter.  Both filters push to their scans; the
    customer/nation dimension attributes ride through the aggregate
    as grouping keys (not a post-agg join) exactly like the spec
    query; TakeOrderedAndProject with c_custkey tiebreak."""
    with _utc(spark):
        o = (
            _t(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-04-01")
            )
            .select("o_orderkey", "o_custkey")
        )
        li = (
            _t(spark, sf_dir, "lineitem")
            .filter(F.col("l_returnflag") == "R")
            .select("l_orderkey", "l_extendedprice", "l_discount")
        )
        c = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment"
        )
        nat = F.broadcast(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("nnk"), "n_name"
            )
        )
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(nat, c["c_nationkey"] == F.col("nnk"))
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
            .agg(F.sum(_vol()).cast("double").alias("revenue"))
            .select(
                "c_custkey", "c_name", "revenue",
                "c_acctbal", "n_name", "c_mktsegment",
            )
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(20)
        )


@query(
    "q86_tpch_q11_important_parts",
    # threshold arithmetic: exact decimal sums on both sides, ONE
    # division + ONE multiply in double, identical op order — and the
    # 1.5×-average form is scale-free (Q11's literal fraction would
    # invert its meaning as the part count grows).
    oracle=f"""
    WITH v AS (
      SELECT l_partkey, sum({_SQL_VOL}) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey
    ),
    g AS (SELECT CAST(CAST(sum(val) AS VARCHAR) AS DOUBLE) AS tot,
                 CAST(count(*) AS DOUBLE) AS n FROM v)
    SELECT l_partkey, CAST(CAST(val AS VARCHAR) AS DOUBLE) AS part_value
    FROM v, g
    WHERE CAST(CAST(val AS VARCHAR) AS DOUBLE) > 1.5 * (tot / n)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q86_tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value (here: traded volume
    from ASIA-region suppliers) exceeds a global-scalar threshold —
    the HAVING-over-global-aggregate pattern.

    Adaptation: value = lineitem volume instead of partsupp
    supplycost·availqty, and the threshold is 1.5× the per-part
    average (scale-free) rather than Q11's SF-dependent literal
    fraction.  Plan: the global (tot, n) is a 1-row broadcast cross
    join — the per-part aggregate shuffles once and is reused for
    both sides, no second pass over lineitem."""
    asia_keys = F.broadcast(
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("ank"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(asia_keys, F.col("s_nationkey") == F.col("ank"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    v = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(_vol()).alias("val"))
    )
    g = F.broadcast(
        v.agg(
            F.sum("val").cast("double").alias("_tot"),
            F.count("*").cast("double").alias("_n"),
        )
    )
    return (
        v.crossJoin(g)
        .filter(
            F.col("val").cast("double") > F.lit(1.5) * (F.col("_tot") / F.col("_n"))
        )
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "q87_tpch_q12_late_shipment_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q87_tpch_q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts over a late-shipment
    join.  Adaptation: group key is l_returnflag (no l_shipmode
    column) and "received later than committed" becomes "shipped >60
    days after order".  The year bound pushes to the lineitem scan;
    the +60d comparison is a post-join residual (it references both
    sides), exactly where Q12's receipt/commit predicate lands."""
    with _utc(spark):
        li = (
            _t(spark, sf_dir, "lineitem")
            .filter(
                (F.col("l_shipdate") >= "1997-01-01")
                & (F.col("l_shipdate") < "1998-01-01")
            )
            .select("l_orderkey", "l_shipdate", "l_returnflag")
        )
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        )
        high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .filter(
                li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
            )
            .groupBy("l_returnflag")
            .agg(
                F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
            )
            .orderBy("l_returnflag")
        )


@query(
    "q88_tpch_q13_customer_distribution",
    oracle="""
    WITH per_c AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey
                       AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_c
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q88_tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution — the double
    aggregate over a null-preserving outer join.  Adaptation: the
    o_comment NOT LIKE filter becomes an o_orderpriority exclusion
    (same position: INSIDE the join condition, so zero-order customers
    survive with c_count = 0).  count(o_orderkey) counts non-null
    only, preserving the outer-join zeros; the second aggregate is a
    tiny shuffle over distinct counts."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q89_tpch_q14_promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 AS DOUBLE)
             * CAST(CAST(COALESCE(sum({_SQL_VOL})
                             FILTER (WHERE p_type = 'PROMO'), 0) AS VARCHAR)
                   AS DOUBLE)
             / CAST(CAST(sum({_SQL_VOL}) AS VARCHAR) AS DOUBLE)
               AS promo_revenue_pct,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q89_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion-revenue percentage — conditional-sum /
    total-sum ratio over a month of shipments.  p_type='PROMO' is a
    real p_type value in this schema, so the query is the literal Q14
    pattern.  Both sums are exact decimals; the ratio is two double
    casts, one multiply, one divide — identical IEEE sequence both
    engines.  Month bound pushes to the lineitem scan; part stays an
    equi-join for AQE (it is the 100 TB-side table)."""
    with _utc(spark):
        li = (
            _t(spark, sf_dir, "lineitem")
            .filter(
                (F.col("l_shipdate") >= "1997-03-01")
                & (F.col("l_shipdate") < "1997-04-01")
            )
            .select("l_partkey", "l_extendedprice", "l_discount")
        )
        p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
        num = F.sum(F.when(F.col("p_type") == "PROMO", _vol()))
        den = F.sum(_vol())
        return (
            li.join(p, li["l_partkey"] == p["p_partkey"])
            .agg(
                (
                    F.lit(100.0)
                    * F.coalesce(num, F.lit(0).cast("decimal(6,4)")).cast("double")
                    / den.cast("double")
                ).alias("promo_revenue_pct"),
                F.count("*").alias("n_items"),
            )
        )


@query(
    "q90_tpch_q15_top_supplier",
    # revenue = max(revenue) compares exact decimals of identical
    # value — no float anywhere until the output cast.
    oracle=f"""
    WITH r AS (
      SELECT l_suppkey, sum({_SQL_VOL}) AS rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM r
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE rev = (SELECT max(rev) FROM r)
    ORDER BY s_suppkey
    """,
)
def q90_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue — the
    revenue-view + max-scalar-subquery pattern, ties included (no
    LIMIT 1: equality against the max keeps every tied supplier,
    per the spec).  The per-supplier aggregate is computed ONCE and
    reused for both the max and the equality filter via a 1-row
    broadcast; revenue stays exact DECIMAL through the comparison."""
    with _utc(spark):
        li = (
            _t(spark, sf_dir, "lineitem")
            .filter(
                (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1996-04-01")
            )
            .select("l_suppkey", "l_extendedprice", "l_discount")
        )
        r = li.groupBy("l_suppkey").agg(F.sum(_vol()).alias("rev"))
        mx = F.broadcast(r.agg(F.max("rev").alias("_mx")))
        s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
        return (
            r.crossJoin(mx)
            .filter(F.col("rev") == F.col("_mx"))
            .join(s, F.col("l_suppkey") == s["s_suppkey"])
            .select(
                "s_suppkey", "s_name", F.col("rev").cast("double").alias("total_revenue")
            )
            .orderBy("s_suppkey")
        )


@query(
    "q91_tpch_q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(CAST(sum({_SQL_VOL}) AS VARCHAR) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q91_tpch_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: discounted revenue under an OR-of-conjunctions
    predicate spanning both join sides — the disjunctive-join stress
    test.  Catalyst keeps the p_partkey equi-join and evaluates the
    disjunction as a post-join residual, while CNF conversion lets
    the per-side implied domains (brand/size on part, quantity on
    lineitem) push to the scans.  Revenue sums exact-decimal."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, z = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    disj = (
        ((b == "Brand#3") & z.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#12") & z.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#21") & z.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(disj)
        .agg(
            F.sum(_vol()).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q92_tpch_q20_dominant_supplier",
    # 2·q > tq is pure integer-scaled decimal arithmetic — exact on
    # both engines, no float threshold anywhere.
    oracle="""
    WITH sp AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(l_quantity AS DECIMAL(19,4))) AS q
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    tot AS (SELECT l_partkey, sum(q) AS tq FROM sp GROUP BY l_partkey),
    dom AS (SELECT DISTINCT l_suppkey
            FROM sp JOIN tot USING (l_partkey) WHERE q * 2 > tq)
    SELECT s_suppkey, s_name, n_name AS nation
    FROM dom
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    ORDER BY s_suppkey
    """,
)
def q92_tpch_q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding a dominant share of a
    filtered part family — nested correlated aggregates decorrelated
    into two stacked groupBys + a threshold join.

    Adaptation: no partsupp availqty, so "availqty > half of shipped
    quantity" becomes "shipped > half of the part's total 1997
    shipments" (a dominant-supplier predicate with the identical
    correlated > 0.5·SUM structure).  The per-(part,supplier)
    aggregate feeds BOTH the per-part total and the comparison —
    one lineitem pass.  Quantity sums stay exact decimal; the
    half-share test is 2q > total in integer-scaled decimal."""
    with _utc(spark):
        red = (
            _t(spark, sf_dir, "part")
            .filter(F.col("p_name").like("red%"))
            .select("p_partkey")
        )
        li = (
            _t(spark, sf_dir, "lineitem")
            .filter(
                (F.col("l_shipdate") >= "1997-01-01")
                & (F.col("l_shipdate") < "1998-01-01")
            )
            .select("l_partkey", "l_suppkey", "l_quantity")
        )
        sp = (
            li.join(red, li["l_partkey"] == red["p_partkey"])
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.sum(F.col("l_quantity").cast("decimal(19,4)")).alias("q"))
        )
        tot = sp.groupBy("l_partkey").agg(F.sum("q").alias("tq"))
        dom = (
            sp.join(tot, "l_partkey")
            .filter(F.col("q") * F.lit(2).cast("decimal(2,0)") > F.col("tq"))
            .select("l_suppkey")
            .distinct()
        )
        s = _t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey"
        )
        nat = F.broadcast(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("nnk"), F.col("n_name").alias("nation")
            )
        )
        return (
            dom.join(s, dom["l_suppkey"] == s["s_suppkey"])
            .join(nat, s["s_nationkey"] == F.col("nnk"))
            .select("s_suppkey", "s_name", "nation")
            .orderBy("s_suppkey")
        )


@query(
    "q93_tpch_q22_inactive_balance",
    oracle="""
    WITH a AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(19,4))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(19,4))) AS DOUBLE) AS totacctbal
    FROM customer, a
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q93_tpch_q22_inactive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders — global-scalar subquery + NOT EXISTS anti-join.

    Adaptation: every customer has SOME order in this data, so the
    anti-join runs against a date-windowed orders subset ("no order
    since 1999"), and the country-code grouping becomes c_mktsegment
    (no c_phone column).  The average is a 1-row broadcast; the
    anti-join ships only o_custkey after its pushed date filter.
    The avg threshold is exact-decimal-sum / count — one double
    division, identical both engines (c_acctbal compares raw)."""
    with _utc(spark):
        c = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        avg1 = F.broadcast(
            c.filter(F.col("c_acctbal") > 0).agg(
                (
                    F.sum(F.col("c_acctbal").cast("decimal(19,4)")).cast("double")
                    / F.count("*").cast("double")
                ).alias("avg_bal")
            )
        )
        recent = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderdate") >= "1999-01-01")
            .select("o_custkey")
        )
        return (
            c.crossJoin(avg1)
            .filter(F.col("c_acctbal") > F.col("avg_bal"))
            .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("numcust"),
                F.sum(F.col("c_acctbal").cast("decimal(19,4)"))
                .cast("double")
                .alias("totacctbal"),
            )
            .orderBy("c_mktsegment")
        )
