"""q142-q157: graph algorithms, drift, entity resolution

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

# q157 composes q44's banded fuzzy pair generator, which lives in the
# streaming_ann band — bind it here so the verbatim fn source resolves
from .queries_streaming_ann import q44_fuzzy_name_pairs  # noqa: E402,F401

@query(
    "q142_kcore",
    # Spark peels to the TRUE fixed point (driver-scalar termination);
    # the oracle unrolls 16 rounds — a no-op past convergence, and 16
    # is >2x the deepest measured depth (7 at sf0.1).  Set/integer
    # semantics only, so the fixed point is engine-independent.
    oracle=_sql_kcore(3, 16),
)
def q142_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase part graph (q137's edge rule: parts
    sharing a high-quantity order): iteratively peel every part with
    fewer than 3 surviving co-purchase partners, keeping the densely
    cross-sold region — the dense-subgraph extractor (community seeds,
    bot-ring mining, importance filtering) completing the graph family
    (PageRank q114, CC q43, triangles q128, LCC q137).

    Scale shape: per round ONE map-side-combined degree groupBy + two
    left-semi joins on node keys; frames localCheckpoint'd so the plan
    never deepens; termination compares two driver scalars.  Rounds =
    peeling depth (each round removes ALL currently-sub-k nodes), not
    node count."""
    from .operators.graph import kcore

    return kcore(_copurchase_edges(spark, sf_dir), k=3, src_col="u",
                 dst_col="v")


@query(
    "q143_mad_outliers",
    # identical rank-based order statistics both sides: doubled-integer
    # medians (med2/mad4) from row_number picks — engine median() is
    # never called (even-n interpolation + return types differ) — and
    # the score is an all-positive truncating-integer ppm ratio
    oracle="""
    WITH b AS (
      SELECT l_partkey,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    r AS (
      SELECT l_partkey, price_cents,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY price_cents ASC) AS rn,
             count(*) OVER (PARTITION BY l_partkey) AS n
      FROM b
    ),
    rr AS (SELECT * FROM r WHERE n >= 5),
    med AS (
      SELECT l_partkey,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN price_cents ELSE 0 END)
                + sum(CASE WHEN rn = (n + 2) // 2 THEN price_cents ELSE 0 END)
               AS BIGINT) AS med2,
             CAST(max(n) AS BIGINT) AS n
      FROM rr GROUP BY l_partkey
    ),
    d AS (
      SELECT rr.l_partkey, rr.price_cents, med.n, med.med2,
             CAST(abs(2 * rr.price_cents - med.med2) AS BIGINT) AS dev2
      FROM rr JOIN med USING (l_partkey)
    ),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY l_partkey
                                   ORDER BY dev2 ASC) AS rn2
      FROM d
    ),
    mad AS (
      SELECT l_partkey,
             CAST(sum(CASE WHEN rn2 = (n + 1) // 2 THEN dev2 ELSE 0 END)
                + sum(CASE WHEN rn2 = (n + 2) // 2 THEN dev2 ELSE 0 END)
               AS BIGINT) AS mad4
      FROM r2 GROUP BY l_partkey
    ),
    s AS (
      SELECT d.l_partkey, d.price_cents, d.n, d.med2, mad.mad4, d.dev2,
             CAST((1000000 * 2 * d.dev2) // mad.mad4 AS BIGINT) AS r_ppm
      FROM d JOIN mad USING (l_partkey)
      WHERE mad.mad4 > 0
    )
    SELECT * FROM s WHERE r_ppm > 3000000
    """,
)
def q143_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-part price outliers: lineitems whose extended price
    sits more than 3 MADs from their part's median — the
    breakdown-resistant counterpart of q04's z-score rule (extremes
    shift mean/std and mask themselves; the median of absolute
    deviations tolerates 50% contamination).  Exact doubled-integer
    order statistics on cents; score is a truncating-integer ppm.

    Scale shape: two per-GROUP sort windows + two tiny group-frame
    joins, one shuffle key throughout — never a global sort."""
    from .operators.anomaly import mad_outliers

    li = (
        _t(spark, sf_dir, "lineitem")
        # conv 22: order statistics exclude missing measurements — a
        # NULL price would rank NULLS FIRST (Spark) vs LAST (DuckDB)
        # and shift the median row picks
        .filter(F.col("l_extendedprice").isNotNull())
        .select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("price_cents"),
        )
    )
    return mad_outliers(
        li, ["l_partkey"], "price_cents", threshold_ppm=3_000_000, min_n=5
    )


@query(
    "q144_cusum_drift",
    # identical window algebra both sides: the clamped CUSUM fold
    # S_t = max(0, S_{t-1}+d_t) is computed via its prefix-sum identity
    # S_t = P_t − min(0, running-min P) — one per-key sort window, all
    # BIGINT (cents; truncating integer baseline on all-positive sums)
    oracle="""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    w AS (
      SELECT user_id, ts_us, event_id, cents,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS sx
      FROM c
    ),
    f AS (SELECT * FROM w WHERE n >= 2),
    b AS (
      SELECT *, CAST(sx // n AS BIGINT) AS baseline,
             CAST(cents - sx // n AS BIGINT) AS d
      FROM f
    ),
    p0 AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) AS rn,
             CAST(sum(d) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT) AS pp
      FROM b
    ),
    p AS (
      SELECT *, CAST(min(pp) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT) AS mm
      FROM p0
    ),
    s AS (
      SELECT *, CAST(pp - CASE WHEN mm < 0 THEN mm ELSE 0 END AS BIGINT) AS sv
      FROM p
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(baseline) AS BIGINT) AS baseline,
           CAST(max(sv) AS BIGINT) AS s_max,
           CAST(min(CASE WHEN sv > 10000 THEN rn END) AS BIGINT) AS alarm_rn,
           min(CASE WHEN sv > 10000 THEN ts_us END) AS alarm_ts_us
    FROM s GROUP BY user_id
    """,
)
def q144_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM upward spend-drift alarm (Page 1954) over the
    purchase event stream: with d_t = cents − per-user integer mean,
    the sequential statistic S_t = max(0, S_{t−1} + d_t) trips at
    100 units (10000 cents) — the drift monitor (feature drift, spend
    shift, quality regression) every production pipeline runs per key.
    The clamped recurrence is NOT folded: S_t = P_t − min(0, min_{j≤t}
    P_j), so one ordered window (prefix sum + running min) computes the
    entire statistic in exact BIGINT cents on both engines.

    Scale shape: ONE shuffle on user_id; row_number, prefix sum,
    running min, and the full-partition baseline all share that
    exchange; the final groupBy reuses the key partitioning.  No fold,
    no collect, no global sort."""
    from .operators.temporal import cusum_drift
    from .sources.tables import load_events

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts_us",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return cusum_drift(
        ev,
        key_cols=["user_id"],
        order_cols=["ts_us", "event_id"],
        value_col="cents",
        slack=0,
        threshold=10_000,
        min_n=2,
    )


@query(
    "q145_salted_replicate_join",
    # salting never reaches the result: the oracle is the PLAIN join —
    # same multiset by construction (one salt per big row, full small
    # copy per salt) — with the q33 proof pattern; decimal revenue sum
    # is order-free exact, count is integer
    oracle=f"""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           {_SQL_REV} AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q145_salted_replicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation item count + revenue where the lineitem⋈supplier
    equi-join runs SALTED: big side salted per row, small side
    replicated 8×, joined on (suppkey, salt) — the manual skew-join
    for the regimes AQE's runtime skew split cannot reach (stream-
    static joins, non-sort-merge plans, AQE off).  q33 proved salting
    exact for aggregation; this entry proves it for joins — the oracle
    is the plain join.

    Scale shape: the hot key's rows fan across 8 reducers; the cost is
    8× the SMALL side's shuffle volume (the explicit trade).  The
    follow-up nation join is a broadcast; the final groupBy is
    map-side combined decimal sums."""
    from .operators.skew import replicated_salt_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = replicated_salt_join(li, sup, "l_suppkey", n_salts=8)
    return (
        j.join(
            F.broadcast(nat),
            j["s_nationkey"] == nat["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            _rev_spark().alias("revenue"),
        )
    )


@query(
    "q146_fd_profile",
    # one block per candidate FD, identical algebra: per-lhs distinct
    # rhs counts -> 1-row summary; conformance is a truncating-integer
    # ppm of all-positive values (Spark div == DuckDB //)
    oracle="""
    SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           CAST(max(v) AS BIGINT) AS max_rhs_variants,
           CAST((1000000 * (count(*) - sum(CASE WHEN v > 1 THEN 1 ELSE 0 END)))
                // count(*) AS BIGINT) AS conformance_ppm
    FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS v
          FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'l_partkey', 'l_suppkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(v) AS BIGINT),
           CAST((1000000 * (count(*) - sum(CASE WHEN v > 1 THEN 1 ELSE 0 END)))
                // count(*) AS BIGINT)
    FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS v
          FROM lineitem GROUP BY l_partkey)
    UNION ALL
    SELECT 'l_orderkey,l_linenumber', 'l_quantity',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(v) AS BIGINT),
           CAST((1000000 * (count(*) - sum(CASE WHEN v > 1 THEN 1 ELSE 0 END)))
                // count(*) AS BIGINT)
    FROM (SELECT l_orderkey, l_linenumber, count(DISTINCT l_quantity) AS v
          FROM lineitem GROUP BY l_orderkey, l_linenumber)
    UNION ALL
    SELECT 'c_nationkey', 'c_mktsegment',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(v) AS BIGINT),
           CAST((1000000 * (count(*) - sum(CASE WHEN v > 1 THEN 1 ELSE 0 END)))
                // count(*) AS BIGINT)
    FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS v
          FROM customer GROUP BY c_nationkey)
    """,
)
def q146_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency conformance over four candidate rules —
    two that must hold (o_orderkey→o_custkey; (l_orderkey,
    l_linenumber)→l_quantity: key-based FDs) and two that measure
    real denormalization (l_partkey→l_suppkey, c_nationkey→
    c_mktsegment) — the schema-rule miner a pipeline runs on every
    fresh drop to catch ingestion bugs as conformance drift, without
    hand-written constraints.

    Scale shape: one map-side-combined groupBy per candidate, each
    collapsing to ONE summary row before the union; every scan prunes
    to lhs+rhs columns only."""
    from .operators.profile import fd_profile

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    a = fd_profile(orders, [(["o_orderkey"], "o_custkey")])
    b = fd_profile(
        li,
        [
            (["l_partkey"], "l_suppkey"),
            (["l_orderkey", "l_linenumber"], "l_quantity"),
        ],
    )
    c = fd_profile(cust, [(["c_nationkey"], "c_mktsegment")])
    return a.unionByName(b).unionByName(c)


@query(
    "q147_psi_drift",
    # identical integer algebra both sides: add-one-smoothed bucket
    # counts, 1-row totals, x=n'·M' / y=m'·N', fixed-point dyadic log2
    # (conv 6d — never libm), decimal(38,0) term product, one display
    # division of identical operands; term_fx ships as digit string
    # (conv 19)
    oracle=_sql_str_out(f"""
    WITH a AS (
      SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_a
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ),
    b AS (
      SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_b
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY 1
    ),
    j AS (
      SELECT coalesce(a.bucket, b.bucket) AS bucket,
             CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
             CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
      FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
    ),
    t AS (
      SELECT CAST(sum(n_a + 1) AS BIGINT) AS N1,
             CAST(sum(n_b + 1) AS BIGINT) AS M1
      FROM j
    ),
    s AS (
      SELECT bucket, n_a, n_b, N1, M1,
             CAST((n_a + 1) * M1 AS BIGINT) AS x,
             CAST((n_b + 1) * N1 AS BIGINT) AS y
      FROM j CROSS JOIN t
    ),
    l AS (
      SELECT *,
             CAST({_sql_flog2_fx('x')} - {_sql_flog2_fx('y')} AS BIGINT)
               AS L_fx
      FROM s
    ),
    f AS (
      SELECT bucket, n_a, n_b, N1, M1,
             CAST((CAST(x AS DECIMAL(19,0)) - CAST(y AS DECIMAL(19,0)))
                  * CAST(L_fx AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS term_fx
      FROM l
    )
    SELECT bucket, n_a, n_b, term_fx,
           -- term_fx can exceed 2^53: VARCHAR roundtrip for the
           -- correctly-rounded conversion (conv 16; see q140)
           CAST(CAST(term_fx AS VARCHAR) AS DOUBLE)
             / (CAST(N1 AS DOUBLE) * CAST(M1 AS DOUBLE) * 1048576.0) AS term
    FROM f
    """, ("term_fx",)),
)
def q147_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability drift of the order-value distribution
    between two snapshots (orders before vs since 1997): per price
    band, the PSI term (p−q)·log2(p/q) — the standard production
    drift alarm on a fresh data drop, in the exact fixed-point-log2
    form (conv 6d) so the score is bit-identical on any engine.

    Scale shape: each snapshot collapses to bucket counts map-side;
    everything after is bucket-cardinality-sized (full-outer join +
    1-row totals broadcast)."""
    from .operators.profile import psi_drift

    o = _t(spark, sf_dir, "orders").withColumn(
        "bucket",
        F.floor(F.col("o_totalprice") / F.lit(25000)).cast("long"),
    )
    df_a = o.filter(F.col("o_orderdate") < "1997-01-01")
    df_b = o.filter(F.col("o_orderdate") >= "1997-01-01")
    return _str_decimals(psi_drift(df_a, df_b, "bucket"))


@query(
    "q148_ivm_delta_join",
    # the IVM claim: stored-view partials merged with partials over
    # Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB must equal the FULL recompute —
    # so the oracle IS the full join+aggregate; decimal sums keep the
    # merge order-free exact (q116's discipline, now across a join)
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           {_SQL_REV} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q148_ivm_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view: per-priority item count
    + revenue over orders⋈lineitem, computed as stored-view partials
    (old orders ⋈ old lineitems) MERGED with partials over the
    delta-join Δ(A⋈B) — new orders (since 2001) and late lineitems
    (linenumber ≥ 5) never trigger an old⋈old rescan.  The gate proves
    maintained ≡ recomputed bit-for-bit (operators/ivm.py; q116 proved
    the aggregate half, this proves the join half).

    Scale shape: the two mixed delta joins broadcast the SMALL delta
    against the base (map-side hash join, base scanned once, shuffled
    never); partials merge on the group key only."""
    from .operators.ivm import delta_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    )
    a_old = orders.filter(F.col("o_orderdate") < "2001-01-01").drop(
        "o_orderdate"
    )
    a_new = orders.filter(F.col("o_orderdate") >= "2001-01-01").drop(
        "o_orderdate"
    )
    b_old = li.filter(F.col("l_linenumber") < 5).drop("l_linenumber")
    b_new = li.filter(F.col("l_linenumber") >= 5).drop("l_linenumber")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,4)")
                * (
                    F.lit(1).cast("decimal(6,4)")
                    - F.col("l_discount").cast("decimal(6,4)")
                )
            ).alias("_s"),
        )

    stored = partials(a_old.join(b_old, "k"))
    delta = partials(delta_join(a_old, a_new, b_old, b_new, on="k"))
    return (
        stored.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("_n").cast("long").alias("n_items"),
            F.sum("_s").cast("double").alias("revenue"),
        )
    )


@query(
    "q149_label_propagation",
    # fixed-round synchronous LPA is a deterministic function of the
    # graph (min-label tie-break), so the oracle replays the identical
    # rounds; pick mechanisms differ (row_number vs struct-argmin) but
    # the result is the same unique argmin
    oracle=_sql_label_propagation(4),
)
def q149_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels on the co-purchase part graph by 4 rounds of
    deterministic synchronous label propagation (most-frequent
    neighbor label, ties to the smallest) — near-linear community
    detection complementing the global/structural graph family
    (PageRank q114, components q43, k-core q142): LPA finds the
    cross-sold product clusters a merchandiser actually acts on.

    Scale shape: per round one node-keyed join + one map-side-combined
    (node,label) count + a struct-argmin per node — no windows, no
    global sort; Σ deg bounds each round, frames localCheckpoint'd
    (conv 2)."""
    from .operators.graph import label_propagation

    return label_propagation(
        _copurchase_edges(spark, sf_dir), iters=4, src_col="u", dst_col="v"
    )


@query(
    "q150_transition_matrix",
    # identical lead() window over the (ts_us, event_id) total order;
    # counts exact integers, probability = truncating ppm + one display
    # division of identical operands
    oracle="""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    p AS (
      SELECT event_type AS from_state,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id) AS to_state
      FROM c
    ),
    g AS (
      SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE to_state IS NOT NULL GROUP BY from_state, to_state
    ),
    t AS (
      SELECT from_state, CAST(sum(n) AS BIGINT) AS n_from
      FROM g GROUP BY from_state
    )
    SELECT g.from_state, g.to_state, g.n, t.n_from,
           CAST((1000000 * g.n) // t.n_from AS BIGINT) AS p_ppm,
           CAST(g.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
    FROM g JOIN t USING (from_state)
    """,
)
def q150_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for every
    consecutive event pair within a user's (ts, id)-ordered stream, the
    exact count, outgoing total, and transition probability — the
    where-do-sessions-go-next statistic generalizing q97's fixed
    funnel to ALL paths.

    Scale shape: one key shuffle for the lead() window, then a
    |states|²-cardinality map-side-combined groupBy; outgoing totals
    derive from the pair frame itself (no second scan)."""
    from .operators.temporal import transition_matrix
    from .sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    return transition_matrix(
        ev,
        key_cols=["user_id"],
        order_cols=["ts_us", "event_id"],
        state_col="event_type",
    )


@query(
    "q151_bfs_distances",
    # identical frontier-expansion set algebra; the Spark side may
    # early-exit on an empty frontier — extra unrolled oracle rounds
    # are then no-ops (empty frontier stays empty)
    oracle=_sql_bfs(3),
)
def q151_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the nearest seed part (ids ≡ 0 mod 50 — the
    'recalled SKU' stand-in) for every co-purchase-graph part within 3
    hops — the blast-radius / influence-neighborhood primitive
    completing the traversal corner of the graph family.

    Scale shape: per hop one frontier⋈adjacency join + distinct +
    anti-join vs visited, localCheckpoint'd; cost tracks the
    frontier's edge incidence, never the whole graph; max_hops bounds
    rounds, empty-frontier early-exit is a driver scalar."""
    from .operators.graph import bfs_distances

    e = _copurchase_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    sources = nodes.filter(F.col("node") % 50 == 0)
    return bfs_distances(e, sources, max_hops=3, src_col="u", dst_col="v")


@query(
    "q152_ind_profile",
    # one block per candidate IND, identical distinct/anti-join
    # algebra; containment is a truncating-integer ppm of all-positive
    # values
    oracle="""
    SELECT 'lineitem.l_orderkey<orders.o_orderkey' AS ind,
           CAST(sum(rows_) AS BIGINT) AS n_child_rows,
           CAST(count(*) AS BIGINT) AS n_child_distinct,
           CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_distinct,
           CAST(sum(CASE WHEN orphan THEN rows_ ELSE 0 END) AS BIGINT)
             AS n_orphan_rows,
           CAST((1000000 * (count(*)
                 - sum(CASE WHEN orphan THEN 1 ELSE 0 END))) // count(*)
             AS BIGINT) AS containment_ppm
    FROM (
      SELECT l_orderkey AS v, count(*) AS rows_,
             l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                WHERE o_orderkey IS NOT NULL) AS orphan
      FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey
    )
    UNION ALL
    SELECT 'orders.o_custkey<customer.c_custkey',
           CAST(sum(rows_) AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN orphan THEN rows_ ELSE 0 END) AS BIGINT),
           CAST((1000000 * (count(*)
                 - sum(CASE WHEN orphan THEN 1 ELSE 0 END))) // count(*)
             AS BIGINT)
    FROM (
      SELECT o_custkey AS v, count(*) AS rows_,
             o_custkey NOT IN (SELECT c_custkey FROM customer
                               WHERE c_custkey IS NOT NULL) AS orphan
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
    )
    UNION ALL
    SELECT 'customer.c_custkey<orders.o_custkey',
           CAST(sum(rows_) AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN orphan THEN rows_ ELSE 0 END) AS BIGINT),
           CAST((1000000 * (count(*)
                 - sum(CASE WHEN orphan THEN 1 ELSE 0 END))) // count(*)
             AS BIGINT)
    FROM (
      SELECT c_custkey AS v, count(*) AS rows_,
             c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_custkey IS NOT NULL) AS orphan
      FROM customer WHERE c_custkey IS NOT NULL GROUP BY c_custkey
    )
    UNION ALL
    SELECT 'lineitem.l_suppkey<supplier.s_suppkey',
           CAST(sum(rows_) AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN orphan THEN rows_ ELSE 0 END) AS BIGINT),
           CAST((1000000 * (count(*)
                 - sum(CASE WHEN orphan THEN 1 ELSE 0 END))) // count(*)
             AS BIGINT)
    FROM (
      SELECT l_suppkey AS v, count(*) AS rows_,
             l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_suppkey IS NOT NULL) AS orphan
      FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY l_suppkey
    )
    """,
)
def q152_ind_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (FK) conformance over four candidate rules
    — three true foreign keys that must resolve fully, and the
    REVERSED customer→orders rule whose orphans are exactly the
    never-ordered customers (q10's anti-join, recast as a ratio) —
    fd_profile's cross-table sibling: together they mine the schema's
    rule surface from data alone, and conformance drift on a fresh
    drop is an ingestion alarm.

    Scale shape: each candidate collapses the child to distinct values
    + counts (shuffle = distinct cardinality), anti-joins a distinct
    parent projection, and reduces to ONE row — never a row-level
    child⋈parent join."""
    from .operators.profile import ind_profile

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    return ind_profile(
        [
            (li, "l_orderkey", orders, "o_orderkey",
             "lineitem.l_orderkey<orders.o_orderkey"),
            (orders, "o_custkey", cust, "c_custkey",
             "orders.o_custkey<customer.c_custkey"),
            (cust, "c_custkey", orders, "o_custkey",
             "customer.c_custkey<orders.o_custkey"),
            (li, "l_suppkey", sup, "s_suppkey",
             "lineitem.l_suppkey<supplier.s_suppkey"),
        ]
    )


@query(
    "q153_hits",
    # synchronous max-normalized integer HITS — all non-negative
    # truncating ops, so Spark div ≡ DuckDB //; rounds unrolled
    oracle=_sql_hits(3),
)
def q153_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the customer→supplier purchase graph
    (q114's edge rule): 3 synchronous rounds of the mutually-recursive
    pair in exact max-normalized integer fixed point — hubby customers
    spread purchases across authoritative suppliers; the second classic
    link-analysis ranking next to PageRank.

    Scale shape: two PageRank-cost join+groupBy passes per round + two
    1-row max broadcasts; localCheckpoint'd per round (conv 2).  r12:
    the weighted-collapse variant (distinct (src,dst)+count through
    hits_fixed_point's weight_col — bit-identical algebra) was MEASURED
    and rejected for THIS graph: multiplicity is 1.02 at sf10, so the
    collapse pays a full extra |E| shuffle (plus a wider 2-copy cache)
    for a 2% per-round frame cut — same-window A/B 33.7 s multigraph vs
    62.7 s collapsed (probes/r12_collapse_ab.json).  weight_col stays
    the right tool for genuinely multi-edged graphs."""
    from .operators.graph import hits_fixed_point

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return hits_fixed_point(e, iters=3)


@query(
    "q154_streaming_session_windows",
    # the drained COMPLETE-mode table is the full current session set
    # (sink replaced per batch — conv-9 exempt), so the oracle is
    # q65's batch gaps-and-islands, the SAME shared string
    oracle=_SQL_SESSION_WINDOWS,
)
def q154_streaming_session_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q65's per-user session windows computed ON THE STREAM: Spark
    merges/extends session state in the aggregation as micro-batches
    arrive; drained in complete mode, the final table equals the batch
    session_window result exactly (one shared oracle string).  The
    streaming corner q31/q34/q50/q63/q117/q133/q136 didn't cover:
    gap-based (data-dependent) windows, where state merging — not just
    accumulation — happens across batches.

    State = open sessions (complete mode holds all; append mode's
    watermark eviction is the infinite-stream variant, documented in
    the operator)."""
    import uuid

    from .conf_scope import scoped_conf, state_partitions
    from .sources.tables import load_events_stream
    from .streaming.ingest import session_event_totals

    # State-partition count = session-state stores + delta files per
    # micro-batch; size-adaptive like q117 (r13 A/B, two windows:
    # 8 parts 3.42/3.65 s vs ambient-32 4.90/5.61 s —
    # probes/r13_stream_parts_ab.json).
    parts = state_partitions(spark, sf_dir, "events")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
        stream = load_events_stream(spark, sf_dir)
        out = session_event_totals(stream, "30 minutes", "10 minutes", "_t")
        name = f"q154_out_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q)
        return spark.table(name)


@query(
    "q155_k_anonymity_audit",
    # identical groupBy algebra; the band is floor of an IEEE-exact
    # double division (same bits both engines); NULL sensitive values
    # ignored by COUNT(DISTINCT) on both sides
    oracle="""
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT)
             AS n_sensitive_distinct,
           CASE WHEN count(*) < 5 THEN 'k_anonymity'
                WHEN count(DISTINCT c_mktsegment) = 1 THEN 'l_diversity'
           END AS violation
    FROM customer
    GROUP BY c_nationkey, CAST(floor(c_acctbal / 2000) AS BIGINT)
    HAVING count(*) < 5 OR count(DISTINCT c_mktsegment) = 1
    """,
)
def q155_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit of the customer table before release: equivalence
    classes over the quasi-identifiers (nation, account-balance band)
    that are re-identifiable (< 5 members) or leak the market segment
    (≥ 5 members, single segment) — the k-anonymity / l-diversity
    check a training-data pipeline runs on every user-derived table
    it ships.

    Scale shape: ONE map-side-combined groupBy; output is violations
    only."""
    from .operators.profile import k_anonymity_audit

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", k=5
    )


@query(
    "q156_bootstrap_replicates",
    # identical md5-coin + INTEGER-threshold Poisson weights both
    # sides (the q115/q138 discipline); exact BIGINT weighted sums;
    # one display division of identical operands
    oracle="""
    WITH reps AS (SELECT range AS rep FROM range(16)),
    b AS (
      SELECT o_orderpriority, CAST(o_orderkey AS VARCHAR) AS id,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    e AS (
      SELECT b.o_orderpriority, b.id, b.v, reps.rep,
             CAST(('0x' || substring(
               md5('boot-v1:' || b.id || ':' || CAST(reps.rep AS VARCHAR)),
               1, 10)) AS BIGINT) AS coin
      FROM b CROSS JOIN reps
    ),
    w AS (
      SELECT o_orderpriority, rep, v,
             CAST((CASE WHEN coin >= 404487723187 THEN 1 ELSE 0 END)
                + (CASE WHEN coin >= 808975446375 THEN 1 ELSE 0 END)
                + (CASE WHEN coin >= 1011219307969 THEN 1 ELSE 0 END)
                + (CASE WHEN coin >= 1078633928500 THEN 1 ELSE 0 END)
                + (CASE WHEN coin >= 1095487583633 THEN 1 ELSE 0 END)
                + (CASE WHEN coin >= 1098858314660 THEN 1 ELSE 0 END)
                + (CASE WHEN coin >= 1099420103164 THEN 1 ELSE 0 END)
                + (CASE WHEN coin >= 1099500358665 THEN 1 ELSE 0 END)
               AS BIGINT) AS w
      FROM e
    ),
    a AS (
      SELECT o_orderpriority, CAST(rep AS BIGINT) AS rep,
             CAST(sum(w) AS BIGINT) AS n_eff,
             CAST(sum(w * v) AS BIGINT) AS sum_w_value
      FROM w GROUP BY o_orderpriority, rep
    )
    SELECT o_orderpriority, rep, n_eff, sum_w_value,
           CASE WHEN n_eff > 0
                THEN CAST(sum_w_value AS DOUBLE) / CAST(n_eff AS DOUBLE)
           END AS mean_value
    FROM a
    """,
)
def q156_bootstrap_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 deterministic Poisson-bootstrap replicates of per-priority
    mean order value (Owen & Eckles 2012): each order contributes a
    md5-derived Poisson(1) weight per replicate, and the spread of the
    replicate means is the error bar — uncertainty quantification in
    ONE pass, no resampling scans, reproducible to the bit anywhere.

    Scale shape: explode×16 feeds straight into a map-side-combined
    groupBy — shuffle is |priorities|·16 rows, not the exploded
    stream."""
    from .operators.sampling import bootstrap_replicates

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return bootstrap_replicates(
        o,
        id_col="o_orderkey",
        value_col="cents",
        n_replicates=16,
        group_cols=["o_orderpriority"],
    )


@query(
    "q157_entity_resolution",
    # q44's banded edit-distance pairs + q43's WITH RECURSIVE closure +
    # a canonical rollup; singletons resolve to themselves; min over
    # doubles is an exact pick, counts are integers
    oracle="""
    WITH RECURSIVE
    names AS (SELECT DISTINCT p_name FROM part WHERE p_partkey < 400),
    pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
        AND levenshtein(a.p_name, b.p_name) <= 3
    ),
    edges AS MATERIALIZED (
      SELECT name_a AS src, name_b AS dst FROM pairs
      UNION
      SELECT name_b, name_a FROM pairs
    ),
    reach(id, x) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON r.x = e.src
    ),
    matched AS (
      SELECT id, least(id, min(x)) AS cluster FROM reach GROUP BY id
    ),
    allm AS (
      SELECT n.p_name AS id, coalesce(m.cluster, n.p_name) AS cluster
      FROM names n LEFT JOIN matched m ON n.p_name = m.id
    ),
    pc AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS c,
             min(p_retailprice) AS mr
      FROM part WHERE p_partkey < 400 GROUP BY p_name
    )
    SELECT a.cluster AS canonical_name,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(pc.c) AS BIGINT) AS n_parts,
           min(pc.mr) AS min_retail
    FROM allm a JOIN pc ON a.id = pc.p_name
    GROUP BY a.cluster
    """,
)
def q157_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution on part names: q44's length-banded
    edit-distance matching → connected-component clustering (matches
    are transitive in intent) → one canonical record per entity
    (lexicographic-min name, member/row counts, best price) —
    the classic record-linkage pipeline (blocking → scoring →
    clustering → survivorship) as ONE lazy composition of
    already-oracled stages; singleton names resolve to themselves.

    Scale shape: q44's banded join (never a cross join) + O(log
    diameter) pointer-jumping CC + key-partitioned rollups."""
    from .operators.dedup import near_dup_clusters

    pairs = q44_fuzzy_name_pairs(spark, sf_dir).select("name_a", "name_b")
    matched = near_dup_clusters(pairs, "name_a", "name_b")
    names = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 400)
        .select("p_name")
        .distinct()
    )
    allm = names.join(
        matched, names["p_name"] == matched["id"], "left"
    ).select(
        F.col("p_name").alias("id"),
        F.coalesce(F.col("cluster"), F.col("p_name")).alias("cluster"),
    )
    pc = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 400)
        .groupBy("p_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.min("p_retailprice").alias("mr"),
        )
    )
    return (
        allm.join(pc, allm["id"] == pc["p_name"])
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_names"),
            F.sum("c").cast("long").alias("n_parts"),
            F.min("mr").alias("min_retail"),
        )
        .select(
            F.col("cluster").alias("canonical_name"),
            "n_names",
            "n_parts",
            "min_retail",
        )
    )
