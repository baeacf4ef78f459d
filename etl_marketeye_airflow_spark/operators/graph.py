"""Iterative graph analytics in DataFrame algebra: fixed-point PageRank.

Complements the connected-components operator (operators/dedup.py —
the dedup endgame) with the other canonical iterative graph kernel.
Reference scope: the MarketEye reference has no graph code; this is
engine extension for ranking entities in the relational data (e.g.
suppliers by customer purchase links).

Determinism doctrine (CLAUDE.md conventions 1/6d): float PageRank is
order-sensitive (a Σ of doubles depends on partial-agg order), so ranks
live in INTEGER fixed point (2^0 scale 10^6): contributions are
truncating integer divisions (identical on Spark `div` and DuckDB `//`
for the all-positive values here), the damping 0.85 is the rational
17/20, and each iteration is

    rank' = 150000 + (17 · Σ contrib) div 20          (contrib = rank div out_deg)

— bit-identical on any engine, any partitioning, any core count.  The
oracle unrolls the fixed iteration count as chained CTEs (aggregation
inside a recursive CTE term is not portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import loop_kernels as lk
from .ranking import release_local_checkpoint

PR_SCALE = 1_000_000


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    eager: bool = True,
    dangling_mass: bool = False,
    broadcast_max_nodes: int = 4_000_000,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge list, ``iters`` fixed iterations,
    exact integer fixed-point throughout.

    ``weight_col`` (r12): integer edge multiplicities.  A multigraph
    collapsed to distinct ``(src, dst)`` + count is BIT-IDENTICAL to
    feeding the expanded edge list: out-degree becomes Σw (the
    multigraph out-degree) and each collapsed edge contributes
    w · (rank div deg) — w identical copies of the same truncating
    division, and the exact integer Σ commutes with the grouping.
    Collapsing shrinks every per-round join/agg frame from edge ROWS to
    DISTINCT pairs (the q114/q153 sf10 win: ~60M lineitem-pair rows vs
    their distinct customer→supplier pairs).

    ``dangling_mass=False`` (default, q114's form): the classic
    0.15 + 0.85·Σ recurrence with no dangling redistribution — the
    textbook/Spark-example formulation.  ``dangling_mass=True``: the
    exact form — each iteration the rank mass sitting on dangling nodes
    (no out-edges) is redistributed uniformly, so

        rank' = 150000 + (17 · (Σ contrib + dang_sum div N)) div 20

    with dang_sum = Σ rank_fx over dangling nodes and N = node count —
    still all truncating integer ops, still bit-identical on any
    engine/partitioning.  (Without it, total rank leaks each iteration
    on graphs with sinks — fine for relative ranking, wrong for a
    probability interpretation.)

    Returns (node, rank_fx, rank) for every node appearing as src OR
    dst; ``rank = rank_fx / 10^6`` is the one final float division.

    Scale shape (r11, the q149-LPA treatment — q114 measured 11.7×
    wall for 10× edges at sf10 before, the per-round |E|-shuffle
    disease): the edge frame is hash-partitioned by dst ONCE into a
    persist()ed cache and the |V|-sized per-round state (rank/degree
    contribution map) is BROADCAST while |V| fits
    ``broadcast_max_nodes`` — each round is then BroadcastHashJoin +
    partition-local groupBy(dst) partial/final sums + a co-partitioned
    left join against the node-partitioned nodes cache: ZERO per-round
    non-broadcast exchanges.  Beyond the bound the shuffle-join path
    keeps the classic cost model (edge count bounds the shuffle) — and
    skips the upfront |E| repartition entirely (r12, ADVICE): the
    per-round join re-shuffles on _src and the groupBy(_dst)
    re-exchanges anyway, so a dst-partitioned cache buys nothing on
    exactly the web-scale path.  The
    dangling term builds its node set (anti-join vs out-degree) and N
    ONCE before the loop, then adds one broadcast semi-join + 1-row
    aggregate per iteration; per-iteration ranks are localCheckpoint'd
    so the plan stays one-iteration deep (convention 2) — ranks are
    only ever the broadcast side, so losing their partitioning at the
    checkpoint costs nothing.  Both paths compute the identical exact
    integer recurrence.

    Up to ``loop_kernels.KERNEL_MAX_EDGES`` edges the whole loop is one
    NumPy task over the persisted edge frame (``loop_kernels.pagerank``,
    same recurrence; the result is always materialized): two jobs, the
    edge count and the kernel.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    cols = [F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("_w"))
    e0 = edges.select(*cols).persist()
    if lk.small(e0):
        ranks = lk.run(
            e0, lk.pagerank,
            lk.schema(("node", lk.id_type(e0, "_src", "_dst")), ("rank_fx", lk.LONG)),
            iters=iters, dangling_mass=dangling_mass,
            weighted=weight_col is not None, scale=PR_SCALE,
        )
        e0.unpersist()
        return ranks.withColumn(
            "rank", F.col("rank_fx").cast("double") / F.lit(float(PR_SCALE))
        )
    nodes = (
        e0.select(F.col("_src").alias("node"))
        .union(e0.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition(F.col("node"))
        .persist()
    )
    n_nodes = nodes.count()  # one scalar, bounded (fills both caches)
    small_v = n_nodes <= broadcast_max_nodes
    if small_v:
        # dst-partitioned cache so every round's groupBy(_dst) is
        # partition-local; materialize it, then drop the unpartitioned
        # copy — |E| is cached once, not twice
        e = e0.repartition(F.col("_dst")).persist()
        e.count()
        e0.unpersist()
    else:
        e = e0
    deg = (
        e.groupBy("_src")
        .agg(
            (F.sum("_w") if weight_col is not None else F.count(F.lit(1)))
            .cast("long")
            .alias("_deg")
        )
        .persist()  # consumed every iteration (contrib join + dangling)
    )

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_v else df

    dangling = None
    if dangling_mass:
        # loop-invariant: the dangling node SET (never a src) and N —
        # build once; only the sum over current ranks changes per round.
        dangling = nodes.join(
            deg, nodes["node"] == deg["_src"], "left_anti"
        ).persist()
    ranks = nodes.withColumn("rank_fx", F.lit(PR_SCALE).cast("long"))
    for _ in range(iters):
        cmap = (
            ranks.join(_b(deg), ranks["node"] == deg["_src"])
            .withColumn("_c", F.expr("rank_fx div _deg"))
            .select("_src", "_c")
        )
        contrib = (
            e.join(_b(cmap), "_src")
            .groupBy("_dst")
            .agg(
                F.sum(
                    F.col("_c") * F.col("_w")
                    if weight_col is not None
                    else F.col("_c")
                )
                .cast("long")
                .alias("_s")
            )
        )
        # contrib is <=|V| rows by construction — broadcasting it makes
        # the left join build-side and exchange-free on the small path
        base = nodes.join(_b(contrib), nodes["node"] == contrib["_dst"], "left")
        if dangling_mass:
            # dang_sum div N as a 1-row broadcast: one semi-join of the
            # current ranks against the precomputed dangling set, one
            # scalar agg — N is a literal, nothing else recomputes.
            share = (
                ranks.join(_b(dangling.select("node")), "node", "left_semi")
                .agg(
                    F.coalesce(F.sum("rank_fx"), F.lit(0))
                    .cast("long")
                    .alias("_dsum")
                )
                .select(F.expr(f"_dsum div {n_nodes}").alias("_share"))
            )
            ranks = (
                base.crossJoin(F.broadcast(share))
                .withColumn(
                    "rank_fx",
                    F.lit(150_000).cast("long")
                    + F.expr("(17 * (coalesce(_s, 0) + _share)) div 20"),
                )
                .select("node", "rank_fx")
                .localCheckpoint()
            )
        else:
            ranks = (
                base.withColumn(
                    "rank_fx",
                    F.lit(150_000).cast("long")
                    + F.expr("(17 * coalesce(_s, 0)) div 20"),
                )
                .select("node", "rank_fx")
                .localCheckpoint()
            )
    out = ranks.withColumn(
        "rank", F.col("rank_fx").cast("double") / F.lit(float(PR_SCALE))
    )
    if eager:
        out = out.localCheckpoint()
    e.unpersist()
    nodes.unpersist()
    deg.unpersist()
    if dangling is not None:
        dangling.unpersist()
    return out


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    eager: bool = True,
    include_degree: bool = False,
) -> DataFrame:
    """Exact per-node triangle counts over an UNDIRECTED simple graph
    given as canonical edges (src < dst, already distinct) — the other
    classic one-shot graph kernel next to PageRank (clustering
    coefficient / community-density building block).

    Algorithm: degree-ordered orientation (the MapReduce-era standard —
    Suri & Vassilvitskii WWW'11 / Cohen's MR triangle counting).  Every
    edge is oriented from its lower-(degree, id) endpoint to the higher
    one; a triangle {a,b,c} then materializes EXACTLY ONCE as the wedge
    (u→v, u→w) at its lowest-ranked corner u plus the closing oriented
    edge (v→w).  Out-degrees under this orientation are bounded by
    O(sqrt(m)) on any graph (arboricity argument), so the wedge join is
    Σ outdeg² ≪ Σ deg² — the skew-killer that makes the self-join safe
    where a naive adjacency join explodes on hub nodes.

    Returns (node, tri_cnt) for EVERY node of the graph (zeros kept;
    ``include_degree=True`` adds deg for ratio consumers like
    ``clustering_coefficient``) — per-node counts are orientation-
    independent, so any engine can verify against a canonical-order
    enumeration.

    Scale shape: two hash joins on node keys (wedge build + closure
    probe) + one explode-3 groupBy; no global sort, no window, no
    driver-side state.  The rank key packs (deg, node) into one long
    (deg·2^32 + node — node ids must fit 32 bits unsigned), so the
    orientation costs one projection, not an extra join.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    )
    if eager:
        e = e.localCheckpoint(eager=True)  # edge build never re-executes
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    # rank = deg·2^32 + node: one long, total order, ties broken by id.
    # The packing REQUIRES node ids in [0, 2^32) — a silent collision
    # would drop or mis-corner triangles, so oversized ids fail LOUD
    # (same contract discipline as sources/tables.py:events_ts_divisor).
    in_range = (F.col("node") >= 0) & (F.col("node") < F.lit(1 << 32))
    rank = deg.select(
        F.when(in_range, F.col("node"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "triangle_counts: node id outside [0, 2^32) "
                        "breaks the (deg,id) rank packing: "
                    ),
                    F.col("node").cast("string"),
                )
            ).cast("long")
        )
        .alias("node"),
        (F.col("deg") * F.lit(1 << 32) + F.col("node")).alias("rk"),
    )
    ru = rank.select(F.col("node").alias("u"), F.col("rk").alias("rku"))
    rv = rank.select(F.col("node").alias("v"), F.col("rk").alias("rkv"))
    oriented = (
        e.join(ru, "u").join(rv, "v")
        .select(
            F.when(F.col("rku") < F.col("rkv"), F.col("u"))
            .otherwise(F.col("v")).alias("src"),
            F.when(F.col("rku") < F.col("rkv"), F.col("v"))
            .otherwise(F.col("u")).alias("dst"),
            F.when(F.col("rku") < F.col("rkv"), F.col("rkv"))
            .otherwise(F.col("rku")).alias("rk_dst"),
        )
    )
    if eager:
        oriented = oriented.localCheckpoint(eager=True)  # 3 consumers
    w1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col("rk_dst").alias("rkb"),
    )
    w2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.col("rk_dst").alias("rkc"),
    )
    wedges = w1.join(w2, "a").filter(F.col("rkb") < F.col("rkc"))
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"], "inner").select("a", "b", "c")
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
    )
    cols = ["node"] + (["deg"] if include_degree else [])
    return (
        deg.select(*cols)
        .join(corners, "node", "left")
        .select(
            *cols,
            F.coalesce(F.col("_t"), F.lit(0).cast("long")).alias("tri_cnt"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    eager: bool = True,
) -> DataFrame:
    """Exact local clustering coefficient per node: the fraction of a
    node's neighbor pairs that are themselves connected —
    2·tri / (deg·(deg−1)) — the standard community-density score on top
    of ``triangle_counts``.

    Determinism: the ratio is held as an exact truncating-integer
    parts-per-million (lcc_ppm = 2·10^6·tri div (deg·(deg−1)); 0 for
    deg < 2) plus one display double from identical operands — no
    float accumulation anywhere.  Overflow-safe to tri < 2^43.

    Scale shape: triangle_counts' shape plus one projection.
    """
    t = triangle_counts(
        edges, src_col, dst_col, eager=eager, include_degree=True
    )
    pairs = F.col("deg") * (F.col("deg") - 1)
    lcc_ppm = F.when(
        F.col("deg") >= 2,
        F.expr("(2 * 1000000 * tri_cnt) div (deg * (deg - 1))"),
    ).otherwise(F.lit(0)).cast("long")
    return t.select(
        "node",
        "deg",
        "tri_cnt",
        lcc_ppm.alias("lcc_ppm"),
        F.when(pairs > 0, (F.lit(2.0) * F.col("tri_cnt").cast("double"))
               / pairs.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 50,
    eager: bool = True,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node whose degree in the CURRENT subgraph is < k until none
    remains, and return the surviving nodes with their core-subgraph
    degree — the standard dense-region extractor (community seeds,
    spam/bot rings, "structurally important" entity filtering) the
    graph family was missing next to PageRank / triangles / CC.

    Input contract matches ``triangle_counts``: canonical UNDIRECTED
    simple edges (src < dst, distinct).  Output: (node, deg), deg ≥ k.
    Semantics are purely set/integer-valued — no floats anywhere — so
    the result is engine- and partitioning-independent by construction
    (the peeling fixed point is unique regardless of deletion order:
    classic result, cf. Batagelj & Zaversnik cs/0310049).

    Each round is one degree groupBy (map-side combined) + two
    left-semi joins restricting the edge list to surviving endpoints;
    the new edge frame is localCheckpoint'd so the plan never deepens
    (convention 2; swap for reliable checkpoint on a cluster) and the
    previous round's frame is unpersisted.  Termination is a driver
    SCALAR comparison (surviving-node count vs node count — never a
    data collect).  Rounds needed = peeling depth of the graph, small
    in practice (each round removes every currently-sub-k node at
    once); ``max_iters`` is a loud guard, not a silent truncation.
    The first edge checkpoint is counted; up to
    ``loop_kernels.KERNEL_MAX_EDGES`` edges the peeling is one NumPy
    task over it (``loop_kernels.kcore``, same rounds, same guard).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint(eager=True)
    if lk.small(e):
        out = lk.run(
            e, lk.kcore,
            lk.schema(("node", lk.id_type(e, "u", "v")), ("deg", lk.LONG)),
            k=k, max_iters=max_iters,
        )
        release_local_checkpoint(e)
        return out
    for _ in range(max_iters):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .persist()
        )
        # r12: ONE 1-row aggregate fills the cache and yields both
        # convergence scalars — the r11 shape paid two driver actions
        # per round (deg.count() then keep.count()) for the same cached
        # frame; at peeling depth d that is d extra job round-trips.
        row = deg.agg(
            F.count(F.lit(1)).alias("_n"),
            F.coalesce(
                F.sum(
                    F.when(F.col("deg") >= F.lit(k), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            ).alias("_k"),
        ).collect()[0]
        n_nodes, n_keep = row["_n"], row["_k"]
        keep = deg.filter(F.col("deg") >= F.lit(k)).select("node")
        if n_keep == n_nodes:
            out = deg  # fixed point: every remaining node has deg >= k
            if eager:
                out = out.localCheckpoint()
            deg.unpersist()
            e.unpersist()
            return out
        e2 = (
            e.join(keep, e["u"] == keep["node"], "left_semi")
            .join(keep.select(F.col("node").alias("_n2")),
                  F.col("v") == F.col("_n2"), "left_semi")
            .localCheckpoint(eager=True)
        )
        deg.unpersist()
        e.unpersist()
        e = e2
    raise RuntimeError(
        f"kcore did not converge in {max_iters} rounds - raise max_iters"
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_max_nodes: int = 4_000_000,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over canonical undirected edges (src < dst, distinct),
    made DETERMINISTIC: labels start as the node id; each round every
    node adopts the most frequent label among its neighbors with ties
    broken by the SMALLEST label; exactly ``iters`` rounds run.  The
    async/random-order variants of LPA are irreproducible by design —
    the fixed-round synchronous form is the one a distributed engine
    can execute bit-identically on any partitioning (and the one an
    oracle can replay; oscillation on bipartite-ish structures is
    bounded by the fixed round count, the documented trade).

    Returns (node, label) for every node of the graph.

    Scale shape (r11, fixing the r10 sf10 superlinearity — 13.3× wall
    for 10× edges was per-round shuffle volume: the old plan exchanged
    the 2|E| incidence frame by nbr for the join, then the joined 2|E|
    rows by (node,label), then by node, EVERY round).  |V| ≤ |E|+1 is
    the small frame here, so when |V| fits a broadcast
    (``broadcast_max_nodes``) the incidence frame is hash-partitioned
    by node ONCE and persist()ed — InMemoryRelation preserves
    outputPartitioning, unlike localCheckpoint's LogicalRDD — and each
    round is BroadcastHashJoin(labels) + partial/final counts + the
    per-node struct-argmin, ALL partition-local: zero per-round
    exchanges of anything |E|-sized, only a |V|-row broadcast.  Beyond
    the broadcast bound (web-scale |V|) the shuffle-join path runs:
    per round one node-keyed hash join + map-side-combined
    groupBy(node,label) + argmin — Σ deg bounds each round, exactly
    PageRank's cost model.  Labels localCheckpoint each round so the
    iterating side's plan never deepens (convention 2); both paths
    compute the identical exact-integer argmin.

    The edge frame is persisted and counted.  Up to
    ``loop_kernels.KERNEL_MAX_EDGES`` edges all rounds are one NumPy task
    (``loop_kernels.label_propagation``); above it the cached edges feed
    the ``nbrs`` fill (one read instead of the union's two upstream
    scans) and are dropped as soon as ``nbrs`` is filled.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).persist()
    if lk.small(e):
        t = lk.id_type(e, "u", "v")
        out = lk.run(
            e, lk.label_propagation, lk.schema(("node", t), ("label", t)),
            iters=iters,
        )
        e.unpersist()
        return out
    incidence = e.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionByName(e.select(F.col("v").alias("node"), F.col("u").alias("nbr")))

    # one persisted copy, partitioned by node so every round's counts
    # and argmin stay partition-local on the broadcast path
    nbrs = incidence.repartition(F.col("node")).persist()
    labels = (
        nbrs.select("node")
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    n_nodes = labels.count()  # driver scalar (nbrs' cache filled by the
    # eager labels checkpoint above, which scans it)
    small_v = n_nodes <= broadcast_max_nodes
    for _ in range(iters):
        old = labels
        labels = _lpa_round(nbrs, labels, small_v).localCheckpoint(eager=True)
        old.unpersist()
    nbrs.unpersist()
    return labels


def _lpa_round(nbrs: DataFrame, labels: DataFrame, small_v: bool) -> DataFrame:
    """One synchronous LPA round: neighbor-label lookup, (node,label)
    counts, per-node (−count, label) struct-argmin.  With ``small_v``
    and ``nbrs`` hash-partitioned by node, the whole round plans with
    zero non-broadcast exchanges (pinned by tests/test_graph.py)."""
    lab = labels.select(F.col("node").alias("nbr"), F.col("label"))
    joined = nbrs.join(F.broadcast(lab) if small_v else lab, "nbr")
    cnt = joined.groupBy("node", "label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return cnt.groupBy("node").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("_negcnt"),
                F.col("label").alias("_lbl"),
            )
        )["_lbl"].alias("label")
    )


def _with_sources(e: DataFrame, sources: DataFrame) -> DataFrame:
    """The BFS/SSSP kernel input, one frame for one task: the rows of
    ``e`` (source, target[, weight]) as (_u, _v[, _w], _s=false), then
    one (node, node[, 0], _s=true) row per source."""
    names = ["_u", "_v", "_w"][: len(e.columns)]
    s_cols = [F.col("node"), F.col("node"), F.lit(0).cast("long")]
    return e.toDF(*names).withColumn("_s", F.lit(False)).unionByName(
        sources.select(
            *[c.alias(n) for c, n in zip(s_cols, names)], F.lit(True).alias("_s")
        )
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS over canonical undirected edges: the exact
    hop distance from the NEAREST source for every node within
    ``max_hops`` — the influence-radius / contamination-blast-radius /
    "how far is every product from a recalled one" primitive.

    ``sources`` must have a ``node`` column; sources not present in
    the graph still appear at dist 0 (they are their own neighborhood).
    Returns (node, dist), 0 ≤ dist ≤ max_hops; unreachable-within-k
    nodes are absent.  Pure set/integer semantics — deterministic on
    any engine/partitioning.

    Scale shape: classic frontier expansion — per hop ONE node-keyed
    join frontier⋈adjacency + distinct + anti-join against the visited
    set, all localCheckpoint'd (conv 2); early-exit on an empty
    frontier is a driver SCALAR.  Per-hop cost is bounded by the
    frontier's edge incidence, never the whole graph; ``max_hops``
    bounds the rounds (the 100 TB guard against high-diameter
    runaways).

    The edge frame is persisted and counted.  Up to
    ``loop_kernels.KERNEL_MAX_EDGES`` edges the expansion is one NumPy
    task (``loop_kernels.bfs``) over the edges with the sources stacked
    on; above it the loop below runs, its adjacency checkpoint reading
    the cached edges, which are dropped as soon as it is built.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")).persist()
    if lk.small(e):
        both = _with_sources(e, sources)
        out = lk.run(
            both, lk.bfs,
            lk.schema(("node", lk.id_type(both, "_u", "_v")), ("dist", lk.LONG)),
            max_hops=max_hops,
        )
        e.unpersist()
        return out
    nbrs = (
        e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    frontier = sources.select("node").distinct().localCheckpoint(eager=True)
    visited = frontier.withColumn("dist", F.lit(0).cast("long"))
    visited = visited.localCheckpoint(eager=True)
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(nbrs, "node")
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            frontier.unpersist()
            break
        old_v, old_f = visited, frontier
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(hop).cast("long"))
        ).localCheckpoint(eager=True)
        frontier = nxt
        old_v.unpersist()
        old_f.unpersist()
    nbrs.unpersist()
    return visited


HITS_SCALE = 1_000_000


def hits_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    broadcast_max_nodes: int = 4_000_000,
    weight_col: str | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list, ``iters`` synchronous rounds, exact integer fixed point —
    the mutually-recursive ranking pair next to PageRank (on a
    customer→supplier graph: hubby customers buy from authoritative
    suppliers).

    Float HITS needs L2 normalization (order-sensitive Σ of doubles);
    the deterministic form here max-normalizes instead — each round

        a(v) = Σ_{u→v} h(u);  a ← a·10^6 div max(a)
        h(u) = Σ_{u→v} a(v);  h ← h·10^6 div max(h)

    all truncating integer ops on non-negative values (Spark div ==
    DuckDB //), so scores are bit-identical on any engine or
    partitioning; max-norm keeps the same ranking as L2-norm HITS (the
    iteration is the same linear map, only the scaling differs).
    Overflow bound: max in-degree·10^12 < 2^63 ⇒ degrees to ~9·10^6
    are safe — documented, plenty at any tested SF.

    Returns (node, hub_fx, auth_fx) for every node, scale 10^6; pure
    sinks have hub_fx = 0, pure sources auth_fx = 0.

    ``weight_col`` (r12): integer edge multiplicities — a multigraph
    collapsed to distinct ``(src, dst)`` + count is bit-identical
    (each half-round sums w · state, exactly w copies of the same
    term; exact integer Σ commutes with the grouping) and shrinks the
    six per-round join/agg passes from edge ROWS to distinct pairs.
    The overflow bound is unchanged: Σw over in-edges IS the
    multigraph in-degree.

    Scale shape (r11, the q149-LPA treatment — q153 measured 7.8× wall
    for 10× edges at sf10 before): TWO persisted copies of the edge
    frame, hash-partitioned by dst (authority phase) and by src (hub
    phase), and the |V|-sized hub/authority state BROADCAST while |V|
    fits ``broadcast_max_nodes`` — each half-round is then
    BroadcastHashJoin + partition-local groupBy partial/final sums + a
    co-partitioned left join against the node-partitioned nodes cache:
    zero per-round non-broadcast exchanges, at the cost of caching 2|E|
    rows.  Beyond the bound the single-copy shuffle-join path keeps the
    PageRank-×2 cost model.  Two 1-row max broadcasts per round either
    way; state frames localCheckpoint'd (conv 2 — they are only ever
    the broadcast side, so the lost partitioning costs nothing).

    Up to ``loop_kernels.KERNEL_MAX_EDGES`` edges all rounds are one
    NumPy task (``loop_kernels.hits``), with the overflow bound above
    checked loudly.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    cols = [F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("_w"))
    e0 = edges.select(*cols).persist()
    if lk.small(e0):
        out = lk.run(
            e0, lk.hits,
            lk.schema(
                ("node", lk.id_type(e0, "_src", "_dst")),
                ("hub_fx", lk.LONG),
                ("auth_fx", lk.LONG),
            ),
            iters=iters, weighted=weight_col is not None, scale=HITS_SCALE,
        )
        e0.unpersist()
        return out
    nodes = (
        e0.select(F.col("_src").alias("node"))
        .unionByName(e0.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition(F.col("node"))
        .persist()
    )
    small_v = nodes.count() <= broadcast_max_nodes
    if small_v:
        # phase-partitioned caches so each half-round's groupBy is
        # partition-local; materialize, then drop the unpartitioned
        # copy (2|E| cached, as before — not 3)
        e_dst = e0.repartition(F.col("_dst")).persist()
        e_src = e0.repartition(F.col("_src")).persist()
        e_dst.count()
        e_src.count()
        e0.unpersist()
    else:
        # fallback (r12, mirrors PageRank): per-round joins re-shuffle
        # on the join key anyway — an upfront repartition buys nothing
        e_dst = e_src = e0

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_v else df

    hubs = nodes.withColumn("h", F.lit(HITS_SCALE).cast("long"))
    auths = None
    for _ in range(iters):
        a_raw = (
            e_dst.join(_b(hubs.withColumnRenamed("node", "_src")), "_src")
            .groupBy("_dst")
            .agg(
                F.sum(
                    F.col("h") * F.col("_w")
                    if weight_col is not None
                    else F.col("h")
                )
                .cast("long")
                .alias("_s")
            )
        )
        a_full = (
            nodes.join(_b(a_raw), nodes["node"] == a_raw["_dst"], "left")
            .select("node", F.coalesce("_s", F.lit(0)).cast("long").alias("a"))
        )
        a_max = a_full.agg(F.max("a").alias("_m"))
        auths = (
            a_full.crossJoin(F.broadcast(a_max))
            .select(
                "node",
                F.expr(f"(a * {HITS_SCALE}) div _m").cast("long").alias("a"),
            )
            .localCheckpoint()
        )
        h_raw = (
            e_src.join(_b(auths.withColumnRenamed("node", "_dst")), "_dst")
            .groupBy("_src")
            .agg(
                F.sum(
                    F.col("a") * F.col("_w")
                    if weight_col is not None
                    else F.col("a")
                )
                .cast("long")
                .alias("_s")
            )
        )
        h_full = (
            nodes.join(_b(h_raw), nodes["node"] == h_raw["_src"], "left")
            .select("node", F.coalesce("_s", F.lit(0)).cast("long").alias("h"))
        )
        h_max = h_full.agg(F.max("h").alias("_m"))
        hubs = (
            h_full.crossJoin(F.broadcast(h_max))
            .select(
                "node",
                F.expr(f"(h * {HITS_SCALE}) div _m").cast("long").alias("h"),
            )
            .localCheckpoint()
        )
    out = (
        hubs.join(auths, "node")
        .select(
            "node",
            F.col("h").alias("hub_fx"),
            F.col("a").alias("auth_fx"),
        )
        .localCheckpoint()
    )
    if small_v:
        e_dst.unpersist()
        e_src.unpersist()
    else:
        e0.unpersist()
    nodes.unpersist()
    return out


def sssp_rounds(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths: ``rounds`` synchronous
    Bellman-Ford relaxation sweeps over an undirected weighted edge
    list — the weighted complement of ``bfs_distances`` (hop counts
    ignore cost; this is the cheapest-route / least-friction distance).

    Semantics are round-exact, NOT convergence-dependent: the result
    is "min path weight using ≤ ``rounds`` edges" — deterministic for
    any graph (including ones whose full SSSP would need more rounds),
    so the oracle can unroll the identical sweeps.  All weights must
    be non-negative integers (exact BIGINT mins, no floats anywhere).

    Returns (node, dist) for nodes reachable within ``rounds`` edges;
    sources are dist 0.  Scale shape: per round one edge⋈distance join
    + a map-side-combined min groupBy, localCheckpoint'd (conv 2 —
    the lineage would otherwise double per round); cost tracks edge
    incidence of the reached set, never the whole graph.  Up to
    ``loop_kernels.KERNEL_MAX_EDGES`` edges all sweeps are one NumPy
    task (``loop_kernels.sssp``) over the persisted edges with the
    sources stacked on; above it the cached edges feed the adjacency
    checkpoint and are dropped.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = edges.select(
        F.col(src_col).alias("_u"),
        F.col(dst_col).alias("_v"),
        F.col(weight_col).cast("long").alias("_w"),
    ).persist()
    if lk.small(e):
        both = _with_sources(e, sources)
        out = lk.run(
            both, lk.sssp,
            lk.schema(("node", lk.id_type(both, "_u", "_v")), ("dist", lk.LONG)),
            rounds=rounds,
        )
        e.unpersist()
        return out
    nb = e.unionByName(
        e.select(
            F.col("_v").alias("_u"), F.col("_u").alias("_v"), "_w"
        )
    ).localCheckpoint(eager=True)
    e.unpersist()
    dist = (
        sources.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        relaxed = (
            nb.join(dist, nb["_u"] == dist["node"])
            .select(
                F.col("_v").alias("node"),
                (F.col("dist") + F.col("_w")).cast("long").alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist
