"""Fixed-point PageRank: hand-computed ranks, ordering sanity, and
rerun determinism (the properties behind q114's exact-integer oracle).

Small inputs take the single-task NumPy kernel path
(operators/loop_kernels.py); ``test_distributed_path`` reruns every
hand-computed and reference test with ``KERNEL_MAX_EDGES`` forced to 0,
so the distributed loops stay pinned by the same literals."""

import pytest
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.operators import loop_kernels
from etl_marketeye_airflow_spark.operators.graph import (
    PR_SCALE,
    pagerank_fixed_point,
)


def test_pagerank_hand_computed_two_iters(spark):
    """A→B, A→C, B→C, 2 iterations, damping 17/20, scale 10^6:
    r1 = (A 150000, B 575000, C 1425000);
    r2 = (A 150000, B 213750, C 702500) — worked by hand with the
    exact truncating-division recurrence."""
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {
        r.node: r.rank_fx
        for r in pagerank_fixed_point(e, iters=2, eager=True).collect()
    }
    assert got == {1: 150_000, 2: 213_750, 3: 702_500}


def test_pagerank_star_center_dominates_and_deterministic(spark):
    """Every leaf points at the hub: the hub outranks all leaves after
    any iteration count; two runs agree bit-for-bit (integer algebra,
    no partial-agg-order sensitivity)."""
    e = spark.createDataFrame(
        [(i, 0) for i in range(1, 21)], "src long, dst long"
    )
    a = {r.node: r.rank_fx for r in pagerank_fixed_point(e, iters=3).collect()}
    b = {r.node: r.rank_fx for r in pagerank_fixed_point(e, iters=3).collect()}
    assert a == b
    assert all(a[0] > a[i] for i in range(1, 21))
    assert all(a[i] == 150_000 for i in range(1, 21))  # leaves get base only


def test_pagerank_zero_iters_is_uniform_init(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r.node: r.rank_fx for r in pagerank_fixed_point(e, iters=0).collect()}
    assert got == {1: PR_SCALE, 2: PR_SCALE}


def _replica(edges, iters, dangling):
    """Pure-python closure of the exact integer recurrence (python //
    on positives == Spark div), dangling redistribution optional."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {n: PR_SCALE for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            contrib[d] += rank[s] // out[s]
        share = (
            sum(rank[n] for n in nodes if n not in out) // len(nodes)
            if dangling
            else 0
        )
        rank = {
            n: 150_000 + (17 * (contrib[n] + share)) // 20 for n in nodes
        }
    return rank


def test_pagerank_dangling_mass_hand_computed(spark):
    """A→B, A→C, B→C (C dangling), 2 iterations with redistribution —
    literals worked by hand: iter1 (433333, 858333, 1708333), iter2
    (634027, 818193, 1547776).  Also pinned against the pure-python
    closure so the recurrence can't drift silently."""
    edges = [(1, 2), (1, 3), (2, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_fx
        for r in pagerank_fixed_point(
            e, iters=2, eager=True, dangling_mass=True
        ).collect()
    }
    assert got == {1: 634_027, 2: 818_193, 3: 1_547_776}
    assert got == _replica(edges, 2, dangling=True)


def test_pagerank_both_forms_match_replica(spark):
    """Both flag settings agree with the python closure on a graph with
    two sinks and a cycle; the default form is byte-identical to the
    pre-flag operator (q114 unchanged)."""
    edges = [(1, 2), (2, 1), (1, 3), (2, 4), (3, 5), (1, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    for flag in (False, True):
        got = {
            r.node: r.rank_fx
            for r in pagerank_fixed_point(
                e, iters=3, eager=True, dangling_mass=flag
            ).collect()
        }
        assert got == _replica(edges, 3, dangling=flag), flag


def test_pagerank_dangling_conserves_more_mass(spark):
    """With sinks present, the redistributing form keeps total rank
    near N·scale while the simplified form leaks mass each iteration."""
    edges = [(1, 2), (1, 3), (2, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    plain = sum(
        r.rank_fx for r in pagerank_fixed_point(e, iters=4).collect()
    )
    redis = sum(
        r.rank_fx
        for r in pagerank_fixed_point(e, iters=4, dangling_mass=True).collect()
    )
    n_scale = 3 * PR_SCALE
    assert abs(redis - n_scale) < abs(plain - n_scale)


def test_triangle_counts_hand_computed(spark):
    """K4 plus a pendant and an isolated-from-triangles star: K4 gives
    each of its 4 nodes exactly 3 triangles (4 triangles total, 3 per
    corner), the pendant node and star nodes get 0, and a brute-force
    replica over all node triples agrees on a second, irregular graph."""
    from itertools import combinations

    from etl_marketeye_airflow_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4}; pendant 5-1; star 6-{7,8,9} (no triangles)
    k4 = list(combinations([1, 2, 3, 4], 2))
    edges = k4 + [(1, 5), (6, 7), (6, 8), (6, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.tri_cnt for r in triangle_counts(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0, 7: 0, 8: 0, 9: 0}

    # irregular graph vs brute force over triples
    edges2 = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5),
              (5, 6), (1, 6), (2, 6), (1, 7)]
    es = set(edges2)
    nodes = sorted({n for ed in edges2 for n in ed})
    brute = {n: 0 for n in nodes}
    for a, b, c in combinations(nodes, 3):
        if all(
            (x, y) in es or (y, x) in es
            for x, y in [(a, b), (b, c), (a, c)]
        ):
            for n in (a, b, c):
                brute[n] += 1
    e2 = spark.createDataFrame(edges2, "src long, dst long")
    got2 = {r.node: r.tri_cnt for r in triangle_counts(e2).collect()}
    assert got2 == brute


def test_triangle_counts_rejects_oversized_node_ids(spark):
    """The (deg,id) rank packing requires ids < 2^32 — oversized ids
    must fail LOUD, never silently corrupt counts."""
    import pytest

    from etl_marketeye_airflow_spark.operators.graph import triangle_counts

    e = spark.createDataFrame(
        [(1, 2), (2, (1 << 32) + 7), (1, (1 << 32) + 7)],
        "src long, dst long",
    )
    with pytest.raises(Exception, match="2\\^32|node id outside"):
        triangle_counts(e).collect()


def test_clustering_coefficient_hand_computed(spark):
    """K4: every node has deg 3, 3 triangles, lcc = 1. A path graph:
    middle node deg 2, no triangle, lcc 0. Triangle-with-tail: the
    tail-attachment node has deg 3, 1 triangle → lcc = 1/3 (ppm
    333333 by truncation)."""
    from itertools import combinations

    from etl_marketeye_airflow_spark.operators.graph import (
        clustering_coefficient,
    )

    k4 = list(combinations([1, 2, 3, 4], 2))
    got = {
        r.node: r
        for r in clustering_coefficient(
            spark.createDataFrame(k4, "src long, dst long")
        ).collect()
    }
    assert all(
        (got[n].deg, got[n].tri_cnt, got[n].lcc_ppm, got[n].lcc)
        == (3, 3, 1_000_000, 1.0)
        for n in (1, 2, 3, 4)
    )

    tri_tail = [(1, 2), (2, 3), (1, 3), (3, 4)]
    got = {
        r.node: r
        for r in clustering_coefficient(
            spark.createDataFrame(tri_tail, "src long, dst long")
        ).collect()
    }
    assert (got[3].deg, got[3].tri_cnt, got[3].lcc_ppm) == (3, 1, 333_333)
    assert got[3].lcc == pytest.approx(1 / 3)
    assert (got[4].deg, got[4].tri_cnt, got[4].lcc_ppm, got[4].lcc) == (
        1, 0, 0, 0.0,
    )


# ---------------------------------------------------------------- kcore


def _peel_reference(edges, k):
    """Pure-python peeling reference: returns {node: final degree}."""
    cur = set(edges)
    while True:
        deg = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg
        cur = {(u, v) for u, v in cur if u not in drop and v not in drop}


def test_kcore_hand_computed(spark):
    """K4 on {1,2,3,4} plus a tail 4-5-6: the 3-core is exactly the K4
    (every tail node peels: 6 first, then 5, then the 4-side edge is
    already gone) — each survivor has degree 3."""
    from etl_marketeye_airflow_spark.operators.graph import kcore

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(4, 5), (5, 6)]
    e = spark.createDataFrame(k4 + tail, "src long, dst long")
    got = {r.node: r.deg for r in kcore(e, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_cascade_matches_python_reference(spark):
    """A long chain hanging off a clique peels one node per round (the
    deep-cascade case); result matches the pure-python reference and
    rerun is bit-identical (set/integer semantics)."""
    from etl_marketeye_airflow_spark.operators.graph import kcore

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = [(4, 10), (10, 11), (11, 12), (12, 13), (13, 14)]
    edges = clique + chain
    e = spark.createDataFrame(edges, "src long, dst long")
    want = _peel_reference(edges, 2)
    got = {r.node: r.deg for r in kcore(e, k=2).collect()}
    got2 = {r.node: r.deg for r in kcore(e, k=2).collect()}
    assert got == want and got2 == got


def test_kcore_fully_peeled_graph_is_empty(spark):
    """A tree has no 2-core: every node eventually peels and the result
    is empty (the n_keep==0 -> empty fixed-point path)."""
    from etl_marketeye_airflow_spark.operators.graph import kcore

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4), (3, 5)], "src long, dst long"
    )
    assert kcore(e, k=2).count() == 0


def test_kcore_guards(spark):
    """k < 1 and non-convergence-within-budget both fail loudly."""
    from etl_marketeye_airflow_spark.operators.graph import kcore

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        kcore(e, k=0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(chain, k=2, max_iters=2)


# ----------------------------------------------------- label_propagation


def test_lpa_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: labels converge to each
    clique's minimum id; the bridge endpoints stay with their own
    clique (3 internal neighbors beat 1 external)."""
    from etl_marketeye_airflow_spark.operators.graph import (
        label_propagation,
    )

    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    e = spark.createDataFrame(c1 + c2 + [(4, 10)], "src long, dst long")
    got = {r.node: r.label for r in label_propagation(e, iters=4).collect()}
    assert all(got[n] == 1 for n in range(1, 5)), got
    assert all(got[n] == 10 for n in range(10, 14)), got


def test_lpa_matches_python_reference(spark):
    """Synchronous fixed-round LPA vs a direct python replay on an
    irregular graph — same labels after every round count 0..3, and
    rerun is bit-identical."""
    from etl_marketeye_airflow_spark.operators.graph import (
        label_propagation,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (5, 6), (6, 7),
             (5, 7), (2, 7)]

    def reference(iters):
        nbrs = {}
        for u, v in edges:
            nbrs.setdefault(u, []).append(v)
            nbrs.setdefault(v, []).append(u)
        lbl = {n: n for n in nbrs}
        for _ in range(iters):
            new = {}
            for n, ns in nbrs.items():
                cnt = {}
                for m in ns:
                    cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
                best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
                new[n] = best[0]
            lbl = new
        return lbl

    e = spark.createDataFrame(edges, "src long, dst long")
    for iters in range(4):
        got = {r.node: r.label
               for r in label_propagation(e, iters=iters).collect()}
        assert got == reference(iters), iters


# --------------------------------------------------------- bfs_distances


def test_bfs_distances_hand_computed(spark):
    """Path 1-2-3-4-5 with source {1}: dists 0..3 within max_hops=3,
    node 5 absent; multi-source {1,5} floods from both ends."""
    from etl_marketeye_airflow_spark.operators.graph import bfs_distances

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    src1 = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist
           for r in bfs_distances(e, src1, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    src2 = spark.createDataFrame([(1,), (5,)], "node long")
    got2 = {r.node: r.dist
            for r in bfs_distances(e, src2, max_hops=3).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_distances_early_exit_and_isolated_source(spark):
    """A source disconnected from everything stays at dist 0; the
    frontier empties before max_hops and the loop exits early with the
    correct closure (nearest-source semantics on a triangle)."""
    from etl_marketeye_airflow_spark.operators.graph import bfs_distances

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    src = spark.createDataFrame([(1,), (99,)], "node long")
    got = {r.node: r.dist
           for r in bfs_distances(e, src, max_hops=10).collect()}
    assert got == {1: 0, 99: 0, 2: 1, 3: 1}


# ----------------------------------------------------------------- HITS


def _hits_reference(edges, iters):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    h = {n: 1_000_000 for n in nodes}
    a = {}
    for _ in range(iters):
        a = {n: 0 for n in nodes}
        for u, v in edges:
            a[v] += h[u]
        m = max(a.values())
        a = {n: (x * 1_000_000) // m for n, x in a.items()}
        h = {n: 0 for n in nodes}
        for u, v in edges:
            h[u] += a[v]
        m = max(h.values())
        h = {n: (x * 1_000_000) // m for n, x in h.items()}
    return h, a


def test_hits_matches_python_reference(spark):
    """Bipartite-ish directed graph with a shared authority: scores
    match the integer reference for 1..3 rounds, rerun bit-identical,
    and the shared authority dominates."""
    from etl_marketeye_airflow_spark.operators.graph import (
        hits_fixed_point,
    )

    edges = [(1, 10), (2, 10), (3, 10), (1, 11), (2, 12), (10, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3):
        want_h, want_a = _hits_reference(edges, iters)
        got = {r.node: (r.hub_fx, r.auth_fx)
               for r in hits_fixed_point(e, iters=iters).collect()}
        assert got == {n: (want_h[n], want_a[n]) for n in want_h}, iters
    h, a = _hits_reference(edges, 3)
    assert max(a, key=a.get) == 10
    # pure sink 12: never a src -> hub 0; pure sources 1,2,3: auth 0
    assert h[12] == 0 and a[1] == a[2] == a[3] == 0


def test_sssp_rounds_hand_graph(spark):
    """sssp_rounds on a hand-weighted path+shortcut graph: source 0,
    edges 0-1 (w=10), 1-2 (w=10), 0-2 (w=25), 2-3 (w=1).  After 1
    round: 1→10, 2→25.  After 2: 2→20 (via 1), 3→26.  After 3:
    3→21.  Round-exactness = the defining contract."""
    from pyspark.sql import functions as F

    from etl_marketeye_airflow_spark.operators.graph import sssp_rounds

    e = spark.createDataFrame(
        [(0, 1, 10), (1, 2, 10), (0, 2, 25), (2, 3, 1)],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(0,)], "node long")
    for rounds, want in (
        (1, {0: 0, 1: 10, 2: 25}),
        (2, {0: 0, 1: 10, 2: 20, 3: 26}),
        (3, {0: 0, 1: 10, 2: 20, 3: 21}),
    ):
        got = {
            r.node: r.dist
            for r in sssp_rounds(e, src, rounds=rounds).collect()
        }
        assert got == want, rounds
    # a source keeps dist 0 even when a positive cycle passes through
    assert sssp_rounds(e, src, rounds=0).collect()[0].asDict() == {
        "node": 0,
        "dist": 0,
    }


def _per_round_shuffles(df) -> list[str]:
    """ENSURE_REQUIREMENTS shuffle exchanges in the executed plan,
    EXCLUDING cached-plan internals: walks the JVM plan tree, where an
    InMemoryTableScanExec is a leaf (the cache's one-time build plan is
    only inlined by toString, not a tree child), so per-round work is
    exactly what the walk sees."""
    found: list[str] = []

    def walk(n):
        cls = n.getClass().getSimpleName()
        if cls.startswith("AdaptiveSparkPlan"):
            walk(n.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(n.plan())
            return
        if cls == "InMemoryTableScanExec":
            return
        if cls == "ShuffleExchangeExec" and "ENSURE_REQUIREMENTS" in str(
            n.shuffleOrigin().toString()
        ):
            found.append(str(n.nodeName()))
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_lpa_round_is_exchange_free_on_broadcast_path(spark):
    """r10 verdict task 2 pin: with the incidence frame persisted
    hash-partitioned by node and |V| under the broadcast bound, one
    full LPA round (join + counts + argmin) must plan with ZERO
    non-broadcast exchanges — the r10 sf10 superlinearity was exactly
    these per-round |E|-sized shuffles (3 of them per round)."""
    from etl_marketeye_airflow_spark.operators.graph import _lpa_round

    e = spark.range(5000).select(
        (F.col("id") % 200).alias("node"), (F.col("id") % 97).alias("nbr")
    )
    nbrs = e.repartition(F.col("node")).persist()
    try:
        labels = (
            nbrs.select("node").distinct().withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        out = _lpa_round(nbrs, labels, small_v=True)
        out.collect()  # finalize the adaptive plan
        shuffles = _per_round_shuffles(out)
        assert not shuffles, shuffles
        assert "BroadcastHashJoin" in out._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        nbrs.unpersist()


def test_pagerank_round_is_exchange_free_on_broadcast_path(spark):
    """r11: one PageRank contribution round (broadcast cmap into the
    dst-partitioned edge cache + partition-local groupBy(_dst) + the
    co-partitioned left join vs the node-partitioned nodes cache) must
    plan with ZERO ENSURE_REQUIREMENTS exchanges — q114 was 11.7x per
    10x edges at sf10 under the old per-round-shuffle plan."""
    e = spark.range(5000).select(
        (F.col("id") % 211).alias("_src"), (F.col("id") % 97).alias("_dst")
    ).repartition(F.col("_dst")).persist()
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition(F.col("node"))
        .persist()
    )
    try:
        deg = e.groupBy("_src").agg(
            F.count(F.lit(1)).cast("long").alias("_deg")
        ).persist()  # one-time, like the operator — else its build
        deg.count()  # exchange re-renders inside every round's plan
        ranks = nodes.withColumn("rank_fx", F.lit(10**6).cast("long")) \
            .localCheckpoint(eager=True)
        cmap = (
            ranks.join(F.broadcast(deg), ranks["node"] == deg["_src"])
            .withColumn("_c", F.expr("rank_fx div _deg"))
            .select("_src", "_c")
        )
        contrib = (
            e.join(F.broadcast(cmap), "_src")
            .groupBy("_dst")
            .agg(F.sum("_c").cast("long").alias("_s"))
        )
        base = nodes.join(
            F.broadcast(contrib), nodes["node"] == contrib["_dst"], "left"
        ).select("node", F.coalesce("_s", F.lit(0)).alias("_s"))
        base.collect()
        shuffles = _per_round_shuffles(base)
        assert not shuffles, shuffles
        assert "BroadcastHashJoin" in base._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()


def test_iterative_graph_fallback_paths_match_broadcast(spark, monkeypatch):
    """The big-|V| shuffle-join fallbacks (broadcast_max_nodes exceeded)
    are dead code in every small-scale test unless forced — force them
    with a 1-node bound and pin bit-identical results against the
    broadcast path (the recurrences are exact integers, so ANY
    divergence is a real bug, not noise).  Both sides run distributed:
    the kernel path ignores broadcast_max_nodes."""
    from etl_marketeye_airflow_spark.operators.graph import (
        hits_fixed_point,
        label_propagation,
        pagerank_fixed_point,
    )

    monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", 0)

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (5, 1), (2, 5), (6, 1)],
        "src long, dst long",
    )
    for flag in (False, True):
        fast = {
            r.node: r.rank_fx
            for r in pagerank_fixed_point(e, iters=3, dangling_mass=flag).collect()
        }
        slow = {
            r.node: r.rank_fx
            for r in pagerank_fixed_point(
                e, iters=3, dangling_mass=flag, broadcast_max_nodes=1
            ).collect()
        }
        assert fast == slow, flag
    fast = {
        r.node: (r.hub_fx, r.auth_fx)
        for r in hits_fixed_point(e, iters=2).collect()
    }
    slow = {
        r.node: (r.hub_fx, r.auth_fx)
        for r in hits_fixed_point(e, iters=2, broadcast_max_nodes=1).collect()
    }
    assert fast == slow
    und = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (1, 3)], "u long, v long"
    )
    fast = {
        r.node: r.label
        for r in label_propagation(und, iters=3, src_col="u", dst_col="v").collect()
    }
    slow = {
        r.node: r.label
        for r in label_propagation(
            und, iters=3, src_col="u", dst_col="v", broadcast_max_nodes=1
        ).collect()
    }
    assert fast == slow


def test_hits_half_round_is_exchange_free_on_broadcast_path(spark):
    """r11: one HITS authority half-round (broadcast hub state into the
    dst-partitioned edge cache + partition-local groupBy(_dst) + the
    broadcast left join vs nodes) must plan with zero per-round
    ENSURE_REQUIREMENTS exchanges, mirroring the PageRank pin."""
    e = spark.range(5000).select(
        (F.col("id") % 211).alias("_src"), (F.col("id") % 97).alias("_dst")
    ).repartition(F.col("_dst")).persist()
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition(F.col("node"))
        .persist()
    )
    try:
        hubs = nodes.withColumn("h", F.lit(10**6).cast("long")) \
            .localCheckpoint(eager=True)
        a_raw = (
            e.join(F.broadcast(hubs.withColumnRenamed("node", "_src")), "_src")
            .groupBy("_dst")
            .agg(F.sum("h").cast("long").alias("_s"))
        )
        a_full = nodes.join(
            F.broadcast(a_raw), nodes["node"] == a_raw["_dst"], "left"
        ).select("node", F.coalesce("_s", F.lit(0)).cast("long").alias("a"))
        a_full.collect()
        shuffles = _per_round_shuffles(a_full)
        assert not shuffles, shuffles
    finally:
        e.unpersist()
        nodes.unpersist()


def test_weighted_collapse_matches_multigraph(spark):
    """r12 (the r11 verdict's top task): a multigraph collapsed to
    distinct (src,dst) + count with weight_col must be BIT-IDENTICAL to
    the expanded edge list for both PageRank (weighted out-degree +
    w·contrib) and HITS (w·state half-round sums) — the exact integer
    sums commute with the grouping, so this is an equality, not a
    tolerance.  Covered on the broadcast path AND the shuffle fallback
    (broadcast_max_nodes=1)."""
    from etl_marketeye_airflow_spark.operators.graph import (
        hits_fixed_point,
        pagerank_fixed_point,
    )

    multi = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2), (1, 3), (2, 3), (2, 3), (3, 1), (4, 1),
         (4, 1), (2, 5)],
        "src long, dst long",
    )
    collapsed = multi.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    for bound in (4_000_000, 1):
        for flag in (False, True):
            exp = {
                r.node: r.rank_fx
                for r in pagerank_fixed_point(
                    multi, iters=3, dangling_mass=flag,
                    broadcast_max_nodes=bound,
                ).collect()
            }
            got = {
                r.node: r.rank_fx
                for r in pagerank_fixed_point(
                    collapsed, iters=3, dangling_mass=flag,
                    broadcast_max_nodes=bound, weight_col="w",
                ).collect()
            }
            assert got == exp, (bound, flag)
        exp = {
            r.node: (r.hub_fx, r.auth_fx)
            for r in hits_fixed_point(
                multi, iters=2, broadcast_max_nodes=bound
            ).collect()
        }
        got = {
            r.node: (r.hub_fx, r.auth_fx)
            for r in hits_fixed_point(
                collapsed, iters=2, broadcast_max_nodes=bound,
                weight_col="w",
            ).collect()
        }
        assert got == exp, bound


# ------------------------------------------------ kernel vs distributed


_BOTH_PATHS = [
    test_pagerank_hand_computed_two_iters,
    test_pagerank_star_center_dominates_and_deterministic,
    test_pagerank_zero_iters_is_uniform_init,
    test_pagerank_dangling_mass_hand_computed,
    test_pagerank_both_forms_match_replica,
    test_pagerank_dangling_conserves_more_mass,
    test_kcore_hand_computed,
    test_kcore_cascade_matches_python_reference,
    test_kcore_fully_peeled_graph_is_empty,
    test_kcore_guards,
    test_lpa_two_cliques_with_bridge,
    test_lpa_matches_python_reference,
    test_bfs_distances_hand_computed,
    test_bfs_distances_early_exit_and_isolated_source,
    test_hits_matches_python_reference,
    test_sssp_rounds_hand_graph,
    test_weighted_collapse_matches_multigraph,
]


@pytest.mark.parametrize("case", _BOTH_PATHS, ids=lambda f: f.__name__[5:])
def test_distributed_path(spark, monkeypatch, case):
    """The hand-computed and reference tests above run the kernel path
    (their graphs are tiny); rerun each with the bound at 0 so the
    distributed loops meet the same literals."""
    monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", 0)
    case(spark)


def _sql_plans(spark, action) -> list[str]:
    """Physical plans of the SQL executions ``action`` ran, read from the
    session's SQL status store (what the UI's SQL tab shows)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}

    before = set(ids())
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        str(x.physicalPlanDescription())
        for k, x in ids().items() if k not in before
    ]


def test_above_bound_input_takes_distributed_path(spark, monkeypatch):
    """An input one edge over KERNEL_MAX_EDGES runs the distributed
    loop: none of its executed plans has a MapInPandas, while the same
    input at the bound runs exactly one kernel plan — same ranks."""
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {}

    def ranks(bound):
        monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", bound)
        got[bound] = sorted(pagerank_fixed_point(e, iters=2).collect())

    above = _sql_plans(spark, lambda: ranks(3))
    at = _sql_plans(spark, lambda: ranks(4))
    assert above and not [p for p in above if "MapInPandas" in p]
    assert len([p for p in at if "MapInPandas" in p]) == 1
    assert got[3] == got[4]


def _jobs_in_group(spark, group, action):
    """Spark jobs one call runs, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_kernel_loops_run_at_most_three_jobs(spark):
    """Job-count guard: on a small graph the whole loop is the edge count
    plus one kernel task (kcore also keeps its edge checkpoint) — the
    distributed PageRank ran 29 jobs for q114, 25 of them in the loop."""
    from etl_marketeye_airflow_spark.operators.dedup import near_dup_clusters
    from etl_marketeye_airflow_spark.operators.graph import kcore

    und = spark.createDataFrame(
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)] + [(5, 6), (6, 7)],
        "src long, dst long",
    )
    pairs = und.toDF("id_a", "id_b")
    assert _jobs_in_group(
        spark, "t-loop-pagerank", lambda: pagerank_fixed_point(und, iters=3)
    ) <= 3
    assert _jobs_in_group(spark, "t-loop-kcore", lambda: kcore(und, k=3)) <= 3
    assert _jobs_in_group(
        spark, "t-loop-components", lambda: near_dup_clusters(pairs)
    ) <= 3


@pytest.mark.parametrize("bound", [loop_kernels.KERNEL_MAX_EDGES, 0])
def test_near_dup_clusters_cap_is_loud(spark, monkeypatch, bound):
    """A 17-node path needs 5 changing rounds plus the confirming one:
    with a 3-round cap both paths raise instead of returning
    unconverged labels; a cap below one round is refused up front."""
    from etl_marketeye_airflow_spark.operators.dedup import near_dup_clusters

    monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", bound)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        near_dup_clusters(pairs, max_iterations=3).collect()
    assert near_dup_clusters(pairs, max_iterations=6).count() == 17
    with pytest.raises(ValueError, match="max_iterations must be >= 1"):
        near_dup_clusters(pairs, max_iterations=0)
