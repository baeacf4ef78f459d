"""Property-based tests (SURVEY §5 item 4, hypothesis-driven).

Single-Spark-roundtrip style: hypothesis generates a batch of cases,
one DataFrame evaluates them all (per-example Spark jobs would be
minutes-slow), properties asserted over the batch.
"""

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.functions import clean_price, determine_condition, product_id
from etl_marketeye_airflow_spark.operators.merge import merge_products, union_sources

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

price_strings = st.one_of(
    st.text(max_size=30),
    st.from_regex(r"\d{1,7}([.,]\d{1,3})? ?(DH|MAD|dh)?", fullmatch=True),
    st.floats(min_value=0, max_value=1e9, allow_nan=False).map(str),
)


@SET
@given(st.lists(price_strings, min_size=1, max_size=50))
def test_price_parser_total_and_nonnegative(spark, cases):
    """clean_price never throws, never yields null, never negative."""
    df = spark.createDataFrame([(c,) for c in cases], "p string")
    out = [r.v for r in df.select(clean_price(F.col("p")).alias("v")).collect()]
    assert all(v is not None and v >= 0.0 for v in out)


@SET
@given(st.lists(st.text(max_size=40), min_size=1, max_size=50))
def test_condition_total(spark, cases):
    """determine_condition always lands in the canonical vocabulary."""
    vocab = {"new", "good", "fair", "poor", "like new", "refurbished", "used"}
    df = spark.createDataFrame([(c,) for c in cases], "c string")
    out = [r.v for r in df.select(determine_condition(F.col("c")).alias("v")).collect()]
    assert all(v in vocab for v in out)


@SET
@given(
    st.lists(
        st.tuples(st.text(max_size=20), st.text(max_size=20), st.text(max_size=40)),
        min_size=1,
        max_size=30,
    )
)
def test_product_id_shape_and_determinism(spark, cases):
    """ids are non-empty, lowercase-alnum-underscore, and stable across runs."""
    df = spark.createDataFrame(cases, "b string, m string, t string")
    expr = product_id(F.col("b"), F.col("m"), F.col("t"), avito=True).alias("v")
    out1 = [r.v for r in df.select(expr).collect()]
    out2 = [r.v for r in df.select(expr).collect()]
    assert out1 == out2
    assert all(v and re.fullmatch(r"[a-z0-9_]+", v) for v in out1)


def _mk_products(spark, rows):
    """Minimal master-schema docs from (pid, name, source, price, url)."""
    data = [
        (
            pid,
            "B",
            "M",
            name,
            "Smartphone",
            {},
            [
                {
                    "source": src,
                    "price": float(price),
                    "original_price": None,
                    "currency": "MAD",
                    "condition": "new",
                    "seller_type": None,
                    "seller_name": None,
                    "location": None,
                    "rating": None,
                    "reviews_count": None,
                    "url": url,
                    "scraped_at": "2026-01-01T00:00:00",
                }
            ],
            {"sources": [src], "created_at": "t", "last_updated": "t"},
        )
        for pid, name, src, price, url in rows
    ]
    from etl_marketeye_airflow_spark.schemas import MASTER_SCHEMA

    return spark.createDataFrame(data, MASTER_SCHEMA)


offer_rows = st.lists(
    st.tuples(
        st.sampled_from(["p1", "p2", "p3"]),
        st.text(min_size=1, max_size=12),
        st.sampled_from(["Avito", "Jumia", "Electroplanet"]),
        st.integers(min_value=1, max_value=9999),
        st.sampled_from(["u1", "u2", "u3", "u4"]),
    ),
    min_size=1,
    max_size=25,
)


def _canon(merged):
    return {
        r.product_id: (
            sorted((o.source, o.price, o.url) for o in r.offers),
            sorted(r.metadata.sources),
        )
        for r in merged.collect()
    }


@SET
@given(offer_rows)
def test_merge_order_invariance_and_dedup_idempotence(spark, rows):
    """Merging in any arrival order yields the same offer sets, and
    re-merging merged output changes nothing (idempotence)."""
    df = _mk_products(spark, rows)
    merged = merge_products(df)
    again = merge_products(union_sources(df, df))  # duplicated input
    assert _canon(merged) == _canon(again)

    from pyspark.sql import functions as FF

    remerged = merge_products(
        merged.select(
            "product_id", "brand", "model", "product_name", "category",
            "specifications", "offers", "metadata",
        )
    )
    assert _canon(merged) == _canon(remerged)


asof_frames = st.tuples(
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=1, max_size=15),
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 50), st.integers(0, 99)),
             min_size=0, max_size=15),
)


@SET
@given(asof_frames)
def test_asof_join_matches_reference_impl(spark, frames):
    """asof_join vs a brute-force pure-Python as-of on random frames."""
    from etl_marketeye_airflow_spark.operators.temporal import asof_join

    lrows, rrows = frames
    lrows = [(k, t, i) for i, (k, t) in enumerate(lrows)]
    left = spark.createDataFrame(lrows, "k long, t long, lid long")
    right = spark.createDataFrame(rrows or [(99, 0, 0)], "k long, t long, v long")
    if not rrows:
        right = right.filter("k < 0")  # empty right frame case

    out = {r.lid: (r.asof_t, r.asof_v) for r in
           asof_join(left, right, "k", "t", ["t", "v"]).collect()}

    for k, t, lid in lrows:
        cands = [(rt, rv) for (rk, rt, rv) in rrows if rk == k and rt <= t]
        if cands:
            best_t = max(rt for rt, _ in cands)
            # tie on rt: engine picks max payload (orderable tiebreak)
            best_v = max(rv for rt, rv in cands if rt == best_t)
            assert out[lid] == (best_t, best_v), (k, t)
        else:
            assert out[lid] == (None, None), (k, t)


def test_q12_deterministic_under_ties(spark, tmp_path_factory):
    """q12's min_by/max_by picks must agree between Spark and the DuckDB
    oracle even on tie-HEAVY data (every order in a group shares the
    same o_orderdate / o_totalprice) — the composite tiebreak keys make
    the pick deterministic in both engines."""
    import datetime

    import duckdb

    from etl_marketeye_airflow_spark.queries import ORACLES, QUERIES

    d = datetime.datetime(2024, 1, 1)
    rows = []
    # 5 customers x 6 orders, all dates equal, all prices equal -> every
    # group is one giant tie on both aggregate keys.
    for cust in range(5):
        for i in range(6):
            rows.append((cust * 10 + i, cust, "O", 100.0, d, f"P{i % 3}"))
    sf = tmp_path_factory.mktemp("q12ties")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(str(sf / "orders.parquet"))

    got = sorted(
        tuple(r) for r in QUERIES["q12_merge_collect"](spark, str(sf)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(ORACLES["q12_merge_collect"]).fetchall())
    assert got == want


_CC_EDGES = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=_CC_EDGES)
def test_near_dup_clusters_matches_union_find(spark, edges):
    """CC (propagation + pointer jumping) must equal a driver-side
    union-find on arbitrary random graphs — not just the hand-built
    fixtures.  Graphs this small run the single-task kernel."""
    _check_cc_against_union_find(spark, edges)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=_CC_EDGES)
def test_near_dup_clusters_distributed_matches_union_find(spark, monkeypatch, edges):
    """The same union-find reference for the distributed CC loop, forced
    with ``KERNEL_MAX_EDGES`` at 0."""
    from etl_marketeye_airflow_spark.operators import loop_kernels

    monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", 0)
    _check_cc_against_union_find(spark, edges)


def _check_cc_against_union_find(spark, edges):
    from etl_marketeye_airflow_spark.operators.dedup import near_dup_clusters

    norm = [(min(a, b), max(a, b)) for a, b in edges]
    pairs = spark.createDataFrame(norm, "id_a long, id_b long")
    got = {r.id: r.cluster for r in near_dup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in norm:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want


chunk_configs = st.tuples(
    st.integers(min_value=1, max_value=12),   # stride
    st.integers(min_value=0, max_value=20),   # chunk_size - stride (>= 0)
    st.lists(st.integers(min_value=0, max_value=9), min_size=0, max_size=60),
)


@SET
@given(chunk_configs)
def test_chunking_coverage_property(spark, cfg):
    """For ANY stride <= chunk_size and any doc: every token position is
    covered by >= 1 chunk, chunk k starts at k*stride+1, and chunk
    count == ceil(max(n-size,0)/stride)+1."""
    from etl_marketeye_airflow_spark.operators.corpus import chunk_documents

    stride, extra, word_ids = cfg
    size = stride + extra
    text = " ".join(f"t{w}" for w in word_ids)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(chunk_documents(docs, chunk_size=size, stride=stride).collect(),
                  key=lambda r: r.chunk_id)
    # tokenizer semantics: empty text still yields [''] (one token)
    n = max(len(word_ids), 1)
    expected_chunks = -(-max(n - size, 0) // stride) + 1
    assert len(rows) == expected_chunks
    covered = set()
    for r in rows:
        start = r.chunk_id * stride
        covered.update(range(start, start + r.n_chunk_tokens))
    assert covered == set(range(n))


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**20 - 1),
            st.integers(min_value=0, max_value=2**20 - 1),
        ),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_zorder_key_bijective_property(spark, pts):
    """Morton interleave is a bijection on [0, 2^bits)²: de-interleaving
    any generated coordinate pair recovers it exactly, and distinct
    pairs get distinct keys."""
    from etl_marketeye_airflow_spark.operators.layout import zorder_key2

    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.withColumn(
        "z", zorder_key2(F.col("x"), F.col("y"), bits=20)
    ).collect()
    seen = set()
    for r in rows:
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(20))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(20))
        assert (x, y) == (r.x, r.y)
        seen.add(r.z)
    assert len(seen) == len(rows)


@SET
@given(
    st.lists(
        st.integers(min_value=1, max_value=40),  # token counts per doc
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=17),  # window
)
def test_sequence_packing_tiling_property(spark, lens, window):
    """For ANY doc-length profile and window size: slices tile each doc
    exactly and contiguously, every non-final pack per shard holds
    exactly `window` tokens, and total packed tokens equal total input
    tokens (nothing lost, nothing duplicated)."""
    from etl_marketeye_airflow_spark.operators.sampling import (
        sequence_packing,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    out = sequence_packing(docs, window=window, n_shards=3).collect()
    assert sum(r.slice_len for r in out) == sum(lens)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r.pack_id)
        assert rows[0].slice_start == 0
        for a, b in zip(rows, rows[1:]):
            assert (b.pack_id, b.slice_start) == (
                a.pack_id + 1,
                a.slice_start + a.slice_len,
            )
        assert sum(r.slice_len for r in rows) == lens[d]
    packs = {}
    for r in out:
        packs[(r.shard, r.pack_id)] = packs.get((r.shard, r.pack_id), 0) + r.slice_len
    last = {s: max(p for t, p in packs if t == s) for s, _ in packs}
    assert all(
        tot == window or p == last[s] for (s, p), tot in packs.items()
    )


def _cusum_reference(vals, slack=0, threshold=0):
    """Direct sequential fold of the clamped CUSUM recurrence — the
    definition cusum_drift's window identity must reproduce."""
    n = len(vals)
    baseline = sum(vals) // n  # all-positive truncating mean
    s = 0
    s_max = 0
    alarm_rn = None
    for i, v in enumerate(vals, 1):
        s = max(0, s + (v - baseline - slack))
        s_max = max(s_max, s)
        if alarm_rn is None and s > threshold:
            alarm_rn = i
    return baseline, s_max, alarm_rn


@SET
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10_000),
                 min_size=2, max_size=30),
        min_size=1, max_size=8,
    )
)
def test_cusum_drift_matches_sequential_fold(spark, seqs):
    """The window form S_t = P_t − min(0, running-min P) equals the
    literal sequential fold for every random sequence (the identity
    q144 rides on), including baseline, peak, and first-alarm index."""
    from etl_marketeye_airflow_spark.operators.temporal import cusum_drift

    rows = [
        (k, i, int(v))
        for k, seq in enumerate(seqs)
        for i, v in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "k long, t long, v long")
    got = {
        r.k: (r.baseline, r.s_max, r.alarm_rn)
        for r in cusum_drift(
            df, ["k"], ["t"], "v", slack=0, threshold=500, min_n=2
        ).collect()
    }
    want = {
        k: _cusum_reference(seq, slack=0, threshold=500)
        for k, seq in enumerate(seqs)
    }
    assert got == want


def test_cusum_drift_alarm_columns_and_min_n(spark):
    """Hand case: values (10,10,10,1000,10) baseline=208, d=(−198,−198,
    −198,792,−198): S=(0,0,0,792,594) → with threshold 500 the first
    alarm is rn=4 at t=40; a 1-row key is dropped by min_n=2; a flat
    key never alarms (NULL alarm columns)."""
    from etl_marketeye_airflow_spark.operators.temporal import cusum_drift

    rows = [(1, 10 * i, v) for i, v in enumerate([10, 10, 10, 1000, 10], 1)]
    rows += [(2, 0, 5)]
    rows += [(3, 0, 7), (3, 1, 7)]
    df = spark.createDataFrame(rows, "k long, t long, v long")
    out = {r.k: r for r in cusum_drift(
        df, ["k"], ["t"], "v", threshold=500, min_n=2).collect()}
    assert set(out) == {1, 3}
    assert (out[1].baseline, out[1].s_max, out[1].alarm_rn,
            out[1].alarm_t) == (208, 792, 4, 40)
    assert out[3].alarm_rn is None and out[3].alarm_t is None
    assert out[3].s_max == 0


@SET
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 99), st.booleans()),
             min_size=0, max_size=25),
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 99), st.booleans()),
             min_size=0, max_size=25),
)
def test_delta_join_identity(spark, a_rows, b_rows):
    """Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB: old⋈old plus the delta frame
    equals the full join's exact multiset for ANY split, including
    duplicate keys (multiplicity matters) and empty deltas."""
    from etl_marketeye_airflow_spark.operators.ivm import delta_join

    a = spark.createDataFrame(
        [(k, v) for k, v, _ in a_rows] or [(None, None)],
        "k int, va int",
    ).filter(F.col("k").isNotNull())
    b = spark.createDataFrame(
        [(k, v) for k, v, _ in b_rows] or [(None, None)],
        "k int, vb int",
    ).filter(F.col("k").isNotNull())
    a_old = spark.createDataFrame(
        [(k, v) for k, v, d in a_rows if not d] or [(None, None)],
        "k int, va int").filter(F.col("k").isNotNull())
    a_new = spark.createDataFrame(
        [(k, v) for k, v, d in a_rows if d] or [(None, None)],
        "k int, va int").filter(F.col("k").isNotNull())
    b_old = spark.createDataFrame(
        [(k, v) for k, v, d in b_rows if not d] or [(None, None)],
        "k int, vb int").filter(F.col("k").isNotNull())
    b_new = spark.createDataFrame(
        [(k, v) for k, v, d in b_rows if d] or [(None, None)],
        "k int, vb int").filter(F.col("k").isNotNull())
    full = sorted(map(tuple, a.join(b, "k").collect()))
    maintained = sorted(
        map(
            tuple,
            a_old.join(b_old, "k")
            .unionByName(delta_join(a_old, a_new, b_old, b_new, "k"))
            .collect(),
        )
    )
    assert maintained == full


def test_delta_join_broadcasts_deltas(spark):
    """broadcast_deltas=True must put BroadcastHashJoin on the mixed
    delta⋈base branches — the no-base-shuffle claim."""
    from etl_marketeye_airflow_spark.operators.ivm import delta_join

    a = spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), F.lit(2).alias("vb"))
    d = delta_join(a, a.limit(5), b, b.limit(5), "k")
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_transition_matrix_hand_computed(spark):
    """Key 1: a→b→a→b gives (a→b):2, (b→a):1; key 2: b→b gives
    (b→b):1 — sequences never cross keys; p_ppm is the truncating
    ratio over the from-state total."""
    from etl_marketeye_airflow_spark.operators.temporal import (
        transition_matrix,
    )

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
            (2, 1, "b"), (2, 2, "b")]
    df = spark.createDataFrame(rows, "k long, t long, s string")
    got = {(r.from_state, r.to_state): (r.n, r.n_from, r.p_ppm)
           for r in transition_matrix(df, ["k"], ["t"], "s").collect()}
    assert got == {
        ("a", "b"): (2, 2, 1_000_000),
        ("b", "a"): (1, 2, 500_000),
        ("b", "b"): (1, 2, 500_000),
    }
    single = spark.createDataFrame([(9, 1, "x")], "k long, t long, s string")
    assert transition_matrix(single, ["k"], ["t"], "s").count() == 0


def test_last_touch_attribution_hand_computed(spark):
    """User 1: click@10 -> purchase@20 credits click; view@30 ->
    purchase@30+25h credits 'none' (outside window); user 2 purchase
    with no prior touch -> 'none'; a touch AFTER the conversion never
    attributes; purchase@t with touch@t (same ts, higher event_id)
    does NOT attribute (strictly prior rows)."""
    from etl_marketeye_airflow_spark.operators.temporal import (
        last_touch_attribution,
    )

    H = 3_600_000_000
    rows = [
        (1, 10 * H, 1, "click"),
        (1, 20 * H, 2, "purchase"),
        (1, 30 * H, 3, "view"),
        (1, 30 * H + 25 * H, 4, "purchase"),
        (2, 5 * H, 5, "purchase"),
        (2, 6 * H, 6, "click"),
        (3, 7 * H, 7, "purchase"),
        (3, 7 * H, 8, "click"),
    ]
    df = spark.createDataFrame(rows, "k long, t long, eid long, et string")
    got = {r.attributed_touch: r.n_conversions
           for r in last_touch_attribution(
               df, ["k"], ["t", "eid"], "et", "purchase",
               ["click", "view"], 24 * H).collect()}
    assert got == {"click": 1, "none": 3}


@SET
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 30)),
        min_size=1, max_size=40,
    )
)
def test_interval_coverage_matches_python_union(spark, triples):
    """Union length and merged-interval count match a direct python
    interval-union on random overlapping/touching/nested intervals."""
    from etl_marketeye_airflow_spark.operators.temporal import (
        interval_coverage,
    )

    rows = [(k, s, s + w) for k, s, w in triples]
    df = spark.createDataFrame(rows, "k int, s long, e long")
    got = {r.k: (r.n_merged_intervals, r.covered)
           for r in interval_coverage(df, ["k"], "s", "e").collect()}

    def union(ivs):
        merged = []
        for s, e in sorted(ivs):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        return len(merged), sum(e - s for s, e in merged)

    want = {}
    for k, s, w in triples:
        want.setdefault(k, []).append((s, s + w))
    want = {k: union(v) for k, v in want.items()}
    assert got == want


def test_resample_interpolate_hand_computed(spark):
    """Observed buckets reproduce their value exactly; a 3-wide gap
    interpolates the exact rational line (100 -> 400 over den 4:
    175, 250, 325); a single-observation key falls back to itself."""
    from etl_marketeye_airflow_spark.operators.temporal import (
        resample_interpolate,
    )

    obs = spark.createDataFrame(
        [(1, 10, 100), (1, 14, 400), (2, 5, 77)],
        "k long, bucket long, v long",
    )
    got = {(r.k, r.bucket): (r.observed, r.interp_num, r.interp_den,
                             r.value_interp)
           for r in resample_interpolate(obs, ["k"], "bucket", "v").collect()}
    assert got[(1, 10)] == (True, 100, 1, 100.0)
    assert got[(1, 11)] == (False, 700, 4, 175.0)
    assert got[(1, 12)] == (False, 1000, 4, 250.0)
    assert got[(1, 13)] == (False, 1300, 4, 325.0)
    assert got[(1, 14)] == (True, 400, 1, 400.0)
    assert got[(2, 5)] == (True, 77, 1, 77.0)
    assert len(got) == 6


def test_longest_streak_hand_computed(spark, tmp_path_factory):
    """q171 on a crafted events parquet: user 1 has runs {1,2,3},
    {7,8} (dup events on day 2 collapse) -> longest 3 from day 1;
    user 2 ties 2-runs {5,6} and {9,10} -> earliest start 5 wins."""
    import datetime

    from etl_marketeye_airflow_spark.queries import QUERIES

    def ts(day):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            days=day, hours=3
        )

    rows = []
    eid = 0
    for u, days in [(1, [1, 2, 2, 3, 7, 8]), (2, [5, 6, 9, 10])]:
        for d in days:
            eid += 1
            rows.append((eid, ts(d), u, "view", 1.0, "{}"))
    sf = tmp_path_factory.mktemp("streak")
    # load_events footer-sniffs a single FILE (conv 4): extract the
    # part file from Spark's directory write
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(sf / "_ev_dir"))
    part = next((sf / "_ev_dir").glob("part-*.parquet"))
    part.rename(sf / "events.parquet")
    got = {r.user_id: (r.n_streaks, r.longest_streak, r.longest_start_day)
           for r in QUERIES["q171_longest_streak"](spark, str(sf)).collect()}
    assert got == {1: (2, 3, 1), 2: (2, 2, 5)}


def test_sliding_window_assignment_semantics(spark):
    """One event lands in exactly the 4 hour-windows whose starts are
    the preceding 15-min marks — pinning the window(ts, 1h, 15m)
    assignment rule q174's oracle replays."""
    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        [(1_000_000_000_000_000,)], "t long"
    ).withColumn("_t", FF.timestamp_micros(FF.col("t")))
    rows = (
        df.groupBy(FF.window("_t", "1 hour", "15 minutes").alias("w"))
        .count()
        .select(FF.unix_micros("w.start").alias("ws"))
        .collect()
    )
    t = 1_000_000_000_000_000
    base = t // 900_000_000 * 900_000_000
    want = {base - k * 900_000_000 for k in range(4)}
    assert {r.ws for r in rows} == want


def _write_events(spark, tmp, rows):
    """Crafted events parquet in the conv-4 single-file layout."""
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "_ev_dir"))
    part = next((tmp / "_ev_dir").glob("part-*.parquet"))
    part.rename(tmp / "events.parquet")
    return str(tmp)


def test_funnel_first_reach_semantics(spark, tmp_path_factory):
    """q193 on crafted events: user 1 completes view->click->purchase
    in order; user 2 clicks BEFORE their first view (click must not
    count) and purchases after a later click (counts); user 3 views
    only.  Strict-after rule: user 4's click at the exact view
    timestamp does not count."""
    import datetime

    from etl_marketeye_airflow_spark.queries import QUERIES

    def ts(h):
        return datetime.datetime(1970, 1, 2) + datetime.timedelta(hours=h)

    rows = []
    eid = 0
    for u, seq in [
        (1, [("view", 1), ("click", 2), ("purchase", 3)]),
        (2, [("click", 1), ("view", 2), ("click", 3), ("purchase", 4)]),
        (3, [("view", 5)]),
        (4, [("view", 6), ("click", 6)]),  # same timestamp: excluded
    ]:
        for t, h in seq:
            eid += 1
            rows.append((eid, ts(h), u, t, 1.0, "{}"))
    sf = _write_events(spark, tmp_path_factory.mktemp("funnel"), rows)
    row = QUERIES["q193_funnel_conversion"](spark, sf).collect()[0]
    assert (row.n_view, row.n_click, row.n_purchase) == (4, 2, 2)
    assert row.click_ppm == 500_000 and row.purchase_ppm == 1_000_000


def test_twap_hand_computed(spark, tmp_path_factory):
    """q192 on crafted purchases: user 1 holds value 1.00 for 3h then
    3.00 for 1h (last point contributes no segment) over a 4h span ->
    twap = (100*3h + 300*1h)/4h /100 = 1.50; single-event user 2 is
    excluded (n < 2)."""
    import datetime

    from etl_marketeye_airflow_spark.queries import QUERIES

    def ts(h):
        return datetime.datetime(1970, 1, 2) + datetime.timedelta(hours=h)

    rows = [
        (1, ts(0), 1, "purchase", 1.0, "{}"),
        (2, ts(3), 1, "purchase", 3.0, "{}"),
        (3, ts(4), 1, "purchase", 9.0, "{}"),
        (4, ts(1), 2, "purchase", 5.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path_factory.mktemp("twap"), rows)
    got = {r.user_id: r for r in QUERIES["q192_twap"](spark, sf).collect()}
    assert set(got) == {1}
    r = got[1]
    assert r.n_points == 3 and r.span_us == 4 * 3600 * 1_000_000
    # (100*3h + 300*1h) / 4h / 100 = 1.5
    assert r.twap == 1.5
    assert int(r.twap_num) == 100 * 3 * 3600 * 10**6 + 300 * 3600 * 10**6


def test_rolling_wau_hand_computed(spark, tmp_path_factory):
    """q197 on crafted events: user 1 active day 0, user 2 active days
    0 and 10.  Observed grid = {0, 10}; day 0 sees both users (both
    active that day), day 10 sees only user 2 (day 0 is outside the
    trailing 7)."""
    import datetime

    from etl_marketeye_airflow_spark.queries import QUERIES

    def ts(day):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            days=day, hours=1
        )

    rows = [
        (1, ts(0), 1, "view", 1.0, "{}"),
        (2, ts(0), 2, "view", 1.0, "{}"),
        (3, ts(10), 2, "view", 1.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path_factory.mktemp("wau"), rows)
    got = {
        r.epoch_day: r.wau
        for r in QUERIES["q197_rolling_active_users"](spark, sf).collect()
    }
    assert got == {0: 2, 10: 1}


def test_grouped_covariance_vs_python_reference(spark):
    """operators/regress.py:grouped_covariance against exact Python
    integer suffstats on random small data — every pair's cov_num /
    var terms and the corr double."""
    import math
    import random

    from etl_marketeye_airflow_spark.operators.regress import (
        grouped_covariance,
    )

    rng = random.Random(191)
    rows = [
        (f"g{i % 3}", rng.randrange(0, 50), rng.randrange(0, 1000),
         rng.randrange(0, 7))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, a long, b long, c long")
    out = grouped_covariance(df, ["g"], ["a", "b", "c"])
    got = {
        (r.g, r.var_a, r.var_b): (int(r.cov_num), int(r.var_a_n),
                                  int(r.var_b_n), r.corr)
        for r in out.collect()
    }
    cols = {"a": 1, "b": 2, "c": 3}
    for gname in ("g0", "g1", "g2"):
        grp = [r for r in rows if r[0] == gname]
        n = len(grp)
        for a in ("a", "b", "c"):
            for b in ("a", "b", "c"):
                if a > b:
                    continue
                sa = sum(r[cols[a]] for r in grp)
                sb = sum(r[cols[b]] for r in grp)
                sab = sum(r[cols[a]] * r[cols[b]] for r in grp)
                saa = sum(r[cols[a]] ** 2 for r in grp)
                sbb = sum(r[cols[b]] ** 2 for r in grp)
                cov = n * sab - sa * sb
                va, vb = n * saa - sa * sa, n * sbb - sb * sb
                want_corr = (
                    float(cov) / (math.sqrt(float(va)) * math.sqrt(float(vb)))
                    if va > 0 and vb > 0
                    else None
                )
                assert got[(gname, a, b)] == (cov, va, vb, want_corr), (
                    gname, a, b)


def test_edit_distance_join_matches_brute_force(spark):
    """q194's EDJoin prefix filter is LOSSLESS: the registry query at
    sf0.001 equals the banded brute-force levenshtein join computed in
    Python on the same universe."""
    from etl_marketeye_airflow_spark.queries import QUERIES
    from etl_marketeye_airflow_spark.sources.tables import load_table

    SF = "/root/testdata/sf0.001"
    names = {
        r.c_custkey: r.c_name
        for r in load_table(spark, SF, "customer")
        .filter("c_custkey % 37 = 0 AND length(c_name) >= 12")
        .collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    keys = sorted(names)
    want = {
        (i, j, lev(names[i], names[j]))
        for x, i in enumerate(keys)
        for j in keys[x + 1:]
        if abs(len(names[i]) - len(names[j])) <= 2
        and lev(names[i], names[j]) <= 2
    }
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in QUERIES["q194_edit_distance_join"](spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_edjoin_degenerate_repetitive_names(spark, tmp_path_factory):
    """q194 recall on names whose DISTINCT 3-gram count collapses below
    K*Q = 6 (array_distinct on repetitive text — ADVICE r7): the prefix
    slice degrades to the FULL gram set, and ed<=2 pairs of length>=12
    still share a distinct gram (>= len-q+1 = 10 occurrences, <= 6
    destroyed), so the pair MUST be found.  Also pins that a far pair
    stays out."""
    from etl_marketeye_airflow_spark.queries import QUERIES

    sf = str(tmp_path_factory.mktemp("edjoin"))
    rows = [
        # |G| = 1 ({aaa}) and |G| = 4 — both <= K*Q, ed = 1
        (37, "aaaaaaaaaaaa"),
        (74, "aaaaabaaaaaa"),
        # repetitive but far from the a-block (ed >> 2)
        (111, "cccccccccccc"),
        # not in the %37 universe — must be ignored even at ed 0
        (38, "aaaaaaaaaaaa"),
        # too short for the floor
        (148, "aaaa"),
    ]
    spark.createDataFrame(rows, "c_custkey long, c_name string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{sf}/customer.parquet")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in QUERIES["q194_edit_distance_join"](spark, sf).collect()
    }
    assert got == {(37, 74): 1}


def _write_docs(spark, tmp, rows):
    """Crafted documents parquet (doc_id, text, lang, source, n_chars)."""
    full = [(i, t, "en", "src", len(t)) for i, t in rows]
    spark.createDataFrame(
        full, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "_d_dir"))
    part = next((tmp / "_d_dir").glob("part-*.parquet"))
    part.rename(tmp / "documents.parquet")
    return str(tmp)


def test_leakage_safe_split_coassigns_clusters(spark, tmp_path_factory):
    """q200: near-identical docs (Jaccard >= 0.35) must land in the SAME
    split (the whole point — no train/test straddle), labeled by the
    min cluster id; a distinct doc is its own singleton root."""
    import hashlib

    from etl_marketeye_airflow_spark.queries import QUERIES

    dup = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, dup),
        (2, dup + " eta"),  # near-dup of 1 (shared 3-gram shingles)
        (9, "one two three four five six seven"),  # unrelated singleton
    ]
    sf = _write_docs(spark, tmp_path_factory.mktemp("split"), rows)
    got = {r.doc_id: r for r in QUERIES["q200_leakage_safe_split"](spark, sf).collect()}
    assert got[1].root == 1 and got[2].root == 1 and got[9].root == 9
    assert got[1].split == got[2].split
    # the coin is a pure function of the root — replay it
    h = int(hashlib.md5(b"split-v1:9").hexdigest()[:15], 16) % 10
    expect = "test" if h == 0 else ("valid" if h == 1 else "train")
    assert got[9].split == expect


def test_cluster_representatives_keep_best(spark, tmp_path_factory):
    """q202: the LONGEST member represents its cluster; ties go to the
    smallest doc id; singletons represent themselves."""
    from etl_marketeye_airflow_spark.queries import QUERIES

    dup = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, dup),
        (2, dup + " eta"),        # longer -> representative of {1,2}
        (5, "solo text here ok"),  # singleton
        (7, "one two three four five"),
        (8, "one two three four five"),  # tie on length -> keep 7
    ]
    sf = _write_docs(spark, tmp_path_factory.mktemp("reps"), rows)
    got = {
        r.root: (r.kept_doc, r.n_members)
        for r in QUERIES["q202_cluster_representatives"](spark, sf).collect()
    }
    assert got[1] == (2, 2)   # longer member kept
    assert got[5] == (5, 1)   # singleton
    assert got[7] == (7, 2)   # equal lengths -> smallest id


def test_token_budget_fill_inclusive_gate(spark, tmp_path_factory):
    """q201: docs draw in md5-coin order and keep while the INCLUSIVE
    running token count fits the budget — replayed in pure python."""
    import hashlib

    from etl_marketeye_airflow_spark.queries import QUERIES

    rows = [(i, " ".join(f"w{j}" for j in range(10 * i))) for i in range(1, 9)]
    sf = _write_docs(spark, tmp_path_factory.mktemp("fill"), rows)
    toks = {i: 10 * i for i, _ in rows}
    order = sorted(
        toks,
        key=lambda i: (int(hashlib.md5(f"fill-v1:{i}".encode()).hexdigest()[:15], 16), i),
    )
    expect, cum = {}, 0
    for pos, i in enumerate(order, start=1):
        cum += toks[i]
        if cum <= 20000:
            expect[i] = (pos, cum)
    got = {
        r.doc_id: (r.pos, r.cum_tokens)
        for r in QUERIES["q201_token_budget_fill"](spark, sf).collect()
    }
    assert got == expect
