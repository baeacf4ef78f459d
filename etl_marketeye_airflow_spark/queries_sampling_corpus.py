"""q51-q68: sampling/splits, decontamination, corpus stats, chunking, early TPC-H

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
    "q51_hash_split",
    # identical md5-hex→int derivation on both sides (verified: Spark
    # conv(hex,16,10) == DuckDB '0x…'::BIGINT)
    oracle=f"""
    WITH b AS (SELECT doc_id, {_SQL_HASH_BUCKET} AS bucket FROM documents)
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q51_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: membership is a pure function
    of doc_id (md5 bucket), so reruns and incremental appends never
    migrate a document across splits.  Zero shuffle — a map column that
    can drive a partitionBy("split") write."""
    from .operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(d, "doc_id").select("doc_id", "bucket", "split")


@query(
    "q52_stratified_sample",
    oracle="""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 30
    """,
)
def q52_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language downsampling cap: at most 30 docs per lang, picked
    by deterministic hash order — rebalancing over-represented domains
    without an RNG (reproducible across engines and runs)."""
    from .operators.sampling import stratified_cap

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_cap(d, "lang", "doc_id", cap=30).select(
        "doc_id", "lang", "sample_rank"
    )


@query(
    "q53_quantile_band_filter",
    # exact interpolated percentiles over integer n_chars are
    # engine-identical (same q49 discipline); the band bounds are scalar
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.05) FROM documents)
      AND n_chars <= (SELECT quantile_cont(n_chars, 0.95) FROM documents)
    """,
)
def q53_quantile_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-band trim: keep documents inside the corpus' [p05, p95]
    length band — the outlier cut (too short / machine-generated walls)
    every pretraining filter chain applies.  Exact percentile agg → two
    scalars broadcast into the filter."""
    from .operators.sampling import quantile_band

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return quantile_band(d, "n_chars", 0.05, 0.95)


@query(
    "q54_length_bucket_packing",
    oracle="""
    WITH agg AS (
      SELECT n_chars // 64 AS bucket,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS bucket_volume
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
    )
    SELECT bucket, n_docs, bucket_volume,
           CAST(sum(bucket_volume) OVER (
             ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_volume
    FROM agg
    """,
)
def q54_length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: fixed-width length buckets with per-bucket
    doc counts/volume and the cumulative volume in bucket order — the
    table a trainer uses to budget tokens per batch shape.  The window
    runs over the tiny bucket table, not corpus rows."""
    from .operators.sampling import length_buckets

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return length_buckets(d, "n_chars", 64).select(
        "bucket", "n_docs", "bucket_volume", "cum_volume"
    )


@query(
    "q55_decontamination",
    # same inverted-index semantics, gram strings in SQL vs xxhash64'd
    # grams in Spark (collision probability ~2^-64 — immaterial); per-doc
    # grams are distinct on both sides so count(*) = distinct overlap
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 4, 1) + 1),
               i -> array_to_string(list_slice(ws, i, i + 4), ' ')))) AS gram
      FROM w
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src1')
    SELECT g.doc_id, count(*) AS n_shared_grams
    FROM g JOIN bench USING (gram)
    WHERE g.source <> 'src1'
    GROUP BY g.doc_id
    """,
)
def q55_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: count 5-gram overlaps between each
    corpus doc and the benchmark slice (source='src1' stands in for an
    eval set).  Inverted-index equi-join on gram hashes, benchmark side
    broadcast — never an all-pairs document comparison."""
    from .operators.dedup import cross_corpus_contamination

    d = _t(spark, sf_dir, "documents")
    return cross_corpus_contamination(
        d.filter(F.col("source") != "src1"),
        d.filter(F.col("source") == "src1"),
        shingle_k=5,
    )


@query(
    "q56_pii_redaction",
    # the corpus has no natural PII, so both engines plant the SAME
    # deterministic email + 8-digit id (derived from doc_id) and the
    # oracle proves the redaction strips exactly those
    oracle="""
    WITH a AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com id '
                  || CAST(10000000 + (doc_id * 7919) % 90000000 AS VARCHAR) AS aug
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(aug, '[0-9]{8,}')) AS INT) AS n_ids,
           regexp_replace(
             regexp_replace(aug,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{8,}', '<ID>', 'g') AS redacted
    FROM a
    """,
)
def q56_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count then redact emails and long digit-run ids —
    scan-speed regexp work, zero shuffle.  The corpus text is synthetic
    word soup, so the query plants one deterministic email + id per doc
    (same derivation in the oracle) and the gate proves the scrub
    catches exactly those."""
    from .operators.text import count_pii, redact_pii

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com id "),
        (F.lit(10000000) + (F.col("doc_id") * 7919) % 90000000).cast("string"),
    )
    return (
        docs.withColumn("_aug", aug)
        .withColumn("_pii", count_pii(F.col("_aug")))
        .select(
            "doc_id",
            F.col("_pii.n_emails").alias("n_emails"),
            F.col("_pii.n_ids").alias("n_ids"),
            redact_pii(F.col("_aug")).alias("redacted"),
        )
    )


@query(
    "q57_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKENIZE}) AS token FROM documents
    ),
    c AS (
      SELECT source, token, count(*) AS cnt
      FROM tok WHERE token <> '' GROUP BY source, token
    )
    SELECT source, token, cnt, rank FROM (
      SELECT source, token, cnt,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY cnt DESC, token ASC) AS INT) AS rank
      FROM c
    ) WHERE rank <= 10
    """,
)
def q57_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source top-10 tokens: boilerplate spotting / domain
    vocabulary audit.  Token stream collapses in a hash agg FIRST
    (map-side partial combine bounds the shuffle); the rank window sorts
    the per-group VOCAB table, never corpus rows."""
    from .operators.corpus import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "documents"), group_col="source", k=10)


@query(
    "q58_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKENIZE}) AS token FROM documents
    ),
    c AS (
      SELECT token, count(*) AS cnt FROM tok WHERE token <> '' GROUP BY token
    ),
    t AS (SELECT sum(cnt) AS total FROM c),
    r AS (
      SELECT token, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank,
             CAST(sum(cnt) OVER (
               ORDER BY cnt DESC, token ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM c
    )
    SELECT token, cnt, rank, cum FROM r, t
    WHERE (cum - cnt) * 1000 < total * 500
    """,
)
def q58_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal frequency-ordered vocabulary covering 50% of corpus token
    mass (tokenizer/vocab building).  Exact-integer threshold (multiplied
    through by the coverage denominator — no float accumulation); the
    global window runs over the aggregated vocab table only."""
    from .operators.corpus import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"), coverage=0.5)


@query(
    "q59_tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey, {_SQL_REV} AS revenue, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-15'
      AND l_shipdate  > TIMESTAMP '1998-06-15'
    GROUP BY l_orderkey, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q59_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers x date-filtered orders
    x lineitem, top-10 orders by discounted revenue.

    Plan notes: both filters are pushed to the parquet scans; the
    customer side reduces to a projected keyset (AQE broadcasts it when
    it fits, as at any sane segment selectivity); orders-lineitem is the
    one big equi-join; orderBy+limit compiles to TakeOrderedAndProject
    (per-partition top-10 + driver merge, never a global sort).  Ties
    are impossible in the output ordering (l_orderkey is unique per
    group), so the top-10 SET is deterministic for the multiset hash."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ords = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < "1998-06-15")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > "1998-06-15")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .join(cust, ords["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(_rev_spark().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderpriority")
    )


@query(
    "q60_tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {_SQL_REV} AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def q60_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way star join (region->nation->customer->
    orders->lineitem->supplier with the local-supplier co-nation
    condition), revenue per nation.

    Plan notes: region/nation are broadcast explicitly (they are tiny at
    ANY scale); customer and supplier joins stay equi-joins for AQE to
    size (supplier is ~1e7 rows at 100 TB — too big to force broadcast);
    the orders date filter is pushed to the scan and prunes before the
    big lineitem join."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nations = F.broadcast(
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
            "n_nationkey", "n_name"
        )
    )
    return (
        c.join(nations, c["c_nationkey"] == nations["n_nationkey"])
        .join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(_rev_spark().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q61_document_chunking",
    # NULL-text docs excluded on both sides (conv 22)
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_SQL_TOKENIZE} AS ws FROM documents
      WHERE text IS NOT NULL
    ),
    k AS (
      SELECT doc_id, ws, (greatest(len(ws) - 32, 0) + 23) // 24 AS kmax FROM w
    ),
    e AS (
      SELECT doc_id, ws, unnest(range(0, kmax + 1)) AS chunk_id FROM k
    )
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32), ' ')
             AS chunk_text,
           CAST(len(list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32)) AS INT)
             AS n_chunk_tokens
    FROM e
    """,
)
def q61_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token windows, stride 24 (8-token
    overlap) — the corpus→training-sequence step.  Per-row map + explode,
    zero shuffle; token array staged once per row; exact integer index
    math makes every chunk byte-identical across engines."""
    from .operators.corpus import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=32, stride=24
    )


@query(
    "q62_text_normalization",
    # the corpus is already-clean synthetic text, so both engines plant
    # the SAME mess (tab, smart quotes, em-dash, ellipsis, control char,
    # run of spaces) and the oracle proves the scrub canonicalizes it
    oracle="""
    WITH a AS (
      SELECT doc_id,
             text || chr(9) || chr(8220) || 'smart' || chr(8221) || '  '
                  || chr(8212) || ' dash ' || chr(8230) || chr(7) AS aug
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               translate(aug,
                 chr(8220) || chr(8221) || chr(8216) || chr(8217)
                   || chr(8211) || chr(8212) || chr(8230),
                 '""''''--.'),
               '[\\x00-\\x1F\\x7F]', ' ', 'g'),
             '\\s+', ' ', 'g')) AS cleaned
    FROM a
    """,
)
def q62_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace canonicalization (pretraining text hygiene):
    smart quotes/dashes/ellipsis → ASCII (1:1 translate), control chars
    → space, whitespace runs collapsed, trimmed.  Scan-speed, zero
    shuffle.  The synthetic corpus is already clean, so the query plants
    a deterministic mess (same construction in the oracle) and the gate
    proves the scrub canonicalizes exactly it."""
    from .operators.text import normalize_unicode

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit("\t“smart”  — dash …\x07"),
    )
    return docs.select(
        "doc_id", normalize_unicode(aug).alias("cleaned")
    )


@query(
    "q63_stream_stream_join",
    # drained stream-stream inner join == the batch interval self-join;
    # integer-µs time comparisons on both sides (no TZ surface)
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_ts_us, epoch_us(c.ts) AS click_ts_us
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
    """,
)
def q63_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click→purchase
    attribution within 1 hour), drained with AvailableNow — per-key
    state bounded by watermark+lookback, never stream history; the
    drained pair set equals the batch interval self-join (oracle)."""
    import uuid

    from .conf_scope import scoped_conf
    from .sources.tables import load_events_stream
    from .streaming.joins import stream_interval_join

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        purchases = (
            load_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("_t").alias("p_ts"),
            )
        )
        clicks = (
            load_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("_t").alias("c_ts"),
            )
        )
        joined = stream_interval_join(
            purchases, clicks, key="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback="1 hour", watermark="2 hours",
        ).select(
            "purchase_id",
            "click_id",
            "user_id",
            F.unix_micros(F.col("p_ts")).alias("purchase_ts_us"),
            F.unix_micros(F.col("c_ts")).alias("click_ts_us"),
        )
        name = f"q63_out_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q)
        return spark.table(name)


@query(
    "q64_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n_orders,
           {_SQL_SUM.format(c='o_totalprice')} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q64_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (detail / per-status / grand total in ONE
    pass) with grouping_id disambiguating the null-vs-rollup levels —
    completes the cube/rollup family (q14).  One shuffle; Spark expands
    the sets map-side and partial-aggregates before it."""
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice").alias("total_price"),
    )


@query("q65_session_windows", oracle=_SQL_SESSION_WINDOWS)
def q65_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window grouping (30-min inactivity gap): per-user
    sessions with integer-µs bounds and exact-decimal value totals —
    the engine-native form of q16's manual gaps-and-islands.  One
    shuffle on (user_id); Spark merges windows in the aggregation."""
    ev = load_events(spark, sf_dir).withColumn(
        "_t", F.timestamp_micros(F.col("ts_us"))
    )
    return (
        ev.groupBy("user_id", F.session_window("_t", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


@query(
    "q66_multimodal_features",
    # the float32 feature vector itself is hash-fragile across engines;
    # the checked outputs (argmax bin, nonzero bins) are fully determined
    # by the INTEGER byte histogram, which SQL recomputes from the hex
    # high-nibbles of the same utf-8 bytes (hex char at odd positions)
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
             octet_length(encode(coalesce(text, ''))) AS n FROM documents
    ),
    nib AS (
      SELECT doc_id, n,
             list_transform(range(1, n + 1),
                            i -> substr(hx, 2*CAST(i AS INT) - 1, 1)) AS highs
      FROM h
    ),
    c AS (
      SELECT doc_id, n,
             list_transform(range(0, 16),
               b -> len(list_filter(highs,
                      ch -> ch = substr('0123456789ABCDEF', CAST(b AS INT) + 1, 1)))) AS cnt
      FROM nib
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_bytes,
           16 AS feature_dim,
           CAST(list_position(cnt, list_max(cnt)) - 1 AS INT) AS argmax_bin,
           CAST(len(list_filter(cnt, x -> x > 0)) AS INT) AS n_nonzero_bins
    FROM c
    """,
)
def q66_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extraction stage (q30 covers decode): attach
    binary content, run the Arrow-batched byte-histogram featurizer
    (mapInPandas — the exact plumbing a learned-embedding UDF uses),
    then derive integer facts (argmax bin, nonzero bins) from the
    float32 vector.  argmax/nonzero are normalization-invariant, so the
    oracle checks the full featurize pipeline through integer outputs."""
    from .operators.multimodal import attach_binary_content, extract_features

    media = attach_binary_content(_t(spark, sf_dir, "documents"), kind="image")
    feats = extract_features(media)
    first_max = F.array_position(F.col("feature"), F.array_max(F.col("feature")))
    # missing content ≡ empty bytes — the multimodal stub contract the
    # featurize kernel and q30's decoder already follow (NULL text →
    # zero histogram); length(NULL) would emit NULL vs the oracle's 0
    return (
        media.select(
            "media_id",
            F.coalesce(F.length(F.col("content")), F.lit(0))
            .cast("long")
            .alias("n_bytes"),
        )
        .join(feats, "media_id")
        .select(
            "media_id",
            "n_bytes",
            F.col("feature_dim").cast("int").alias("feature_dim"),
            (first_max - 1).cast("int").alias("argmax_bin"),
            F.size(F.filter(F.col("feature"), lambda x: x > 0)).alias("n_nonzero_bins"),
        )
    )


@query(
    "q67_tpch_q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           {_SQL_REV} AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q67_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bi-directional trade volume between two nations
    per ship year — a 5-way join whose nation-PAIR filter is
    disjunctive.  The OR collapses each nation dim to 2 rows BEFORE the
    fact joins (broadcast both), so the disjunction never reaches the
    big join as a residual condition; year() runs under an explicitly
    pinned UTC session so timestamp→year is engine-identical."""
    with _utc(spark):
        pair = ("NATION_1", "NATION_2")
        n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
        s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = (
            _t(spark, sf_dir, "lineitem")
            .filter(
                (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1998-01-01")
            )
            .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
                    F.year("l_shipdate").alias("l_year"))
        )
        n1 = F.broadcast(n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")))
        n2 = F.broadcast(n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")))
        out = (
            li.join(s, li["l_suppkey"] == s["s_suppkey"])
            .join(n1, s["s_nationkey"] == F.col("nk1"))
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(n2, c["c_nationkey"] == F.col("nk2"))
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(_rev_spark().alias("revenue"))
        )
        # ResolveTimeZone bakes the session TZ into year()/comparisons at
        # ANALYSIS, which is lazy — touch the schema while UTC is pinned
        # so restoring the conf can't retroactively change semantics
        out.schema
        return out


@query(
    "q68_udtf_token_offsets",
    # char_offset recomputed in SQL as the joined length of preceding
    # tokens (+1 separator) — exact integer math; the O(len²) slice-sum
    # is oracle-side only (Spark carries a running sum per row).
    # NULL-text docs excluded on both sides (conv 22).
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
      FROM documents WHERE text IS NOT NULL
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
def q68_udtf_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (the one Python-integration class the rest of
    the registry doesn't cover — scalar pandas_udf / mapInPandas /
    applyInPandas(+WithState) all appear elsewhere): a table function
    exploding each doc into (token_idx, token, char_offset) rows, where
    the offset is a running sum the UDTF carries per input row.  Lateral
    join in SQL; per-row Python generator — the UDTF tax is the point
    of the demo, and the oracle documents the set-based equivalent.
    Closure hygiene: the class body is stdlib-only (convention #3)."""
    import uuid

    from pyspark.sql.functions import udtf

    @udtf(returnType="token_idx int, token string, char_offset int")
    class TokenOffsets:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            off = 0
            for i, t in enumerate(toks, start=1):
                yield i, t, off
                off += len(t) + 1

    fn = f"token_offsets_{uuid.uuid4().hex[:8]}"
    view = f"docs_{uuid.uuid4().hex[:8]}"
    spark.udtf.register(fn, TokenOffsets)
    # conv 22: NULL-text docs excluded (the UDTF's `text or ""` shim
    # would otherwise fabricate a single empty token per missing doc
    # while the oracle's unnest path emits nothing)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("_norm"),
        )
    )
    docs.createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT d.doc_id, t.token_idx, t.token, t.char_offset "
        f"FROM {view} d, LATERAL {fn}(d._norm) t"
    )
