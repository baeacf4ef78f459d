"""Query registry — the driver-facing catalog of implemented operators.

Each entry maps one operator family from SURVEY.md §2 onto the driver's
synthetic star schema (TESTDATA.md) so the DuckDB oracle can verify it.
The marketeye-domain pipeline itself (adapters/merge/stats/anomaly over
scraped-shaped JSON) lives in the package modules and is exercised by
pytest on fixtures; the registry re-expresses the same operator semantics
over `region nation customer supplier part orders lineitem events
documents embeddings`.

Conventions (driver compare = row-count + schema + order-insensitive
value hash, columns sorted by name):
- every computed column is aliased identically in Spark and oracle SQL;
- **floating-point aggregates are computed exactly**: prices are summed
  as DECIMAL (exact, order-independent in both Spark and DuckDB), and
  mean/std/deviation are derived from those exact sums with the *same*
  IEEE double op sequence on both sides, so results match bit-for-bit
  regardless of partial-aggregation order.  Plain ``round(avg(x),2)``
  demonstrably straddles cent boundaries between engines — never rely
  on rounding alone to stabilize a float aggregate;
- top-k queries order by a unique tiebreaker so LIMIT is deterministic;
- no raw timestamp output columns (cast to ISO strings) — Spark session
  TZ is pinned UTC to match DuckDB's naive-UTC.

Registration: ``@query(name, oracle=...)``.  ``oracle=None`` marks a
genuinely non-SQL-expressible op (driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .conf_scope import scoped_conf, table_bytes
from .sources.tables import load_events, load_table
from .streaming.ingest import drain_available_now

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Exact-aggregate helpers.  DECIMAL(19,4) holds any testdata price exactly
# (doubles have no exact 5th-decimal ties, so the cast rounds identically
# in Spark and DuckDB); decimal sums are exact and order-independent.
_DEC = "decimal(19,4)"


def _dsum(c) -> F.Column:
    """Exact sum of a price column, as a bit-deterministic double."""
    return F.sum(F.col(c).cast(_DEC)).cast("double")


def _dsumsq(c) -> F.Column:
    """Exact sum of squares (DECIMAL(39,8) products), as double."""
    x = F.col(c).cast(_DEC)
    return F.sum(x * x).cast("double")


def _mean(sum_d: F.Column, n: F.Column) -> F.Column:
    return sum_d / n.cast("double")


def _stddev_samp(sum_d: F.Column, sumsq_d: F.Column, n: F.Column) -> F.Column:
    """Sample stddev from exact sums: sqrt(max(0, (Σx² − (Σx)²/n)/(n−1))).

    The op sequence mirrors the oracle SQL exactly so both engines run
    the same IEEE double computation.
    """
    nd = n.cast("double")
    var = (sumsq_d - (sum_d * sum_d) / nd) / (nd - F.lit(1.0))
    return F.sqrt(F.greatest(var, F.lit(0.0)))


# Oracle-side fragments mirroring the helpers above (identical op order).
# The decimal→double conversions go through VARCHAR (conv 16): the
# sum-of-squares is DECIMAL(38,8) whose UNSCALED integer (value·10^8 ≈
# 10^21 at sf0.01) is far past 2^53, so DuckDB's direct cast
# (hugeint→double, then ÷10^8) double-rounds while Spark's
# BigDecimal.doubleValue is correctly rounded — a few-ULP divergence
# (q03/q04/q33, caught by the r7 hex-canon gate).  strtod on the exact
# digit string is correctly rounded and identical for in-range values.
_SQL_SUM = "CAST(CAST(sum(CAST({c} AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)"
_SQL_SUMSQ = (
    "CAST(CAST(sum(CAST({c} AS DECIMAL(19,4)) * CAST({c} AS DECIMAL(19,4)))"
    " AS VARCHAR) AS DOUBLE)"
)


def _sql_mean(c: str, n: str = "count(*)") -> str:
    return f"{_SQL_SUM.format(c=c)} / CAST({n} AS DOUBLE)"


def _sql_stddev(c: str, n: str = "count(*)") -> str:
    s, ss, nd = _SQL_SUM.format(c=c), _SQL_SUMSQ.format(c=c), f"CAST({n} AS DOUBLE)"
    return f"sqrt(greatest(({ss} - ({s} * {s}) / {nd}) / ({nd} - 1.0), 0.0))"


# Decimal is an INTERMEDIATE type, never an OUTPUT type (conv 19; r7
# verdict root cause).  The driver canonicalizes results through pandas,
# where DuckDB's `.df()` renders DECIMAL as float64 while Spark's
# `toPandas()` yields an object column of `decimal.Decimal` — the two
# representations can never hash equal, at ANY magnitude (q176's 1.2e8
# numerator was as red as q140's 1e21).  Exact decimal payload columns
# therefore cross the output boundary as their exact DIGIT STRINGS:
# Spark decimal→string and DuckDB decimal→VARCHAR both render a scale-0
# decimal as the plain (sign +) integer digits, identical byte-for-byte,
# and strings survive pandas on both engines as object str.  All decimal
# ARITHMETIC stays exact and internal; only the final select changes.
def _str_decimals(df: DataFrame) -> DataFrame:
    """Cast every decimal-typed OUTPUT column to its exact digit string."""
    dec = {c for c, t in df.dtypes if t.startswith("decimal")}
    if not dec:
        return df
    return df.select(
        *[
            F.col(c).cast("string").alias(c) if c in dec else F.col(c)
            for c in df.columns
        ]
    )


def _sql_str_out(sql: str, cols: tuple[str, ...]) -> str:
    """Oracle-side mirror of ``_str_decimals``: VARCHAR-cast the named
    decimal output columns without touching the rest of the select."""
    repl = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in cols)
    return f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n)"


# DuckDB replica of dedup.word_shingles (distinct word 3-grams over
# lower/trim/whitespace-collapsed text; short texts yield one shingle) —
# proved bit-compatible by q21's gate.  TOKEN STAGING (r10, conv 23):
# `__ws` is computed once per row in the nested projection _SQL_DOCS_WS;
# inlining the split into the shingle lambda instead re-evaluates it PER
# ELEMENT (DuckDB evaluates captured expression trees per lambda
# invocation — conv 6b's oracle-side twin), which is O(tokens²) per
# document: the skew fuzz seed's 53 k-char mega-document took 34 s per
# oracle scan inline vs 3 s staged (same results).
_SQL_DOCS_WS = (
    "(SELECT *, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
    " AS __ws FROM documents)"
)
_SQL_GRAMS = """
             list_distinct(
               list_transform(
                 range(1, greatest(len(__ws) - 2, 1) + 1),
                 i -> array_to_string(list_slice(__ws, i, i + 2), ' ')
               )
             )"""


def _query_vec(emb: DataFrame, vec_id: int = 0) -> list:
    """Driver-side fetch of one query vector, NULL/missing-safe.

    Shared by every query that parameterizes a search with a corpus
    vector (q24/q25/q36/q132).  A missing row OR a NULL embedding cell
    degrades to [0.0] — the zero vector — which every downstream
    consumer already maps to the defined empty-frame path (r8 ADVICE:
    ``list(None)`` would raise engine-asymmetrically while the oracle's
    ``_sql_nonzero`` filter yields the defined result).  Centralized so
    a future query-vector fetch can't regress the guard (r9 verdict 7)."""
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return list(row[0]) if row is not None and row[0] is not None else [0.0]


def _planes_sql(n_planes: int, dim: int = 64, seed: int = 42) -> str:
    """±1 hyperplanes as a DuckDB VALUES list — (p_idx, p) rows.

    The planes are a pure function of (n_planes, dim, seed), so the same
    literals the Spark kernel folds over can be embedded verbatim in the
    oracle: the APPROXIMATE algorithm itself becomes SQL-reproducible.
    dim=64 matches the testdata embeddings (pinned in test_trainingdata).
    """
    from .operators.similarity import hyperplanes

    rows = ", ".join(
        f"({i}, {p})" for i, p in enumerate(hyperplanes(n_planes, dim, seed))
    )
    return f"(VALUES {rows})"


# Zero-norm exclusion (mirrors operators/similarity.py:nonzero_vec —
# cosine is undefined for zero vectors; ANSI Spark errors on the norm
# division while DuckDB silently NULLs.  Every cosine consumer filters
# candidates AND the query vector with this predicate on both sides;
# found by the tools/fuzz_gate.py zero-vector probe, r8).
def _sql_nonzero(e: str) -> str:
    return f"len(list_filter({e}, x -> x <> 0)) > 0"


# DuckDB cosine fragment, q24 op order: left-fold dot / (sqrt·sqrt norms).
_SQL_COS = """
    list_reduce(list_transform(list_zip({a}, {b}),
                               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                (x, y) -> x + y)
    / (sqrt(list_reduce(list_transform(list_zip({a}, {a}),
                                       z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                        (x, y) -> x + y))
       * sqrt(list_reduce(list_transform(list_zip({b}, {b}),
                                         z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                          (x, y) -> x + y)))
"""


# ---------------------------------------------------------------------------
# Dataset profiling — one-pass per-column quality stats.
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("p_brand", "p_type", "p_size", "p_retailprice")
_PROFILE_ORACLE_ROW = """
    SELECT '{c}' AS column_name,
           count(*)                          AS n_rows,
           count({c})                        AS n_non_null,
           count(DISTINCT {c})               AS n_distinct,
           {minr}                            AS min_value,
           {maxr}                            AS max_value,
           CAST(count(*) - count({c}) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS null_fraction
    FROM part
"""

# float columns render fx20 (conv 14 — see operators/profile.py: plain
# double→VARCHAR diverges on notation thresholds, decimal rounding on
# conv-6d ties); the rest render as plain VARCHAR casts
_PROFILE_FLOAT_COLS = {"p_retailprice"}


def _profile_render(c: str, agg: str) -> str:
    if c in _PROFILE_FLOAT_COLS:
        return (
            f"'fx20:' || CAST(CAST(floor({agg}({c}) * 1048576.0) "
            f"AS BIGINT) AS VARCHAR)"
        )
    return f"CAST({agg}({c}) AS VARCHAR)"


_Q43_SH_SQL = f"""
  SELECT doc_id, {_SQL_GRAMS} AS grams
  FROM {_SQL_DOCS_WS} WHERE doc_id < 120
"""


# ---------------------------------------------------------------------------
# Corpus-scale dedup pipeline: MinHash-LSH candidates → Jaccard verify →
# connected components → keep one representative per cluster.
# ---------------------------------------------------------------------------


_Q47_SH_FULL_SQL = _Q43_SH_SQL.replace("WHERE doc_id < 120", "")


# ---------------------------------------------------------------------------
# Text-quality depth: repetition signals (Gopher-style filters) and
# per-language corpus reporting — the remaining pieces of a training-data
# quality pipeline, all exact-integer-derived → fully oracle-checkable.
# ---------------------------------------------------------------------------


_SQL_WORDS = (
    "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
)


def _sql_dup_frac(n: int, ws: str = "ws") -> str:
    grams = (
        f"list_transform(range(1, greatest(len({ws}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({ws}, i, i + {n - 1}), ' '))"
    )
    return (
        f"1.0 - CAST(len(list_distinct({grams})) AS DOUBLE) "
        f"/ CAST(len({grams}) AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Dataset assembly: deterministic split / stratified downsampling / quality
# band / length packing / benchmark decontamination — the sampling stages
# between "clean corpus" and "training batches".  All hash-deterministic →
# fully oracle-checkable (operators/sampling.py, dedup.py).
# ---------------------------------------------------------------------------


_SQL_HASH_BUCKET = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


# ---------------------------------------------------------------------------
# PII redaction, corpus token statistics, and classic multi-join OLAP
# (TPC-H Q3/Q5 shapes) — breadth beyond the reference's single-table
# analytics; all exact-deterministic, all oracle-backed.
# ---------------------------------------------------------------------------

_SQL_TOKENIZE = _SQL_WORDS  # one oracle-side tokenizer — never let two copies drift


# Exact-decimal discounted revenue: operands sized so every engine's
# decimal arithmetic stays exact — price fits DECIMAL(12,4), (1-disc)
# fits DECIMAL(7,4); their product and its sum never round, and the
# final double cast of the same exact rational is bit-identical.
_REV_SPARK = None  # built inline; SQL twin below
# VARCHAR roundtrip (conv 16): the revenue sum is DECIMAL(_,8) — price
# (12,4) × (1−disc) (6,4) — whose UNSCALED value (revenue·10^8 ≈ 2e16
# per group at sf0.01) already exceeds 2^53, so DuckDB's direct
# decimal→double DOUBLE-ROUNDS while Spark's cast is correctly rounded.
# Which group lands in the divergent window is data luck per round
# (r8 fuzz ×100 magnitude probe pinned it on q145/q148 at 1 ulp).
_SQL_REV = (
    "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * "
    "(CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) "
    "AS VARCHAR) AS DOUBLE)"
)


def _rev_spark() -> F.Column:
    return F.sum(
        F.col("l_extendedprice").cast("decimal(12,4)")
        * (F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)"))
    ).cast("double")


# Spark's session_window == gaps-and-islands in SQL: a session ends
# 30 min after its LAST event (exclusive end).  Integer-µs bounds,
# exact-decimal value sums — no TZ or float surface.  ONE oracle string
# shared by q65 (batch) and q154 (streaming twin) — single-copy rule.
_SQL_SESSION_WINDOWS = """
    WITH e AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events
    ),
    g AS (
      -- BOTH windows order by (ts_us, event_id): Spark only ever sees
      -- microseconds, so nanosecond-resolution ordering here could
      -- disagree on same-microsecond ties
      SELECT user_id, event_id, value, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
                  OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    s AS (
      SELECT *, CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id,
           min(ts_us) AS session_start_us,
           max(ts_us) + 1800000000 AS session_end_us,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(19,4))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_id
    """


_Q80_SH_SQL = _Q47_SH_FULL_SQL.replace(
    "FROM documents", "FROM documents JOIN keep0 USING (doc_id)"
)


# ---------------------------------------------------------------------------
# TPC-H completion block (q81–q93): the 13 query patterns not yet in the
# registry, adapted to the driver schema (no partsupp table; no
# l_shipmode/l_commitdate/l_receiptdate/c_phone/o_comment columns — each
# adaptation keeps the PATTERN of the original query and swaps in the
# nearest available column, noted per query).  With q35/q59/q60/q67/q69/
# q70/q74/q75/q76 this covers all 22 TPC-H query shapes.  Engine
# extension beyond reference parity (the reference has no SQL-analytics
# surface); float discipline per convention #1 throughout.
# ---------------------------------------------------------------------------

def _utc(spark: SparkSession):
    """Pin the session TZ to UTC for year()/timestamp-literal stability,
    scoped per convention #5."""
    return scoped_conf(spark, {"spark.sql.session.timeZone": "UTC"})


# Shared decimal-exact "volume" fragment (both engines): price*(1-disc).
_SQL_VOL = (
    "CAST(l_extendedprice AS DECIMAL(12,4))"
    " * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
)


def _vol() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(12,4)") * (
        F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
    )


def _spread_heavy_scan(
    df: DataFrame, sf_dir: str, table: str
) -> DataFrame:
    """Repartition a scan feeding HEAVY per-row expression work, but
    only when it is genuinely under-split for its size: fewer scan
    partitions than cores AND more than SPARK_GRAFT_SPREAD_MIN_MB
    (default 32) of file bytes per partition.

    A single-row-group parquet file scans as ONE task no matter how
    many byte-range splits Spark plans (only the split holding the row
    group's midpoint gets rows), serializing e.g. the whole shingle
    construction (guide §2.5 "input skew: one huge unsplittable file
    … repartition immediately after the read").  The byte floor keeps
    this a measured no-op where the shuffle costs more than the
    serialized work (r13 A/B at sf0.1, 7 MB file: unconditional
    repartition LOST ~0.5 s — probes/r13_ppjoin_iso2.json — while the
    sf1 70 MB single-row-group file pays ~10× the shingle fill on one
    core); at real scale inputs split into ≥ cores partitions and the
    condition never fires."""
    import os as _os

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    n_parts = df.rdd.getNumPartitions()
    if n_parts >= par:
        return df
    sz = table_bytes(sf_dir, table)
    try:
        min_mb = int(_os.environ.get("SPARK_GRAFT_SPREAD_MIN_MB", "32"))
    except ValueError:  # a malformed override falls back to the default
        min_mb = 32
    min_bytes = min_mb << 20
    if sz // max(1, n_parts) > min_bytes:
        return df.repartition(par)
    return df


def _ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q99's pair engine as a reusable EAGER frame (id_a, id_b,
    jaccard) — also the pair stage of the dedup-aware split /
    canonicalization composites (q200/q202)."""
    from pyspark.sql.types import DoubleType

    from .operators import loop_kernels as lk
    from .operators import pair_kernel
    from .operators.dedup import word_shingles

    # The shingle base fans out into FOUR branches (posting list,
    # prefix build, both verify sides) — persist it so the zip_with
    # shingle construction runs once, not per branch; eager result +
    # unpersist on return (same lifecycle as q72/q104).  Null text is
    # exactly null grams (dropped by every explode below); filtering the
    # text keeps the shingle expression out of the filter (conv 2).
    sh = (
        _spread_heavy_scan(_t(spark, sf_dir, "documents"), sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", word_shingles(F.col("text"), 3).alias("grams"))
        .persist()
    )
    # Up to PAIR_KERNEL_MAX_POSTINGS postings the whole engine is one
    # NumPy task on integer token ranks (operators/pair_kernel.py, the
    # same filters and verify); the posting count also fills the cache.
    if lk.small(sh.select(F.explode("grams")), pair_kernel.PAIR_KERNEL_MAX_POSTINGS):
        id_t = sh.schema["doc_id"].dataType
        out = lk.run(
            sh, pair_kernel.ppjoin,
            lk.schema(("id_a", id_t), ("id_b", id_t), ("jaccard", DoubleType())),
        )
        sh.unpersist()
        return out
    post = sh.select("doc_id", F.explode("grams").alias("gram"))
    freq = post.groupBy("gram").agg(F.count("*").alias("cnt"))
    prefix = (
        post.join(freq, "gram")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("cnt", "gram")).alias("cg"))
        .select(
            "doc_id",
            F.size("cg").alias("n_grams"),
            F.expr(
                "slice(array_sort(cg), 1, "
                "size(cg) - ((7 * size(cg) + 19) div 20) + 1)"
            ).alias("pfx"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.posexplode("pfx.gram").alias("_p0", "gram"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("_p0") + 1).alias("pos"),  # 1-based rank in the doc's
            "gram",                            # global (cnt, gram) order
        )
    )
    # PPJoin's LENGTH FILTER applied at CANDIDATE GENERATION (not just
    # verify): J ≥ t forces 20·min(|A|,|B|) ≥ 7·max(|A|,|B|), and each
    # prefix row already knows its doc's gram count — pruning here
    # shrinks the candidate set BEFORE the distinct shuffle and the
    # array-carrying verify joins (lossless: the same inequality is
    # re-checked nowhere-cheaper downstream).
    #
    # PPJoin's POSITIONAL FILTER (Xiao et al., WWW'08), set-semantics
    # form: a shared gram at 1-based ranks (p_a, p_b) bounds the overlap
    # by 1 + min(p_a−1, p_b−1) + min(n_a−p_a, n_b−p_b) (shared grams
    # strictly before g / strictly after g under the SAME global order
    # the prefixes use), and J ≥ t forces overlap ≥ t/(1+t)·(n_a+n_b) =
    # 7/27·(n_a+n_b).  A pair survives iff ANY shared prefix gram's
    # bound clears the floor — for a true pair EVERY shared gram's bound
    # ≥ the true overlap ≥ the floor, so pruning rows that fail it
    # before the distinct is lossless (the distinct IS the ∃-gram
    # semantics).  All-integer, both sides exact; measured ~2× fewer
    # candidates into the array-carrying verify at sf10.
    pos_bound = F.lit(1) + F.least(
        F.col("p_a") - 1, F.col("p_b") - 1
    ) + F.least(
        F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b")
    )
    cand = (
        prefix.select(
            F.col("doc_id").alias("id_a"),
            F.col("n_grams").alias("n_a"),
            F.col("pos").alias("p_a"),
            "gram",
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("id_b"),
                F.col("n_grams").alias("n_b"),
                F.col("pos").alias("p_b"),
                "gram",
            ),
            "gram",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(20) * F.least("n_a", "n_b")
                >= F.lit(7) * F.greatest("n_a", "n_b")
            )
            & (
                F.lit(27) * pos_bound
                >= F.lit(7) * (F.col("n_a") + F.col("n_b"))
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ga = sh.select(F.col("doc_id").alias("_ia"), F.col("grams").alias("grams_a"))
    gb = sh.select(F.col("doc_id").alias("_ib"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    # Lossless length filter before the array_intersect verify:
    # J(A,B) ≥ t forces |A∩B| ≤ min ⇒ t ≤ min/(max) is necessary, i.e.
    # 20·min(|A|,|B|) ≥ 7·max(|A|,|B|) (t = 0.35 = 7/20, integer form)
    # — kills candidates with incompatible sizes for the cost of two
    # size() lookups instead of a full intersection.
    out = (
        cand.join(ga, F.col("id_a") == F.col("_ia"))
        .join(gb, F.col("id_b") == F.col("_ib"))
        .filter(
            F.lit(20) * F.least(F.size("grams_a"), F.size("grams_b"))
            >= F.lit(7) * F.greatest(F.size("grams_a"), F.size("grams_b"))
        )
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= 0.35)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint()
    )
    sh.unpersist()
    return out


def _sql_flog2_fx(x: str) -> str:
    """DuckDB twin of operators.corpus.with_flog2_fx: fixed-point (2^20)
    dyadic log2 of a positive integer expression, integer arithmetic
    only (bin() digit count, shift, truncating //) — bit-identical to
    the Spark side by construction, no libm anywhere."""
    b = f"(length(bin({x})) - 1)"
    p = f"(CAST(1 AS BIGINT) << {b})"
    return f"(CAST({b} AS BIGINT) * 1048576 + (({x} - {p}) * 1048576) // {p})"


def _sql_zorder(x: str, y: str, bits: int) -> str:
    """DuckDB twin of operators.layout.zorder_key2: the same bit
    interleave as an unrolled integer expression (fully parenthesized —
    never trust | / << precedence across dialects)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


_BM25_TERMS = ("vector", "stream", "slow")


def _sql_bm25(terms: tuple[str, ...]) -> str:
    """DuckDB twin of operators.corpus.bm25_topk — identical integer
    rationals (22/10/3/9 from k1=6/5, b=3/4 scaled by 10·S), identical
    fixed-point idf, and the SAME fixed-order COALESCE(+) chain for the
    per-doc sum, so the double bits match Spark's exactly."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    maxes = ",\n             ".join(
        f"max(CASE WHEN token = '{t}' THEN score_t END) AS _s{i}"
        for i, t in enumerate(terms)
    )
    chain = " + ".join(f"COALESCE(_s{i}, 0.0)" for i in range(len(terms)))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENIZE}) AS token FROM documents
    ),
    t2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t2 GROUP BY doc_id),
    c AS (SELECT CAST(sum(dl) AS BIGINT) AS S, CAST(count(*) AS BIGINT) AS D
          FROM dl),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t2
      WHERE token IN ({in_list}) GROUP BY doc_id, token
    ),
    dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    idf AS (
      SELECT token,
             {_sql_flog2_fx('(2 * D + 2)')} - {_sql_flog2_fx('(2 * df + 1)')}
               AS idf_fx,
             S, D
      FROM dfq CROSS JOIN c
    ),
    s AS (
      SELECT doc_id, token,
             (CAST(idf_fx AS DOUBLE) * CAST(22 * S * tf AS DOUBLE))
               / (CAST(10 * S * tf + 3 * S + 9 * dl * D AS DOUBLE)
                  * 1048576.0) AS score_t
      FROM tf JOIN idf USING (token) JOIN dl USING (doc_id)
    ),
    p AS (
      SELECT doc_id,
             {maxes},
             CAST(count(*) AS BIGINT) AS n_hit
      FROM s GROUP BY doc_id
    )
    SELECT doc_id, n_hit, ({chain}) AS score
    FROM p ORDER BY score DESC, doc_id ASC LIMIT 20
    """


def _sql_pagerank(iters: int) -> str:
    """DuckDB twin of operators.graph.pagerank_fixed_point: the fixed
    iteration count unrolled as chained CTEs (aggregation inside a
    recursive CTE term is not portable), identical integer algebra —
    truncating // on all-positive values matches Spark's div."""
    blocks = [
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"
    ]
    for i in range(1, iters + 1):
        blocks.append(f"""c{i} AS (
      SELECT e.dst, CAST(sum(r{i - 1}.r // d.deg) AS BIGINT) AS s
      FROM e JOIN r{i - 1} ON e.src = r{i - 1}.node
             JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )""")
        blocks.append(f"""r{i} AS (
      SELECT node,
             CAST(150000 + (17 * COALESCE(s, 0)) // 20 AS BIGINT) AS r
      FROM nodes LEFT JOIN c{i} ON node = c{i}.dst
    )""")
    chain = ",\n    ".join(blocks)
    return f"""
    WITH e AS (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      )
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
    {chain}
    SELECT node, r AS rank_fx, CAST(r AS DOUBLE) / 1000000.0 AS rank
    FROM r{iters}
    """


_CMS_SQL_CELLS = """
    WITH w AS (SELECT {tokenize} AS ws FROM documents),
    tok AS (SELECT unnest(ws) AS token FROM w),
    t2 AS (SELECT token FROM tok WHERE token <> ''),
    cells AS (
      SELECT CAST(i AS INT) AS row,
             CAST(concat('0x', substr(md5(
               'cms-v1:' || CAST(i AS VARCHAR) || ':' || token), 1, 15))
               AS BIGINT) % 1024 AS col
      FROM t2, unnest(range(0, 4)) AS u(i)
    ),
    sketch AS (
      SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
      FROM cells GROUP BY row, col
    )
"""


_CMS_PROBE_TOKENS = (
    "the", "vector", "stream", "quantum", "zzznotoken", "data",
)


# HyperLogLog: same deterministic-sketch contract as count-min above.
# 60-bit md5 hash → bucket = low 10 bits, rho = leading zeros of the
# remaining 50-bit window + 1 (bin-length arithmetic, no libm).
_HLL_SQL_REGS = """
    WITH w AS (SELECT {tokenize} AS ws FROM documents),
    tok AS (SELECT unnest(ws) AS token FROM w),
    t2 AS (SELECT token FROM tok WHERE token <> ''),
    h AS (
      SELECT CAST(concat('0x', substr(md5('hll-v1:' || token), 1, 15))
             AS BIGINT) AS h
      FROM t2
    ),
    cells AS (SELECT CAST(h % 1024 AS INT) AS bucket, h // 1024 AS wv FROM h),
    regs AS (
      SELECT bucket,
             CAST(max(CASE WHEN wv = 0 THEN 51
                           ELSE 51 - length(bin(wv)) END) AS INT) AS reg
      FROM cells GROUP BY bucket
    )
"""


# alpha_m·m²·2^scale_bits for p=10, computed ONCE here and embedded in
# both engines (F.lit on the Spark side receives the same double).
_HLL_ALPHA_NUM_P10 = (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024 * float(1 << 51)


def _hll_lc_sql_p10() -> str:
    """The p=10 linear-counting table [1024·ln(1024/V) for V in 1..1024]
    as a DuckDB DOUBLE[] literal.  Each element goes through
    CAST('<repr>' AS DOUBLE) — strtod, correctly rounded (conv 16).  A
    bare decimal literal is NOT safe: DuckDB lexes a 17-digit literal
    as DECIMAL, the list becomes DECIMAL[], and the CASE-merge with the
    DOUBLE raw_est double-rounds each element — a 1-ulp divergence from
    the exact doubles hll_estimate embeds via F.lit (caught by the r8
    fuzz sweep at V=986; which V is data luck).  (The dyadic flog2_fx
    is NOT usable here — its chord error is ~6% of m on a single
    scalar; see operators/corpus.py.)"""
    from .operators.corpus import hll_lc_table

    return (
        "["
        + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in hll_lc_table(10))
        + "]"
    )


# KMV / theta sketch: third sketch family member (count-min = frequencies,
# HLL = cardinality, KMV = SET OPERATIONS between corpora).  k=16 so the
# estimation branch genuinely fires on the test corpus (31 distinct
# tokens); the sketch is the k smallest distinct 60-bit md5 hashes —
# exact, deterministic, rebuilt row-for-row by DuckDB.
_KMV_SQL_SKETCH = """
      SELECT row_number() OVER (ORDER BY h) AS rank, h
      FROM (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5('kmv-v1:' || token), 1, 15))
               AS BIGINT) AS h
        FROM (
          SELECT unnest({tokenize}) AS token FROM documents {where}
        ) WHERE token <> ''
        ORDER BY h LIMIT {k}
      )
"""


# Dyadic quantile sketch: fourth sketch-family member (count-min =
# frequencies, HLL = cardinality, KMV = set ops, this = QUANTILES).
# Power-of-two buckets (HDR-histogram form of DDSketch, Masson et al.
# VLDB 2019) make every operation integer: bucket index is pure bit
# arithmetic, lo/hi are observed per-bucket min/max, the quantile walk
# is integer ranks over integer cumulative counts — both halves fully
# oracle-replicable.
def _sql_dyadic_sketch(grp: list[str] | None = None) -> str:
    """DuckDB twin of operators.corpus.dyadic_histogram over
    documents.n_chars — identical bit arithmetic (bin-length bitlen,
    shift, truncating div on positives), optionally grouped.  ONE
    generator for q126/q127/q135 so the bucket algebra can never
    drift between the grouped and ungrouped oracles."""
    g = ", ".join(grp or [])
    gsel = (g + ", ") if g else ""
    gby = f" GROUP BY {gsel}bucket_idx" if g else " GROUP BY bucket_idx"
    return f"""
    WITH v AS (SELECT {gsel}CAST(n_chars AS BIGINT) AS v FROM documents
               WHERE n_chars IS NOT NULL),
    bl AS (SELECT {gsel}v, length(bin(v)) - 1 AS b FROM v),
    ix AS (
      SELECT {gsel}v,
             CASE WHEN v < 64 THEN v
                  ELSE CAST(b - 5 AS BIGINT) * 32
                       + v // (CAST(1 AS BIGINT) << CAST(b - 5 AS INT))
             END AS bucket_idx
      FROM bl
    ),
    sk AS (
      SELECT {gsel}bucket_idx, CAST(min(v) AS BIGINT) AS lo,
             CAST(max(v) AS BIGINT) AS hi,
             CAST(count(*) AS BIGINT) AS cnt
      FROM ix{gby}
    )
"""


_DYADIC_SQL_SKETCH = _sql_dyadic_sketch()


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical distinct edges of the part co-purchase graph (parts
    co-ordered with l_quantity > 40 on both lineitems, u < v) — ONE
    builder for q128/q137 so graph and oracle can never drift.  The
    per-order self-join is bounded by order size, so it stays linear in
    lineitem."""
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_partkey")
    )
    a = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("u")
    )
    b = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("v")
    )
    return (
        a.join(b, "_ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def _sql_kcore(k: int, rounds: int) -> str:
    """DuckDB twin of operators.graph.kcore: peeling unrolled as
    chained CTEs (aggregation inside a recursive CTE term is not
    portable).  ``rounds`` must be >= the graph's peeling depth — the
    Spark side iterates to the TRUE fixed point, and extra unrolled
    rounds are no-ops once converged, so a generous constant is safe
    (depth measured 3/5/7 at sf0.001/0.01/0.1 for k=3; 16 is the
    documented margin, re-probe if the edge rule changes).  Pure
    integer/set algebra — no floats to diverge.  Every chained CTE is
    MATERIALIZED: each round references the previous one 3x, and
    DuckDB's default inlining would multiply the base parquet scan
    3^rounds times (observed as an fd-exhaustion blowup)."""
    blocks = [
        """e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM q a JOIN q b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""
    ]
    for i in range(1, rounds + 1):
        blocks.append(f"""d{i} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1}
      ) GROUP BY node
    )""")
        blocks.append(f"""e{i} AS MATERIALIZED (
      SELECT u, v FROM e{i - 1}
      WHERE u IN (SELECT node FROM d{i} WHERE d >= {k})
        AND v IN (SELECT node FROM d{i} WHERE d >= {k})
    )""")
    chain = ",\n    ".join(blocks)
    return f"""
    WITH q AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 40
    ),
    {chain}
    SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
    ) GROUP BY node
    """


def _sql_label_propagation(iters: int) -> str:
    """DuckDB twin of operators.graph.label_propagation over the
    co-purchase graph: fixed synchronous rounds unrolled as chained
    MATERIALIZED CTEs (each round references the previous 1x and the
    neighbor frame 1x; MATERIALIZED per the q142 fd-blowup lesson).
    The per-node pick is replayed with a row_number window (count
    DESC, label ASC) — a different mechanism than Spark's
    min-over-struct argmin, but the same unique deterministic result."""
    blocks = [
        """e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM q a JOIN q b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )""",
        """nb AS MATERIALIZED (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v, u FROM e
    )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM nb)",
    ]
    for i in range(1, iters + 1):
        blocks.append(f"""c{i} AS MATERIALIZED (
      SELECT nb.node, l{i - 1}.label, count(*) AS cnt
      FROM nb JOIN l{i - 1} ON nb.nbr = l{i - 1}.node
      GROUP BY nb.node, l{i - 1}.label
    )""")
        blocks.append(f"""l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )""")
    chain = ",\n    ".join(blocks)
    return f"""
    WITH q AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 40
    ),
    {chain}
    SELECT node, CAST(label AS BIGINT) AS label FROM l{iters}
    """


def _sql_bfs(hops: int) -> str:
    """DuckDB twin of operators.graph.bfs_distances over the
    co-purchase graph with sources = graph nodes ≡ 0 (mod 50):
    frontier expansion unrolled as MATERIALIZED CTEs (q142's lesson).
    Pure set semantics — the per-hop frontier is a unique set."""
    blocks = [
        """e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM q a JOIN q b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )""",
        """nb AS MATERIALIZED (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v, u FROM e
    )""",
        """v0 AS MATERIALIZED (
      SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist
      FROM nb WHERE node % 50 = 0
    )""",
        "f0 AS MATERIALIZED (SELECT node FROM v0)",
    ]
    for i in range(1, hops + 1):
        blocks.append(f"""f{i} AS MATERIALIZED (
      SELECT DISTINCT nb.nbr AS node
      FROM nb JOIN f{i - 1} ON nb.node = f{i - 1}.node
      WHERE nb.nbr NOT IN (SELECT node FROM v{i - 1})
    )""")
        blocks.append(f"""v{i} AS MATERIALIZED (
      SELECT node, dist FROM v{i - 1}
      UNION ALL
      SELECT node, CAST({i} AS BIGINT) FROM f{i}
    )""")
    chain = ",\n    ".join(blocks)
    return f"""
    WITH q AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 40
    ),
    {chain}
    SELECT node, dist FROM v{hops}
    """


def _sql_hits(iters: int) -> str:
    """DuckDB twin of operators.graph.hits_fixed_point on q114's
    customer→supplier graph: synchronous rounds unrolled as
    MATERIALIZED CTEs, max-normalized truncating-integer scores —
    bit-identical to the Spark side by construction."""
    blocks = [
        "h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)"
    ]
    for i in range(1, iters + 1):
        blocks.append(f"""a{i}f AS MATERIALIZED (
      SELECT n.node, CAST(coalesce(t.s, 0) AS BIGINT) AS a
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(h{i - 1}.h) AS s
        FROM e JOIN h{i - 1} ON e.src = h{i - 1}.node GROUP BY e.dst
      ) t ON n.node = t.node
    )""")
        blocks.append(f"""a{i} AS MATERIALIZED (
      SELECT node,
             CAST((a * 1000000) // (SELECT max(a) FROM a{i}f) AS BIGINT) AS a
      FROM a{i}f
    )""")
        blocks.append(f"""h{i}f AS MATERIALIZED (
      SELECT n.node, CAST(coalesce(t.s, 0) AS BIGINT) AS h
      FROM nodes n LEFT JOIN (
        SELECT e.src AS node, sum(a{i}.a) AS s
        FROM e JOIN a{i} ON e.dst = a{i}.node GROUP BY e.src
      ) t ON n.node = t.node
    )""")
        blocks.append(f"""h{i} AS MATERIALIZED (
      SELECT node,
             CAST((h * 1000000) // (SELECT max(h) FROM h{i}f) AS BIGINT) AS h
      FROM h{i}f
    )""")
    chain = ",\n    ".join(blocks)
    return f"""
    WITH e AS MATERIALIZED (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      )
    ),
    {chain}
    SELECT node, h{iters}.h AS hub_fx, a{iters}.a AS auth_fx
    FROM h{iters} JOIN a{iters} USING (node)
    """


def _q191_oracle() -> str:
    """Suffstat + pair-unpivot SQL for q191, generated so the 6 pair
    selects can't drift from each other; identical algebra to
    operators/regress.py:grouped_covariance (conv 16 VARCHAR casts on
    the >2^53 decimals)."""
    cols = ["cents", "disc_bp", "qty"]  # lexicographic, like the operator
    prods = ",\n         ".join(
        f"CAST(sum(CAST({a} AS DECIMAL(19,0)) * CAST({b} AS DECIMAL(19,0)))"
        f" AS DECIMAL(38,0)) AS p_{a}_{b}"
        for i, a in enumerate(cols)
        for b in cols[i:]
    )
    sums = ",\n         ".join(
        f"CAST(sum({c}) AS BIGINT) AS s_{c}" for c in cols
    )

    def covnum(a: str, b: str) -> str:
        return (
            f"CAST(CAST(n AS DECIMAL(19,0)) * p_{a}_{b}"
            f" - CAST(s_{a} AS DECIMAL(19,0)) * CAST(s_{b} AS DECIMAL(19,0))"
            f" AS DECIMAL(38,0))"
        )

    pair_sel = "\n      UNION ALL\n      ".join(
        f"SELECT l_returnflag, '{a}' AS var_a, '{b}' AS var_b, n,\n"
        f"             {covnum(a, b)} AS cov_num,\n"
        f"             {covnum(a, a)} AS var_a_n,\n"
        f"             {covnum(b, b)} AS var_b_n\n"
        f"      FROM a"
        for i, a in enumerate(cols)
        for b in cols[i:]
    )
    return f"""
    WITH o AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity) AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(floor(l_discount * 10000) AS BIGINT) AS disc_bp
      FROM lineitem
    ),
    a AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         {sums},
         {prods}
      FROM o GROUP BY l_returnflag HAVING count(*) >= 2
    ),
    p AS (
      {pair_sel}
    )
    SELECT l_returnflag, var_a, var_b, n, cov_num, var_a_n, var_b_n,
           CASE WHEN var_a_n > 0 AND var_b_n > 0
                THEN CAST(CAST(cov_num AS VARCHAR) AS DOUBLE)
                     / (sqrt(CAST(CAST(var_a_n AS VARCHAR) AS DOUBLE))
                        * sqrt(CAST(CAST(var_b_n AS VARCHAR) AS DOUBLE)))
           END AS corr
    FROM p
    """


def _sql_sssp(rounds: int) -> str:
    """DuckDB twin of operators.graph.sssp_rounds over the weighted
    co-purchase graph (w = 1 + (u+v) % 7, sources ≡ 0 mod 50):
    Bellman-Ford sweeps unrolled as MATERIALIZED CTEs (conv 12).
    Exact BIGINT mins — round-exact semantics, convergence-free."""
    blocks = [
        """e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM q a JOIN q b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )""",
        """nb AS MATERIALIZED (
      SELECT u AS node, v AS nbr, CAST(1 + (u + v) % 7 AS BIGINT) AS w
      FROM e
      UNION ALL
      SELECT v, u, CAST(1 + (u + v) % 7 AS BIGINT) FROM e
    )""",
        """d0 AS MATERIALIZED (
      SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist
      FROM nb WHERE node % 50 = 0
    )""",
    ]
    for i in range(1, rounds + 1):
        blocks.append(f"""d{i} AS MATERIALIZED (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT nb.nbr AS node, d.dist + nb.w AS dist
        FROM nb JOIN d{i - 1} d ON nb.node = d.node
      ) GROUP BY node
    )""")
    chain = ",\n    ".join(blocks)
    return f"""
    WITH q AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 40
    ),
    {chain}
    SELECT node, dist FROM d{rounds}
    """


# ---------------------------------------------------------------------------
# Dedup-aware corpus curation composites (r8): the ops a training-data
# pipeline runs BETWEEN near-dup detection and training — leakage-safe
# splitting, budgeted sampling, cluster canonicalization.  All reuse the
# q99 exact-PPJoin pair engine / q43 component machinery; oracle = the
# inverted-index pair set (conv 7) + WITH RECURSIVE closure.
# ---------------------------------------------------------------------------

# exact ≥0.35 3-gram-Jaccard pair set + undirected edges + min-label
# closure — the oracle-side twin of (_ppjoin_pairs → near_dup_clusters),
# shared by q200/q202
_SQL_CLOSURE_035 = f"""
    sh AS MATERIALIZED (SELECT doc_id, {{grams}} AS grams FROM {_SQL_DOCS_WS}),
    nsz AS (SELECT doc_id, len(grams) AS n FROM sh),
    post AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM post a JOIN post b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN nsz na ON na.doc_id = id_a
      JOIN nsz nb ON nb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.35
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
    comp AS (SELECT id, least(id, min(x)) AS root FROM reach GROUP BY id),
    lab AS (
      SELECT d.doc_id, CAST(coalesce(c.root, d.doc_id) AS BIGINT) AS root
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
"""


def _labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, root) for EVERY document: near-dup component root via
    q99 pairs → min-label/pointer-jumping components; singletons label
    themselves.  Scale shape: PPJoin pair generation (bucketed, never
    all-pairs) + O(log diameter) component rounds + one left join."""
    from .operators.dedup import near_dup_clusters

    pairs = _ppjoin_pairs(spark, sf_dir)
    comp = near_dup_clusters(pairs.select("id_a", "id_b"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return docs.join(
        comp, docs["doc_id"] == comp["id"], "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("cluster"), F.col("doc_id")).cast("long").alias("root"),
    )
