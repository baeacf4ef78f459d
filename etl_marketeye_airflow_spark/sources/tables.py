"""Parquet table loaders for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown
and column pruning; do NOT cache here — callers decide persistence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..conf_scope import scoped_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


EVENTS_STREAM_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string,"
    " value double, props string"
)

DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def load_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file stream — ONE definition of the
    schema string for every documents-streaming query (q50/q136), same
    single-copy rule as ``load_events_stream``: a testdata column-type
    change must be fixed in exactly one place."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")  # file source needs a DIR
        .parquet(sf_dir)
    )


def events_ts_divisor(sf_dir: str) -> int:
    """ts-to-microseconds divisor for the events table at ``sf_dir``.

    The driver has shipped events.parquet with BOTH parquet
    TIMESTAMP(NANOS) (earlier rounds) and TIMESTAMP(MICROS) (round 3+).
    Read with an explicit ``ts long`` schema, the column yields the RAW
    stored integer either way — nanos (divide by 1000) or micros
    (divide by 1).  Detecting the unit from the file footer keeps every
    event-time query exact against DuckDB's ``epoch_us(ts)`` no matter
    which flavor the current testdata uses.

    Fails LOUD when the unit cannot be determined — a silent default
    here is exactly the 1000x-wrong-timestamps failure mode this
    function exists to prevent (every event-time query would read
    ts_us off by three orders of magnitude with no error).
    """
    import pyarrow.parquet as pq  # baked into the env; ImportError IS loud

    t = pq.ParquetFile(f"{sf_dir}/events.parquet").schema_arrow.field("ts").type
    unit = getattr(t, "unit", None)
    if unit not in ("ns", "us"):
        raise ValueError(
            f"events.parquet ts has unsupported type {t!r} (unit={unit!r}); "
            "expected TIMESTAMP(NANOS) or TIMESTAMP(MICROS) — the testdata "
            "format changed again, extend events_ts_divisor deliberately"
        )
    return 1000 if unit == "ns" else 1


# Scoped around creating an events reader.  Needed only when the file is
# TIMESTAMP(NANOS) (Spark 4 otherwise rejects the footer even under an
# explicit long schema); harmless for micros files.  The conf is captured
# at DataFrame-CREATION time (verified for batch reads and for a stream
# drained after the restore), so it is restored at once: leaking it would
# silently change nano-timestamp parquet reads for every later query on
# the shared registry session (convention #5).
_NANOS_AS_LONG = {"spark.sql.legacy.parquet.nanosAsLong": "true"}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with its timestamp column made usable at integer precision.

    ``ts`` is the raw stored integer (nanos or micros depending on the
    testdata round — see ``events_ts_divisor``); ``ts_us`` is exact
    integer microseconds, matching DuckDB's ``epoch_us(ts)``
    bit-for-bit.  Event-time queries should compare ``ts_us`` integers;
    float epochs differ from DuckDB in sub-microsecond rounding.
    """
    from pyspark.sql import functions as F

    div = events_ts_divisor(sf_dir)
    with scoped_conf(spark, _NANOS_AS_LONG):
        df = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
    return df.withColumn("ts_us", F.expr(f"ts div {div}"))


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of load_events: the events table as a file stream,
    with ``_t`` (TIMESTAMP, µs precision) ready for watermarks/windows
    and ``ts_us`` (integer µs) for exact arithmetic.

    One definition for the schema string, the unit detection, and the
    scoped nanosAsLong conf — every events-streaming query reads through
    here rather than carrying its own copy that can drift.
    """
    from pyspark.sql import functions as F

    div = events_ts_divisor(sf_dir)
    with scoped_conf(spark, _NANOS_AS_LONG):
        df = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("pathGlobFilter", "events.parquet")  # file source needs a DIR
            .parquet(sf_dir)
        )
    return df.withColumn("ts_us", F.expr(f"ts div {div}")).withColumn(
        "_t", F.timestamp_micros(F.expr(f"ts div {div}"))
    )


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_evolving_parquet(
    spark: SparkSession, path: str, canonical_ddl: str
) -> DataFrame:
    """Schema-evolution-tolerant parquet read: files written across
    schema versions (columns added over time, widened numeric types)
    come back as ONE DataFrame with the caller's canonical schema —
    missing columns null-filled, every column cast to its canonical
    type, order normalized.

    Neither ``mergeSchema`` nor an explicit read schema survives TYPE
    WIDENING (Spark refuses to merge BIGINT with DOUBLE and the parquet
    reader rejects a bigint column under a double read schema), so this
    does what a lake table format does internally: group the files by
    their FOOTER schema (one metadata read per file — same cost class
    as mergeSchema's footer pass; at catalog-scale file counts keep a
    schema registry instead), read each group under its own schema, and
    cast every group to the canonical contract before the union.  Casts
    are analysis-time: an incompatible evolution (string → long) fails
    loudly at plan time, not row by row.
    """
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    canonical = StructType.fromDDL(canonical_ddl)
    files = sorted(
        f
        for f in _glob.glob(f"{path}/**/*.parquet", recursive=True)
        + _glob.glob(f"{path}/*.parquet")
        if "_SUCCESS" not in f
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    groups: dict[tuple, list[str]] = {}
    for f in sorted(set(files)):
        sch = _pq.ParquetFile(f).schema_arrow
        key = tuple((fld.name, str(fld.type)) for fld in sch)
        groups.setdefault(key, []).append(f)

    def align(df: DataFrame) -> DataFrame:
        present = set(df.columns)
        return df.select(
            *[
                (F.col(fld.name) if fld.name in present else F.lit(None))
                .cast(fld.dataType)
                .alias(fld.name)
                for fld in canonical.fields
            ]
        )

    out = None
    for key in sorted(groups):  # deterministic union order
        part = align(spark.read.parquet(*groups[key]))
        out = part if out is None else out.unionByName(part)
    return out
