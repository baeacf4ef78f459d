"""Shared helpers for master-schema assembly."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import MASTER_SCHEMA, OFFER_SCHEMA

# SQL type strings of the offer struct and the master columns, in schema
# order: a cast to a type string is one JVM call, where a DataType
# argument pays a session lookup and a JSON round trip per cast.
_OFFER_TYPE = OFFER_SCHEMA.simpleString()
_MASTER_CASTS = [
    f"CAST({f.name} AS {f.dataType.simpleString()}) AS {f.name}" for f in MASTER_SCHEMA.fields
]


def build_offer(**fields: Column) -> Column:
    """Assemble one offer struct with nulls for absent per-source fields
    (adapters supply the fields they have).  The struct is cast as a
    whole: a struct cast matches fields by position and takes the names
    from the offer type."""
    return F.struct(
        *[fields[f.name] if f.name in fields else F.lit(None) for f in OFFER_SCHEMA.fields]
    ).cast(_OFFER_TYPE)


def build_metadata(source: str, scraped_at: Column | None = None) -> Column:
    """metadata struct; created/updated stamped from the batch clock.

    The reference stamps datetime.now() per row (non-deterministic);
    the engine uses current_timestamp() — constant-folded per query,
    deterministic within a run (SURVEY §7.3 determinism note).
    """
    ts = F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    return F.struct(
        F.array(F.lit(source)).alias("sources"),
        ts.alias("created_at"),
        ts.alias("last_updated"),
    )


def finalize_master(df: DataFrame) -> DataFrame:
    """Project to exact master-schema column order/types.

    P4/P6 (drop rows without product_id) is an INVARIANT here, not a
    filter: adapter ids come from concat_ws over never-empty brand/model
    parts, so they cannot be null or ''.  Do NOT add a filter on the
    derived id — predicate pushdown substitutes the whole id→model→brand
    expression tree into the predicate (measured: a 1.5 MB Filter node,
    ~30× plan blowup).  External master-doc ingestion must filter null
    ids at its own scan, where the predicate is a cheap column ref.
    """
    return df.selectExpr(*_MASTER_CASTS)
