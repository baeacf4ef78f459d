"""Brand normalization expressions (F4-F5 in SURVEY.md §2.8).

Reference behavior (cites into /root/reference/ETL-marketeye_airflow-main/):
- normalize_brand: scripts/data_processors/base_extractor.py:40-51 —
  case-insensitive substring lookup, first match wins (ordered mapping),
  fallback title-case, null → 'Unknown'.
- 3-level fallback (field → title → model): avito_extractor.py:90-145.
- canonical table + HONOR conflict resolution: see ``config.BRAND_MAPPING``.

Divergence (documented): the reference's ``str.title()`` capitalizes
after ANY non-alpha ("mi-a2" → "Mi-A2"); Spark ``initcap`` capitalizes
after whitespace only ("Mi-a2").  We use initcap — the difference only
affects unmapped brands containing punctuation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import BRAND_MAPPING, TITLE_BRAND_MAPPING
from .lookup import first_match


def normalize_brand(brand: Column, mapping=BRAND_MAPPING) -> Column:
    """F4: canonical brand from a brand-ish field; fallback initcap; null → Unknown."""
    s = F.trim(brand.cast("string"))
    lowered = F.lower(s)
    mapped = first_match(lowered, mapping)
    return (
        F.when(s.isNull() | (s == ""), "Unknown")
        .otherwise(F.coalesce(mapped, F.initcap(lowered)))
    )


def brand_from_text(text: Column, mapping=TITLE_BRAND_MAPPING) -> Column:
    """Scan free text (title/model field) for a known brand substring.

    Returns null when nothing matches (callers coalesce the fallback
    chain), unlike normalize_brand which always yields a value.
    """
    return first_match(F.lower(F.coalesce(text.cast("string"), F.lit(""))), mapping)


def extract_brand(
    brand_field: Column, title: Column, model_field: Column | None = None
) -> Column:
    """F5: 3-level brand fallback — field → title scan → model scan → Unknown.

    The field path treats sentinel strings as missing (avito_extractor.py:94)
    and, when present, goes through the full normalize_brand mapping
    (substring match, then title-cased passthrough for unmapped brands).
    """
    s = F.trim(brand_field.cast("string"))
    field_ok = s.isNotNull() & ~F.upper(s).isin("", "NULL", "NONE", "INCONNU")
    from_field = F.when(field_ok, normalize_brand(s))
    from_title = brand_from_text(title)
    chain = [from_field, from_title]
    if model_field is not None:
        chain.append(brand_from_text(model_field))
    return F.coalesce(*chain, F.lit("Unknown"))
