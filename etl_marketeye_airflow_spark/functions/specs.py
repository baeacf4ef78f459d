"""Specification-map extraction (F11-F12, F16 in SURVEY.md §2.8).

Reference behavior (cites into /root/reference/ETL-marketeye_airflow-main/):
- Avito direct fields storage/ram/battery_health/color + condition:
  scripts/data_processors/avito_extractor.py:233-249.
- Jumia regex-over-text + specs-dict scan:
  scripts/data_processors/jumia_extractor.py:80-111.  The reference's
  operator-precedence bug at :106 ('stockage' in k or 'storage' in k
  and v — `and` binds tighter, letting empty values through) is FIXED
  here (SURVEY §2.13).
- Electroplanet French key translation:
  scripts/data_processors/electroplanet_extractor.py:57-77.
- spec→JSON string for the relational sink: dags/marketeye_etl_dag.py:881
  → ``to_json``.

All builders return MapType(string,string) columns with null/blank
entries filtered out, so the merge's first-non-null-per-key semantics
(A7) work uniformly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import ELECTROPLANET_SPEC_MAPPING
from .lookup import _sql_str


def _clean_entry(v: Column) -> Column:
    """Treat null / '' / 'NULL' / 'NONE' spec values as missing."""
    s = F.trim(v.cast("string"))
    return F.when(s.isNull() | F.upper(s).isin("", "NULL", "NONE"), F.lit(None)).otherwise(s)


def _key_array(keys) -> Column:
    """``array<string>`` literal of ``keys``, built in a single call."""
    return F.expr("array(" + ", ".join(_sql_str(k) for k in keys) + ")")


def map_from_pairs(*pairs: tuple[str, Column]) -> Column:
    """Build map<string,string> from (key, value-expr), dropping null values.

    Each value expression appears once in the plan: the entries are
    cleaned inside one ``transform_values``, where the value is a bound
    lambda variable, instead of inlining it into every branch of the
    clean-up.
    """
    values = F.map_from_arrays(
        _key_array(k for k, _ in pairs), F.array(*[v.cast("string") for _, v in pairs])
    )
    cleaned = F.transform_values(values, lambda _, v: _clean_entry(v))
    return F.map_filter(cleaned, lambda _, v: v.isNotNull())


def avito_specs(
    storage: Column, ram: Column, battery_health: Column, color: Column, condition: Column
) -> Column:
    """F12 Avito: direct fields; storage/ram uppercased, color title-cased
    (dags/marketeye_etl_dag.py:170-194 applies those case tweaks)."""
    return map_from_pairs(
        ("storage", F.upper(storage.cast("string"))),
        ("ram", F.upper(ram.cast("string"))),
        ("battery_health", battery_health),
        ("color", F.initcap(color.cast("string"))),
        ("condition", condition),
    )


def jumia_text_specs(title: Column, description: Column) -> Column:
    """F11 Jumia: regex spec extraction over lower(title + ' ' + description)."""
    text = F.lower(
        F.concat_ws(" ", F.coalesce(title.cast("string"), F.lit("")),
                    F.coalesce(description.cast("string"), F.lit("")))
    )
    storage_num = F.nullif(F.regexp_extract(text, r"(\d+)\s*(go|gb|go ram)", 1), F.lit(""))
    storage_unit = F.upper(F.regexp_extract(text, r"(\d+)\s*(go|gb|go ram)", 2))
    ram_num = F.nullif(F.regexp_extract(text, r"(\d+)\s*go\s*ram", 1), F.lit(""))
    screen = F.nullif(F.regexp_extract(text, r'(\d+[.,]?\d*)"', 1), F.lit(""))
    return map_from_pairs(
        ("storage", F.when(storage_num.isNotNull(), F.concat_ws(" ", storage_num, storage_unit))),
        ("ram", F.when(ram_num.isNotNull(), F.concat(ram_num, F.lit(" Go")))),
        ("screen_size", F.when(screen.isNotNull(), F.concat(screen, F.lit('"')))),
    )


def jumia_dict_specs(specs_map: Column) -> Column:
    """F12 Jumia: scan a raw specs map for ram/storage/screen key substrings.

    Precedence-bug-fixed semantics: a key matches only when its VALUE is
    non-blank, for every alternative.
    """
    def pick(*substrings: str) -> Column:
        matched = F.map_filter(
            specs_map,
            lambda k, v: _clean_entry(v).isNotNull()
            & F.aggregate(
                F.array(*[F.lower(k).contains(s) for s in substrings]),
                F.lit(False),
                lambda acc, x: acc | x,
            ),
        )
        vals = F.map_values(matched)
        return F.when(F.size(vals) > 0, F.element_at(vals, 1))

    return map_from_pairs(
        ("ram", pick("ram")),
        ("storage", pick("stockage", "storage")),
        ("screen_size", pick("écran", "screen")),
    )


def electroplanet_specs(specs_map: Column) -> Column:
    """F12 Electroplanet: translate French keys to canonical spec keys."""
    return map_from_pairs(
        *[(canon, F.element_at(specs_map, F.lit(fr))) for fr, canon in ELECTROPLANET_SPEC_MAPPING.items()]
    )


def merge_spec_maps(first: Column, second: Column) -> Column:
    """A7 pairwise form: keys of `first` win; `second` fills gaps."""
    return F.map_concat(
        F.map_filter(second, lambda k, v: ~F.array_contains(F.map_keys(first), k)), first
    )
