"""Condition canonicalization (F9 in SURVEY.md §2.8).

Reference behavior: scripts/data_processors/avito_extractor.py:282-304 —
French/English keyword substring map → canonical condition, default 'used'.
Matched longest-key-first (config.CONDITION_MAPPING) so 'comme neuf' →
'like new' beats 'neuf' → 'new'; the DAG variant's dict-order bug
(dags/marketeye_etl_dag.py:203-213) is intentionally not replicated.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import CONDITION_MAPPING
from .lookup import first_match


def determine_condition(condition: Column, default: str = "used") -> Column:
    s = F.trim(condition.cast("string"))
    missing = s.isNull() | F.upper(s).isin("", "NULL", "NONE")
    mapped = F.coalesce(first_match(F.lower(s), CONDITION_MAPPING), F.lit(default))
    return F.when(missing, default).otherwise(mapped)
