"""Ordered first-match lookup over a constant (key, value) table.

The mapping tables in ``config`` are scanned as one array of
``(key, value)`` structs:

    get(filter(<table>, e -> contains(text, e.key)), 0).value

``filter`` keeps table order and ``get`` reads index 0, so the first key
contained in ``text`` wins, as in the reference's ordered-dict loop;
``get`` returns NULL past the end (no match), ANSI mode included.  The
table is one SQL literal built in a single call, and constant-folded by
the optimizer.  Against an unrolled ``coalesce(when(contains(..)) ..)``
chain of one arm per key this builds in a few calls instead of a few
per arm, and keeps the per-arm branches out of the generated code.

``text`` is bound once per row (conv 6b): a lambda that captured the
text expression would re-evaluate it for every table entry, so the
lookup runs inside ``transform(array(text), t -> ...)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def first_match(text: Column, mapping) -> Column:
    """Value of the first ``(key, value)`` whose key is a substring of
    ``text``; NULL when none is (or ``text`` is NULL)."""
    if not mapping:
        return F.lit(None).cast("string")
    table = F.expr(
        "array("
        + ", ".join(f"named_struct('key', {_sql_str(k)}, 'value', {_sql_str(v)})" for k, v in mapping)
        + ")"
    )
    hit = F.transform(
        F.array(text),
        lambda t: F.get(F.filter(table, lambda e: t.contains(e["key"])), 0)["value"],
    )
    return F.get(hit, 0)
