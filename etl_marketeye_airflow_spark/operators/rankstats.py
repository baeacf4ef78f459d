"""Exact order-statistic machinery: rank-quantile assignment WITHOUT a
full global rank.

``global_rank_cumsum`` (operators/ranking.py) attaches a rank to every
row — two passes, but the second pass locally SORTS every partition and
the checkpoint materializes the full frame.  When a query only needs
each row's *quantile bucket* under the exact integer rule

    q(rn) = ((rn - 1) * parts) div n + 1

the rank itself is unnecessary: q(rn) = 1 + #{k in 1..parts-1 :
rn >= rb_k} where rb_k = ceil(k*n/parts) + 1 is the first rank of
bucket k+1 (immediate from the floor-division definition).  Under a
UNIQUE (value, key) total order, ``rn >= rb_k`` holds iff the row's
(value, key) is lexicographically >= the boundary row's — so parts-1
collected boundary ROWS replace the whole rank column, and bucket
assignment is a per-row comparison with zero shuffle.

Scale shape per metric: one range exchange of ONLY (value, key), one
bounded per-partition count collect, a local sort of ONLY the <=
parts-1 partitions that hold a boundary, one <= parts-1 row collect.
The assignment pass reads the source frame in place.  Versus the
global-rank form this removes the full-frame local sort and the
full-frame checkpoint write (r13, VERDICT item 4; the boundary rule is
bit-identical by construction — pinned by tests/test_rankstats.py
against a plain-window reference including n < parts and tie cases).

NULL ordering: comparisons replicate Spark's ascending NULLS FIRST for
both value and key (NULL acts as -infinity), so behavior matches the
``global_rank_cumsum(asc)`` form this replaces exactly — including on
inputs where NULLs would reach the ordering columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _lex_ge(
    v: Column, k: Column, vb, kb
) -> Column:
    """(v, k) >= (vb, kb) under ascending NULLS FIRST lexicographic
    order (NULL == -infinity), with vb/kb Python literals collected
    from the same Spark ordering."""
    vb_c, kb_c = F.lit(vb), F.lit(kb)
    # every sub-expression is guarded so no three-valued NULL can leak
    # through the OR chain (false OR NULL is NULL, which would void the
    # whole bucket count for NULL-valued rows)
    v_gt = v.isNotNull() & (vb_c.isNull() | (v > vb_c))
    k_ge = kb_c.isNull() | (k.isNotNull() & (k >= kb_c))
    return v_gt | (v.eqNullSafe(vb_c) & k_ge)


def rank_quantile_boundaries(
    df: DataFrame,
    value_col: str,
    key_col: str,
    parts: int = 4,
    num_partitions: int | None = None,
) -> tuple[int, list]:
    """The parts-1 exact boundary rows of the rank-quantile rule over
    the (value, key) ascending total order.

    Returns ``(n, rows)`` where ``rows[k-1]`` is the (value, key) tuple
    at rank ``ceil(k*n/parts) + 1`` — the first row of bucket k+1 — or
    ``None`` when that rank exceeds n (possible only for n < parts).

    Two bounded driver transfers: <= num_partitions count rows, then
    <= parts-1 boundary rows.  Only the partitions containing a
    boundary are ever sorted.  The (value, key, pid) projection is
    localCheckpoint'ed so partition ids stay frozen between the count
    job and the extraction job (same determinism argument as
    operators/ranking.py — a recomputed range exchange re-samples its
    boundaries).  Input columns must not collide with the internal
    ``_pid``/``_lrn`` names (guarded, as in ``global_rank_cumsum``).
    """
    from .ranking import release_local_checkpoint

    clash = {"_pid", "_lrn"} & set(df.columns)
    if clash:
        raise ValueError(
            f"rank_quantile_boundaries: input columns {sorted(clash)} "
            "collide with internal names — rename them first"
        )
    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    keyed = (
        df.select(value_col, key_col)
        .repartitionByRange(
            n_parts, F.col(value_col).asc(), F.col(key_col).asc()
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    try:
        per_pid = sorted(
            (r["_pid"], r["_pn"])
            for r in keyed.groupBy("_pid")
            .agg(F.count(F.lit(1)).cast("long").alias("_pn"))
            .collect()
        )
        n = sum(pn for _, pn in per_pid)
        rows: list = [None] * (parts - 1)
        targets: dict[int, list[tuple[int, int]]] = {}
        for k in range(1, parts):
            rb = -(-(k * n) // parts) + 1  # ceil(k*n/parts) + 1
            if rb > n:
                continue  # bucket k+1 unreachable (n < parts)
            off = 0
            for pid, pn in per_pid:
                if rb <= off + pn:
                    targets.setdefault(pid, []).append((k, rb - off))
                    break
                off += pn
        if targets:
            w = Window.partitionBy("_pid").orderBy(
                F.col(value_col).asc(), F.col(key_col).asc()
            )
            hits = (
                keyed.filter(F.col("_pid").isin(list(targets)))
                .withColumn("_lrn", F.row_number().over(w))
                .filter(
                    F.struct("_pid", "_lrn").isin(
                        [
                            F.struct(F.lit(pid), F.lit(lrn))
                            for pid, lrns in targets.items()
                            for _, lrn in lrns
                        ]
                    )
                )
                .collect()
            )
            lookup = {
                (r["_pid"], r["_lrn"]): (r[value_col], r[key_col])
                for r in hits
            }
            for pid, lrns in targets.items():
                for k, lrn in lrns:
                    rows[k - 1] = lookup[(pid, lrn)]
        return n, rows
    finally:
        release_local_checkpoint(keyed)


def rank_quantile_col(
    value_col: str, key_col: str, boundaries: list
) -> Column:
    """Bucket column 1 + #{k : (value, key) >= boundaries[k-1]} —
    equals ((rn-1)*parts) div n + 1 for the rank rn this row would get
    under the (value, key) asc NULLS FIRST total order."""
    q: Column = F.lit(1)
    for b in boundaries:
        if b is None:
            continue
        vb, kb = b
        q = q + _lex_ge(F.col(value_col), F.col(key_col), vb, kb).cast(
            "int"
        )
    return q.cast("int")
