"""Scoped session confs and the input-size rule for state partitions.

Registry queries share one plain session (CLAUDE.md conv 5), so a conf
a query sets must be gone when the query returns — including a key that
was ABSENT before, which a ``conf.set(k, prev)`` restore would leave
explicitly set to its default.  ``scoped_conf`` is the one way to set a
conf inside a query.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Below this many file bytes a stateful stream's per-partition state-store
# cost outweighs its parallelism (r13 A/B: q31/q154 at 8 partitions beat
# the ambient 32; q117 at sf10 bottlenecked on 8).
_SMALL_STATE_INPUT_BYTES = 64 << 20


@contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body of the ``with`` block.

    On exit — normal or by exception — each key gets its previous value
    back, and a key that was unset before is unset again.
    """
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def table_bytes(sf_dir: str, table: str) -> int:
    """File size of ``<sf_dir>/<table>.parquet``; 0 when it cannot be
    stat'ed (e.g. a non-local filesystem), which callers size as small."""
    try:
        return os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        return 0


def state_partitions(spark: SparkSession, sf_dir: str, table: str) -> str:
    """``spark.sql.shuffle.partitions`` value for a stateful stream over
    ``table``: "8" below 64 MiB of input, else every core.  The count
    never affects results — state is key-partitioned either way."""
    if table_bytes(sf_dir, table) < _SMALL_STATE_INPUT_BYTES:
        return "8"
    return str(spark.sparkContext.defaultParallelism)
