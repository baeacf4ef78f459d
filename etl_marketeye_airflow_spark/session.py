"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same code runs unchanged — every knob here is either scale-neutral (AQE,
Arrow, UTC) or derived from the environment.  See SURVEY.md §4 for what we
rely on Catalyst for (pushdown, pruning, join planning, codegen, AQE skew
handling) and therefore must not defeat with UDFs or driver-side loops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "marketeye-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on: runtime partition coalescing + skew-join handling. The
      reference data is skewed (one product group held 995 of 25,558
      offers — SURVEY.md §4); at 100 TB the same shape needs AQE or
      manual salting, so it is on everywhere, tests included.
    - ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a
      cluster AQE coalesces from this initial number, so oversizing is
      cheap and undersizing is not — callers can raise it via the arg.
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle (naive-UTC) used by the correctness gate.
    - No per-Column call-site capture
      (``spark.python.sql.dataFrameDebugging.enabled=false``).  With it on,
      every ``functions``/Column call records its Python call site over
      py4j (an active-session lookup, a conf read, an origin set and
      clear, a stack walk): a ``run_etl`` build on ``tests/fixtures``
      makes 9.4k round trips with it and 4.9k without.  The cost is that
      ANSI runtime errors lose the Python fragment of their DataFrame
      query context.  PySpark caches the flag for the whole process on
      the first Column call, so it can only be set here, at session build.
    """
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or max(cpus, 4)
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor 1m → 64k (r13): with parallelismFirst (the
        # default) the coalesce target is max(bytes/parallelism, THIS
        # FLOOR), so the 1 MiB default serializes expression-heavy
        # small-byte stages — q99's distinct+verify stage (16 s of CPU
        # over a 6 MB exchange) ran 5-way on 32 cores.  64k lets
        # bytes/parallelism win whenever the stage has less than
        # 64k×cores of input, i.e. exactly the stages where per-row CPU
        # dominates byte handling; at real scale bytes/parallelism ≫ 1m
        # and the floor never binds (scale-safe by construction).
        # Same-session A/B (probes/r13_ppjoin_iso2.json): q99 engine
        # 5.61 → 2.57 s min-of-3 from this alone.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
