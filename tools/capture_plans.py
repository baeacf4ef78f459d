"""Capture .explain('formatted') for named registry queries into files.

Usage: python tools/capture_plans.py <outdir> <suffix> q41_... q113_...
Writes <outdir>/<query>_<suffix>.txt for each name (the r12 optimization
round's evidence files: plans/r12/<query>_before.txt / _after.txt).

Lazy queries only — eager/streaming queries execute at build; for those
the staged-plan evidence lives in PLANS.md (tools/plan_report.py).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_marketeye_airflow_spark import queries as registry
from etl_marketeye_airflow_spark.session import get_spark


def formatted_plan(df) -> str:
    """df.explain('formatted') output as a string, via the public API
    (ADVICE r12: PythonSQLUtils.explainString is a private JVM reach
    that breaks across versions and under Spark Connect)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def count_exchanges(plan: str) -> int:
    """Real Exchange nodes only — 'Exchange' substring counting also
    matches every ReusedExchange (ADVICE r12), overstating before/after
    evidence.  Formatted explain prints one '(n) Exchange' header line
    per physical node."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def plan_counts(plan: str) -> str:
    """The summary fields printed per plan: shuffle exchanges, reused
    exchanges and broadcast exchanges, each counted from its own
    '(n) <Node>' header so no node type folds into another."""
    n_reused = len(re.findall(r"\(\d+\) ReusedExchange\b", plan))
    n_broadcast = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
    return f"exchanges={count_exchanges(plan)} reused={n_reused} broadcast={n_broadcast}"


def main() -> None:
    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    names = sys.argv[3:]
    assert names, "need query names"
    unknown = set(names) - set(registry.QUERIES)
    assert not unknown, f"unknown: {sorted(unknown)}"
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("capture_plans", cpus=8, shuffle_partitions=8)
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        path = outdir / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(f"{path}  {plan_counts(plan)}", flush=True)


if __name__ == "__main__":
    main()
