"""Tests for the benchmark's own code.

Run with:  python -m pytest perfbench/tests -q -p no:cacheprovider
"""

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT), str(ROOT / "tools")]


@pytest.fixture(scope="session")
def spark():
    from etl_marketeye_airflow_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        cpus=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
