"""Workload checks against a real session at a tiny size, and the
entry point's exit without the program."""

import os
import shutil
import subprocess
import sys
from pathlib import Path

import run
import spans
import workloads

BENCH = Path(__file__).resolve().parent.parent


def _tracer(spark, enabled):
    t = spans.Tracer("test", enabled=enabled)
    t.sc = spark.sparkContext
    return t


def test_manifest_matches_run_etl(spark, tmp_path):
    wl = workloads.EtlDaily(tmp_path, seed=4, records=400)
    (name, op), = wl.pass_ops(0)
    out = op(spark, _tracer(spark, enabled=False))
    assert wl.check(name, out) == []
    assert out["stats"]["total_offers"] == wl.manifest["offers"]


def test_spark_warmup_is_checked(spark, tmp_path):
    wl = workloads.EtlDaily(tmp_path, seed=4, records=400)
    (name, op), = wl.warmup_ops()
    out = op(spark, _tracer(spark, enabled=False))
    assert wl.check(name, out) == []
    assert wl.check(name, {"groups": 2}) == ["warm-up gave {'groups': 2}, want 3 groups"]


def test_traced_layers_give_same_outputs(spark, tmp_path):
    wl = workloads.EtlDaily(tmp_path, seed=5, records=400)
    tracer = _tracer(spark, enabled=True)
    (name, op), = wl.pass_ops(0)
    with tracer.span(name):
        out = op(spark, tracer)
    assert wl.check(name, out) == []
    names = [s.name for s in tracer.spans]
    assert "sources.read_source.jumia" in names and "operators.merge.merge_products" in names
    merge = tracer.spans[names.index("operators.merge.merge_products")]
    assert merge.attrs["rows"] == wl.manifest["products"]
    assert tracer.spans[names.index("sinks.write_csv_offers")].attrs["bytes_written"] > 0
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_registry_check_uses_the_oracle(spark, tmp_path):
    wl = workloads.RegistryWorkload(
        {"q154": workloads.ENGINE_QUERIES["q154"]}, tmp_path, seed=1, scale=0.001
    )
    (name, op), = wl.pass_ops(0)
    out = op(spark, _tracer(spark, enabled=False))
    assert wl.check(name, out) == []
    wrong = dict(out, rows=out["rows"][:-1] + [tuple(v if i else -1 for i, v in enumerate(out["rows"][-1]))])
    assert wl.check(name, wrong) == ["values differ from the oracle"]
    assert wl.check(name, dict(out, rows=out["rows"][1:]))[0].endswith(f"oracle {len(out['rows'])}")


def test_peak_rss_counts_live_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in run.descendants(os.getpid())
        assert run.peak_rss_mb([child.pid]) > 0
    finally:
        child.kill()
        child.wait()


def test_exits_without_result_when_program_is_missing(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCH.parent / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_daily", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode == 2
    assert p.stdout == ""
    assert not (tmp_path / ".perfbench").exists()
