"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload {etl_daily,engine} \
        --seed N --seconds S --trace {0,1}

One client runs the workload's operations back to back (the next starts
when the previous ends) on ``local[nproc - 1]``:

1. inputs are generated from the seed under a per-run directory in
   ``.perfbench/`` (removed at the end); Spark's local, temp, warehouse
   and checkpoint directories go there too;
2. set-up (``setup_s``): the session start, then the warm-up operations
   (one untimed pass of the same queries for ``engine``; one tiny generic
   Spark job for ``etl_daily``);
3. timed region: the workload's fixed number of passes over its
   operations (``etl_daily`` makes one, since every daily run is a cold
   one; ``engine`` three); no further pass starts once the region has run
   ``--seconds`` or when it would end past ``PASS_BUDGET_S``.  ``wall_s``
   is the median pass time;
4. every output is checked; an operation that raises, hangs past its
   deadline or returns a wrong output counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` each layer call is a span with its own job group, the
Spark event log is on, and the line carries the per-layer counters of the
median timed pass.  The line before it is a context record: host, cores,
driver memory, calibration samples, error rate, per-operation times and,
when traced, each span's counters.  Traced runs also write every span to
``.perfbench/traces/``.

Exits 2 without a result when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

import spans
import workloads

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "2g"  # the factory default (16g) exceeds small hosts' RAM
# Hang deadlines.  On a shared 4-vCPU host an honest operation takes under
# 50 s even cold (the etl_daily pass) and about twice that in slow windows;
# the run as a whole must end within 180 s, so no operation starts, or
# runs, past RUN_BUDGET_S after the process began.
OP_TIMEOUT_S = 120.0
RUN_BUDGET_S = 160.0
# No pass after the first starts if it would end later than this after
# the process began: it keeps the run short when the host is slow, at the
# cost of fewer passes in the median.
PASS_BUDGET_S = 72.0
T_START = time.time()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def calibration_sample() -> dict:
    """bench.py's host-speed probes: single-core interpreter speed and
    memory bandwidth (200 MB alloc + sum)."""
    import numpy as np

    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    float(np.sum(np.ones(25_000_000)))
    mem = time.perf_counter() - t0
    return {"pyloop2m_s": round(py, 4), "memsum200mb_s": round(mem, 4)}


def descendants(pid: int) -> list[int]:
    """Live descendant process ids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def describe_error(e: BaseException) -> str:
    detail = (str(e).splitlines() or [""])[0][:200]
    jexc = getattr(e, "java_exception", None)
    if jexc is not None:
        try:
            detail += " | java: " + jexc.toString()[:300]
        except Exception:  # noqa: BLE001 — the gateway may already be gone
            pass
    return f"{type(e).__name__}: {detail}"


class Runner:
    """Runs operations under spans with bench.py's hang watchdog: past the
    deadline the operation's job groups are cancelled (repeatedly, since a
    multi-job operation submits the next job after a cancel) and the
    operation counts as failed.  Streams are bounded by the drain's own
    ``SPARK_GRAFT_STREAM_TIMEOUT``, set to the same deadline."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn):
        """Returns (span index or None when not started, output or None)."""
        sc = self.spark.sparkContext
        done = threading.Event()
        self.attempted += 1
        timeout_s = min(OP_TIMEOUT_S, T_START + RUN_BUDGET_S - time.time())
        if timeout_s <= 0:
            self.fail(name, "not started: the run's time budget is spent")
            return None, None
        with self.tracer.span(name) as sp:
            idx = self.tracer.current()

            def axe():
                if done.wait(timeout_s):
                    return
                print(f"[perfbench] {name} timed out after {timeout_s:.0f}s; cancelling",
                      file=sys.stderr, flush=True)
                while not done.is_set():
                    for g in self.tracer.groups_in(idx):
                        sc.cancelJobGroup(g)
                    done.wait(2)

            watchdog = threading.Thread(target=axe, daemon=True)
            watchdog.start()
            try:
                out = fn(self.spark, self.tracer)
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
                out = None
                self.fail(name, describe_error(e))
            finally:
                done.set()
        watchdog.join(10)
        return self.tracer.spans.index(sp), out

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        print(f"[perfbench] {name} FAILED: {why}", file=sys.stderr, flush=True)

    def release_caches(self) -> None:
        """bench.py's between-attempt hygiene: drop SQL and RDD caches so
        no operation feeds the next a cache hit."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)


def start_session(app: str, cpus: int, run_dir: Path, trace: bool):
    from etl_marketeye_airflow_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.sql.streaming.checkpointLocation": str(run_dir / "checkpoints"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                # Spark 4 compresses event logs with zstd by default
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app, cpus=cpus, extra_conf=conf)


def stop_session(spark, pids: list[int]) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (the Python workers are its children)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def layer_metrics(tracer, pass_spans: list[int], wall_s: float, log_dir: Path) -> tuple[dict, dict]:
    """(per-layer result metrics, per-span detail) from the event log;
    the counters are those of the pass ``pass_spans``."""
    own = spans.parse_event_log(spans.read_event_log(str(log_dir)), tracer.spans)
    total = spans.EngineCounters()
    driver_only = 0.0
    for i in pass_spans:
        c = spans.subtree_counters(tracer.spans, own, i)
        total.add(c)
        s = tracer.spans[i]
        driver_only += s.duration - spans.covered(c.task_intervals, s.start, s.end)
    metrics = {
        "session.get_spark_s": next(s.duration for s in tracer.spans if s.name == "session.get_spark"),
        "trace.wall_s": wall_s,
        "driver.only_s": driver_only,
        **total.summary(),
    }
    detail = {}
    self_s = spans.self_times(tracer.spans)
    for i, s in enumerate(tracer.spans):
        c = spans.subtree_counters(tracer.spans, own, i)
        rec = {
            "s": s.duration,
            "self_s": self_s[i],
            "driver.only_s": s.duration - spans.covered(c.task_intervals, s.start, s.end),
            **c.summary(),
            **s.attrs,
        }
        if any(spans.within(tracer.spans, r["span"], i) for r in tracer.streams.values()):
            rec.update({f"streaming.{k}": v for k, v in spans.stream_summary(tracer, i).items()})
        detail[f"{i}:{s.name}"] = rec
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    try:
        import check_correctness  # noqa: F401 — the oracle gate's canonical rows
        import pyspark  # noqa: F401
        import etl_marketeye_airflow_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    inherited_local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    try:
        for sub in ("local", "tmp", "checkpoints"):
            (run_dir / sub).mkdir(parents=True)
        # Spark's scratch (SPARK_LOCAL_DIRS wins over spark.local.dir) and
        # the Python workers' temp files stay inside the run directory
        os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
        os.environ["TMPDIR"] = str(run_dir / "tmp")
        os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT", str(OP_TIMEOUT_S))
        return run(args, run_dir, inherited_local_dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: Path, inherited_local_dirs: str | None) -> int:
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = declared["per_layer" if args.trace else "end_to_end"]
    nproc = len(os.sched_getaffinity(0))
    # one vCPU is left to the JVM's JIT and GC threads, the scheduler and
    # the Python driver: on 4 vCPUs, 4 task threads made the engine pass
    # spread twice as wide between runs as 3 did, and no faster; 2 made
    # it 20-45% slower and no steadier
    cpus = max(1, nproc - 1)
    calib_before = calibration_sample()
    workload = workloads.make(args.workload, run_dir, args.seed)
    tracer = spans.Tracer(run_dir.name, enabled=bool(args.trace))

    t_setup = time.time()
    with tracer.span("session.get_spark"):
        spark = start_session(f"perfbench-{args.workload}", cpus, run_dir, bool(args.trace))
    pids: list[int] = []
    try:
        tracer.sc = spark.sparkContext
        if args.trace:
            spans.add_stream_listener(spark, tracer)
        runner = Runner(spark, tracer)
        outputs = []  # (op name, output) for the checks
        for name, fn in workload.warmup_ops():
            _, out = runner.run(name, fn)
            outputs.append((name, out))
            runner.release_caches()
        setup_s = time.time() - t_setup

        passes: list[list[int]] = []  # span indices per pass
        pass_s: list[float] = []
        t_timed = time.time()

        def another_pass() -> bool:
            if not passes:
                return True
            now = time.time()
            return (
                len(passes) < workload.passes
                and now - t_timed < args.seconds
                and now + pass_s[-1] <= T_START + PASS_BUDGET_S
            )

        while another_pass():
            if passes:
                spark.sparkContext._jvm.System.gc()  # no GC debris from the last pass
            pass_spans = []
            for name, fn in workload.pass_ops(len(passes)):
                idx, out = runner.run(name, fn)
                if idx is not None:
                    pass_spans.append(idx)
                outputs.append((name, out))
                runner.release_caches()
            passes.append(pass_spans)
            pass_s.append(sum(tracer.spans[i].duration for i in pass_spans))
        wall_s = statistics.median(pass_s)

        pids = descendants(os.getpid())
        rss_mb = peak_rss_mb(pids)
        driver_mem = spark.sparkContext.getConf().get("spark.driver.memory")
        heap_max_mb = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    finally:
        stop_session(spark, pids or descendants(os.getpid()))

    for name, out in outputs:
        if out is None:
            continue  # already counted as failed
        try:
            problems = workload.check(name, out)
        except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed output
            problems = [f"check raised {describe_error(e)}"]
            traceback.print_exc()
        if problems:
            runner.fail(name, "; ".join(problems))

    op_times: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s.parent is None and s.name != "session.get_spark":
            op_times.setdefault(s.name, []).append(round(s.duration, 4))
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "executor_threads": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_LOCAL_DIRS": inherited_local_dirs,
        "spark_local_dirs_used": str(run_dir / "local"),
        "driver_memory": driver_mem,
        "driver_heap_max_mb": round(heap_max_mb, 1),
        "calibration": {"before": calib_before, "after": calibration_sample()},
        "records_per_pass": workload.records_per_pass,
        "passes": len(passes),
        "pass_s": [round(x, 4) for x in pass_s],
        "op_s": op_times,
        "error_rate": runner.failed / runner.attempted,
        "errors": runner.errors[:10],
    }
    if args.trace:
        median_pass = sorted(range(len(passes)), key=pass_s.__getitem__)[len(passes) // 2]
        metrics, detail = layer_metrics(tracer, passes[median_pass], wall_s, run_dir / "eventlog")
        context["spans"] = detail
        traces = ROOT / ".perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.write(str(traces / f"{args.workload}-s{args.seed}.json"), {"context": context})
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "records_per_s": workload.records_per_pass / wall_s if wall_s else 0.0,
            "peak_rss_mb": rss_mb,
        }
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    print(json.dumps({"context": context}, default=str))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
