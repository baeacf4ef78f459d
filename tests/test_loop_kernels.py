"""Single-task NumPy loop kernels (operators/loop_kernels.py): the same
output as the distributed loops on random graphs, the exactness guards,
and a shipped closure that runs without the package."""

import os
import subprocess
import sys
from contextlib import contextmanager

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.operators import graph
from etl_marketeye_airflow_spark.operators import loop_kernels as lk
from etl_marketeye_airflow_spark.operators.dedup import near_dup_clusters

ID = st.integers(0, 12)
# directed edge lists: self-loops and repeated edges (rank/score ties)
DIRECTED = st.lists(st.tuples(ID, ID), min_size=1, max_size=30)
# canonical undirected simple edges (src < dst, distinct): kcore and LPA
CANONICAL = st.lists(st.tuples(ID, ID), max_size=30).map(
    lambda es: sorted({(min(a, b), max(a, b)) for a, b in es if a != b})
)
# may name nodes outside the graph (isolated sources)
SOURCES = st.lists(st.integers(0, 15), max_size=4)


@contextmanager
def _bound(n):
    old = lk.KERNEL_MAX_EDGES
    lk.KERNEL_MAX_EDGES = n
    try:
        yield
    finally:
        lk.KERNEL_MAX_EDGES = old


def _edges(spark, es, a="src", b="dst"):
    return spark.createDataFrame(es, f"{a} long, {b} long")


def _sources(spark, ns):
    return spark.createDataFrame([(n,) for n in ns], "node long")


def _pagerank(spark, data):
    es = data.draw(DIRECTED)
    it, dang = data.draw(st.integers(0, 4)), data.draw(st.booleans())
    return lambda: graph.pagerank_fixed_point(
        _edges(spark, es), iters=it, dangling_mass=dang
    )


def _hits(spark, data):
    es, it = data.draw(DIRECTED), data.draw(st.integers(1, 3))
    return lambda: graph.hits_fixed_point(_edges(spark, es), iters=it)


def _kcore(spark, data):
    es, k = data.draw(CANONICAL), data.draw(st.integers(1, 3))
    return lambda: graph.kcore(_edges(spark, es), k=k)


def _lpa(spark, data):
    es, it = data.draw(CANONICAL), data.draw(st.integers(0, 4))
    return lambda: graph.label_propagation(_edges(spark, es), iters=it)


def _bfs(spark, data):
    es, src, hops = data.draw(DIRECTED), data.draw(SOURCES), data.draw(st.integers(0, 4))
    return lambda: graph.bfs_distances(
        _edges(spark, es), _sources(spark, src), max_hops=hops
    )


def _sssp(spark, data):
    es = data.draw(st.lists(st.tuples(ID, ID, st.integers(0, 9)), min_size=1, max_size=30))
    src, rounds = data.draw(SOURCES), data.draw(st.integers(0, 4))
    return lambda: graph.sssp_rounds(
        spark.createDataFrame(es, "src long, dst long, w long"),
        _sources(spark, src), rounds=rounds,
    )


def _components(spark, data):
    es = data.draw(DIRECTED)

    def call():
        stats: dict = {}
        df = near_dup_clusters(_edges(spark, es, "id_a", "id_b"), stats=stats)
        return df.withColumn("rounds", F.lit(stats["rounds"]))  # compared too

    return call


_LOOPS = {
    "pagerank": _pagerank,
    "hits": _hits,
    "kcore": _kcore,
    "label_propagation": _lpa,
    "bfs": _bfs,
    "sssp": _sssp,
    "components": _components,
}


@pytest.mark.parametrize("loop", list(_LOOPS))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_kernel_matches_distributed_path(spark, loop, data):
    """Every loop's kernel path gives the distributed path's exact rows
    and dtypes on random graphs with ties, self-loops and isolated
    sources where the loop's input contract allows them."""
    call = _LOOPS[loop](spark, data)

    def result():
        df = call()
        return df.dtypes, sorted(tuple(r) for r in df.collect())

    kernel = result()
    with _bound(0):
        distributed = result()
    assert kernel == distributed


def test_division_guard_refuses_floor_vs_trunc_operands():
    """NumPy // floors where Spark div truncates: -7 // 2 is -4, Spark
    says -3, so negative operands and zero divisors are refused."""
    assert lk._div(np.array([7, 0]), np.array([2, 5])).tolist() == [3, 0]
    with pytest.raises(ValueError, match="non-negative"):
        lk._div(np.array([-7]), np.array([2]))
    with pytest.raises(ZeroDivisionError):
        lk._div(np.array([7]), np.array([0]))


def test_overflow_guards_raise_instead_of_wrapping():
    with pytest.raises(OverflowError):
        lk._sum_at(np.zeros(3, np.int64), np.full(3, 1 << 61, np.int64), 1)
    with pytest.raises(OverflowError):
        lk._mul(np.array([1 << 40]), 1 << 23)
    assert lk._mul(np.array([1 << 40]), 1 << 22).tolist() == [1 << 62]


def test_hits_overflow_bound_fails_loudly(spark):
    """HITS's documented bound (in-degree·10^12 < 2^63): a weight of
    10^7 makes an authority of 10^13, whose 10^6 rescale leaves int64 —
    the kernel raises OverflowError on the driver, never wraps."""
    e = spark.createDataFrame([(1, 2, 10**7), (3, 2, 1)], "src long, dst long, w long")
    with pytest.raises(OverflowError, match="overflow"):
        graph.hits_fixed_point(e, iters=1, weight_col="w")


def test_null_ids_are_refused(spark):
    e = spark.createDataFrame([(1, 2), (2, None)], "src long, dst long")
    with pytest.raises(ValueError, match="non-null"):
        graph.pagerank_fixed_point(e, iters=1)


def test_string_ids_keep_spark_order(spark):
    """Components over string ids: the cluster is the smallest id in
    Spark's (UTF-8 byte) order on both paths."""
    pairs = spark.createDataFrame(
        [("b", "a"), ("a", "Z"), ("é", "z"), ("z", "y")], "id_a string, id_b string"
    )
    kernel = sorted(near_dup_clusters(pairs).collect())
    with _bound(0):
        assert sorted(near_dup_clusters(pairs).collect()) == kernel
    assert dict(kernel) == {"Z": "Z", "a": "Z", "b": "Z", "y": "y", "z": "y", "é": "y"}


def test_object_id_index_matches_sorted_unique():
    """String ids take the factorize-then-sort index; it must give
    ``np.unique``'s sorted ids and inverse, in UTF-8 byte order (astral
    code points above U+FFFF included)."""
    a = np.array(["b", "é", "\U0001F600", "a", "b"], dtype=object)
    b = np.array(["￿", "a", "Z", "\U0001F600", ""], dtype=object)
    uniq, (ia, ib) = lk._index(a, b)
    ref, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    assert list(uniq) == list(ref)
    assert list(uniq) == sorted(uniq, key=lambda s: s.encode("utf-8"))
    assert (np.concatenate([ia, ib]) == inv).all()
    assert ia.dtype == ib.dtype == np.int64


def test_shipped_kernel_runs_without_the_package(tmp_path):
    """Conv 3: the closure mapInPandas ships unpickles and runs in a
    Python that cannot import the package (isolated mode, foreign cwd)
    and imports nothing of it."""
    from pyspark import cloudpickle

    fn = lk.shipped(
        lk.pagerank, ["_src", "_dst"], ["node", "rank_fx"],
        dict(iters=2, dangling_mass=False, weighted=False, scale=10**6),
    )
    (tmp_path / "fn.pkl").write_bytes(cloudpickle.dumps(fn))
    code = (
        "import pickle, sys\n"
        "import pandas as pd\n"
        "fn = pickle.loads(open('fn.pkl', 'rb').read())\n"
        "pdf = pd.DataFrame({'_src': [1, 1, 2], '_dst': [2, 3, 3]})\n"
        "out = next(fn(iter([pdf])))\n"
        "assert not [m for m in sys.modules if m.startswith('etl_marketeye')]\n"
        "print(sorted(zip(out.node.tolist(), out.rank_fx.tolist())))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-I", "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "[(1, 150000), (2, 213750), (3, 702500)]"
