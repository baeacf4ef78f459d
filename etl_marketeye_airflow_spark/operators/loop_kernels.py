"""Single-task NumPy kernels for the small fixed-point graph loops.

Every loop in ``operators/graph.py`` (PageRank, HITS, k-core, label
propagation, BFS, SSSP) and ``operators/dedup.py:near_dup_clusters``
(components) runs each round as a handful of small Spark jobs.  Below a
few million edges that per-job overhead is the whole cost: q114's three
PageRank rounds were 25 jobs, and 8 cores beat 32 on them.  The loops
are exact integer or set arithmetic, so one NumPy task that replays the
same recurrence round for round gives bit-identical output, whatever
order it sums in (McSherry et al., "Scalability! But at what COST?",
HotOS 2015: when the graph fits one core, one core wins).

Routing: each loop persists its edge frame (kcore: checkpoints it, as
its distributed rounds always did), counts it in one job (``small``),
and when the count is at most ``KERNEL_MAX_EDGES`` runs
``frame.coalesce(1).mapInPandas(kernel)`` and checkpoints the result
(``run``, one job).  Above the bound the distributed rounds run as
before, reading the edges from that cache, so large inputs (sf10's 60M
purchase edges) never meet a kernel.

Kernel rules (CLAUDE.md conv 25):

- exact int64: sums go through ``np.add.at`` / ``np.minimum.at`` or
  ``np.bincount`` WITHOUT weights (weighted bincount sums in float64);
- Spark ``div`` truncates, NumPy ``//`` floors: they agree only on
  non-negative operands, so ``_div`` refuses anything else and a zero
  divisor (ANSI Spark raises DIVIDE_BY_ZERO there too);
- NumPy int64 wraps silently where ANSI Spark raises: ``_sum_at`` and
  ``_mul`` raise OverflowError before a sum or product can leave int64;
- node ids are factorized in sorted order (``np.unique``; object ids
  such as strings by hash, then one sort of the distinct ids), so any
  orderable id type works (strings compare by code point = Spark's
  UTF-8 byte order) and the smallest index is the smallest id;
- null ids or weights are rejected loudly (the distributed joins never
  match a null key; no caller feeds one);
- the shipped closure needs only stdlib, numpy, pandas and its captured
  locals (conv 3): ``shipped`` registers this module with cloudpickle
  BY VALUE, so a worker never imports the package.

A kernel takes ``{column: ndarray}`` for the frame's columns plus its
parameters and returns ``{column: ndarray}`` in the output schema's
order.  Raised RuntimeError/OverflowError/ValueError/ZeroDivisionError
reach the driver as the same exception type (``run``).
"""

from __future__ import annotations

import re
import sys

import numpy as np
from pyspark import cloudpickle
from pyspark.errors import PythonException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructField, StructType

# Kernel input rows at most this many → one NumPy task; above → the
# distributed loop.  The largest size at which all seven kernels were
# timed against their distributed loops (each kernel faster, 1.5-28x;
# ROADMAP item 1): a cap on one worker's memory, not a crossover.
# sf0.1's 600k edges sit well below it, sf10's 60M far above.
KERNEL_MAX_EDGES = 8_000_000

_INT64_MAX = (1 << 63) - 1
# conservative whole-array bound for sums of non-negative terms: the
# float64 shadow total is within 1e-9 relative of the exact one far
# beyond any kernel-sized array, so < 2^62 proves every group sum fits
_SUM_LIMIT = float(1 << 62)
_ERRORS = {e.__name__: e for e in (RuntimeError, OverflowError, ValueError, ZeroDivisionError)}
_ERROR_LINE = re.compile(r"^(%s): (.*)$" % "|".join(_ERRORS), re.M)


# --- driver side ------------------------------------------------------------


def small(frame: DataFrame) -> bool:
    """True when ``frame`` (persisted by the caller) has at most
    ``KERNEL_MAX_EDGES`` rows.  The count is one job that also fills the
    cache: a per-partition count summed on the driver, with no exchange
    (``DataFrame.count()`` runs three under AQE: the cache build, the
    partial-count exchange and the result)."""
    return frame._jdf.queryExecution().toRdd().count() <= KERNEL_MAX_EDGES


def id_type(frame: DataFrame, *cols: str) -> DataType:
    """The type Spark's union widening gives ``cols`` stacked into one
    id column: the distributed loops' node type (analysis only)."""
    u = frame.select(F.col(cols[0]).alias("_id"))
    for c in cols[1:]:
        u = u.unionByName(frame.select(F.col(c).alias("_id")))
    return u.schema["_id"].dataType


def schema(*fields: tuple[str, DataType]) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


LONG = LongType()


def shipped(kernel, names: list[str], out_names: list[str], params: dict):
    """The ``mapInPandas`` function: every batch of the one partition
    concatenated, nulls refused, ``kernel`` applied once.  Registers
    this module for by-value pickling, so the function carries the
    kernel's code instead of an import of the package."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def apply(batches):
        import numpy as np
        import pandas as pd

        parts = [b for b in batches if len(b)]
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
        else:
            pdf = pd.DataFrame({c: np.array([], dtype=object) for c in names})
        if pdf.isna().to_numpy().any():
            raise ValueError("loop kernels take non-null ids and weights")
        res = kernel({c: pdf[c].to_numpy() for c in names}, **params)
        yield pd.DataFrame(res, columns=out_names)

    return apply


def run(frame: DataFrame, kernel, out: StructType, checkpoint=None, **params) -> DataFrame:
    """``kernel`` over all of ``frame`` in one task, materialized by
    ``checkpoint`` (default ``localCheckpoint``) — one job."""
    fn = shipped(kernel, list(frame.columns), [f.name for f in out.fields], params)
    df = frame.coalesce(1).mapInPandas(fn, out)
    try:
        return checkpoint(df) if checkpoint is not None else df.localCheckpoint()
    except PythonException as exc:
        found = _ERROR_LINE.findall(str(exc))
        if not found:
            raise
        name, msg = found[-1]
        raise _ERRORS[name](msg) from exc


# --- exact integer helpers (shipped by value with the kernels) ---------------


def _index(*arrays):
    """Sorted distinct ids and one int64 index array per input."""
    if sum(len(a) for a in arrays) == 0:
        return np.array([], dtype=object), [np.zeros(0, np.int64) for _ in arrays]
    ids = np.concatenate(arrays)
    if ids.dtype == object:
        # strings: hash-factorize, then sort only the distinct ids with
        # list.sort (np.unique sorts every object id by generic compare;
        # ~3x slower on 16M ids)
        import pandas as pd

        codes, seen = pd.factorize(ids)
        uniq = np.array(sorted(seen.tolist()), dtype=object)
        inv = pd.Index(uniq).get_indexer(seen)[codes].astype(np.int64)
    else:
        uniq, inv = np.unique(ids, return_inverse=True)
        inv = inv.astype(np.int64).ravel()
    out, start = [], 0
    for a in arrays:
        out.append(inv[start:start + len(a)])
        start += len(a)
    return uniq, out


def _sum_at(idx, vals, n):
    """Exact int64 group sums of non-negative ``vals`` by ``idx``."""
    vals = vals.astype(np.int64, copy=False)
    if len(vals) and vals.min() < 0:
        raise ValueError("loop kernel sums need non-negative terms")
    if float(vals.sum(dtype=np.float64)) >= _SUM_LIMIT:
        raise OverflowError("loop kernel sum would overflow int64")
    out = np.zeros(n, np.int64)
    np.add.at(out, idx, vals)
    return out


def _mul(a, b):
    """int64 product of non-negative operands, or OverflowError."""
    a, b = np.asarray(a, np.int64), np.asarray(b, np.int64)
    if a.size and b.size and int(a.max()) * int(b.max()) > _INT64_MAX:
        raise OverflowError("loop kernel product would overflow int64")
    return a * b


def _div(a, b):
    """Spark's truncating ``div``, refused where NumPy's floor differs."""
    a = np.asarray(a, np.int64)
    b = np.asarray(b, np.int64)
    if (a.size and a.min() < 0) or (b.size and b.min() < 0):
        raise ValueError("loop kernel div needs non-negative operands (trunc != floor)")
    if b.size and b.min() == 0:
        raise ZeroDivisionError("loop kernel div by zero")
    return a // b


# --- kernels ----------------------------------------------------------------


def pagerank(cols, iters, dangling_mass, weighted, scale):
    """``graph.pagerank_fixed_point``: rank' = 150000 + (17·(Σ contrib
    [+ dang_sum div N])) div 20, contrib = rank div out_deg (·w)."""
    uniq, (s, d) = _index(cols["_src"], cols["_dst"])
    n = len(uniq)
    w = cols["_w"].astype(np.int64) if weighted else None
    has_out = np.zeros(n, bool)
    has_out[s] = True
    deg = _sum_at(s, w, n) if weighted else np.bincount(s, minlength=n).astype(np.int64)
    rank = np.full(n, scale, np.int64)
    for _ in range(iters if n else 0):
        c = np.zeros(n, np.int64)
        c[has_out] = _div(rank[has_out], deg[has_out])
        terms = _mul(c[s], w) if weighted else c[s]
        total = _sum_at(d, terms, n)
        if dangling_mass:
            # both terms < 2^62 (checked by _sum_at), so the add fits
            dang = _sum_at(np.zeros(n, np.int64), np.where(has_out, 0, rank), 1)
            total = total + _div(dang, n)
        rank = 150_000 + _div(_mul(total, 17), 20)
    return {"node": uniq, "rank_fx": rank}


def hits(cols, iters, weighted, scale):
    """``graph.hits_fixed_point``: a = Σ_{u→v} h(u)·w, a ← a·S div max a;
    h = Σ_{u→v} a(v)·w, h ← h·S div max h."""
    uniq, (s, d) = _index(cols["_src"], cols["_dst"])
    n = len(uniq)
    w = cols["_w"].astype(np.int64) if weighted else None
    h = np.full(n, scale, np.int64)
    a = np.zeros(n, np.int64)
    for _ in range(iters if n else 0):
        a = _sum_at(d, _mul(h[s], w) if weighted else h[s], n)
        a = _div(_mul(a, scale), a.max())
        h = _sum_at(s, _mul(a[d], w) if weighted else a[d], n)
        h = _div(_mul(h, scale), h.max())
    return {"node": uniq, "hub_fx": h, "auth_fx": a}


def kcore(cols, k, max_iters):
    """``graph.kcore``: peel every node of current degree < k until none
    is left; loud after ``max_iters`` rounds without the fixed point."""
    uniq, (u, v) = _index(cols["u"], cols["v"])
    n = len(uniq)
    for _ in range(max_iters):
        deg = (np.bincount(u, minlength=n) + np.bincount(v, minlength=n)).astype(np.int64)
        keep = deg >= k
        if not np.any((deg > 0) & ~keep):
            idx = np.nonzero(keep)[0]
            return {"node": uniq[idx], "deg": deg[idx]}
        m = keep[u] & keep[v]
        u, v = u[m], v[m]
    raise RuntimeError(f"kcore did not converge in {max_iters} rounds - raise max_iters")


def label_propagation(cols, iters):
    """``graph.label_propagation``: each round every node adopts its
    neighbors' most frequent label, ties to the smallest."""
    uniq, (u, v) = _index(cols["u"], cols["v"])
    n = len(uniq)
    if n and n > _INT64_MAX // n:
        raise OverflowError("label_propagation kernel: node·label key overflows int64")
    node = np.concatenate([u, v])
    nbr = np.concatenate([v, u])
    label = np.arange(n, dtype=np.int64)
    for _ in range(iters if len(node) else 0):
        # (node, label) pairs sorted by node, then label: per node, the
        # first pair holding the node's top count has the smallest label
        keys, cnt = np.unique(node * n + label[nbr], return_counts=True)
        kn, kl = keys // n, keys % n
        start = np.flatnonzero(np.r_[True, kn[1:] != kn[:-1]])
        top = np.maximum.reduceat(cnt, start)
        best = np.flatnonzero(cnt == np.repeat(top, np.diff(np.r_[start, len(kn)])))
        first = best[np.r_[True, kn[best[1:]] != kn[best[:-1]]]]
        label = label.copy()
        label[kn[first]] = kl[first]
    return {"node": uniq, "label": uniq[label]}


def bfs(cols, max_hops):
    """``graph.bfs_distances``: frontier expansion from the ``_s`` rows'
    nodes, early exit on an empty frontier."""
    uniq, (u, v) = _index(cols["_u"], cols["_v"])
    n = len(uniq)
    is_src = cols["_s"].astype(bool)
    eu, ev = u[~is_src], v[~is_src]
    nb_node, nb_nbr = np.concatenate([eu, ev]), np.concatenate([ev, eu])
    dist = np.full(n, -1, np.int64)
    dist[u[is_src]] = 0
    frontier = dist == 0
    for hop in range(1, max_hops + 1):
        reach = np.zeros(n, bool)
        reach[nb_nbr[frontier[nb_node]]] = True
        nxt = reach & (dist < 0)
        if not nxt.any():
            break
        dist[nxt] = hop
        frontier = nxt
    idx = np.nonzero(dist >= 0)[0]
    return {"node": uniq[idx], "dist": dist[idx]}


def sssp(cols, rounds):
    """``graph.sssp_rounds``: ``rounds`` synchronous Bellman-Ford sweeps
    (min path weight over ≤ rounds edges) from the ``_s`` rows' nodes."""
    uniq, (u, v) = _index(cols["_u"], cols["_v"])
    n = len(uniq)
    is_src = cols["_s"].astype(bool)
    w = cols["_w"].astype(np.int64)[~is_src]
    eu, ev = u[~is_src], v[~is_src]
    a, b, ww = np.concatenate([eu, ev]), np.concatenate([ev, eu]), np.concatenate([w, w])
    reached = np.zeros(n, bool)
    reached[u[is_src]] = True
    dist = np.zeros(n, np.int64)
    for _ in range(rounds):
        m = reached[a]
        da, wm = dist[a[m]], ww[m]
        if len(da) and (
            int(da.max()) + int(wm.max()) > _INT64_MAX
            or int(da.min()) + int(wm.min()) < -_INT64_MAX - 1
        ):
            raise OverflowError("sssp kernel: dist + w overflows int64")
        best = np.full(n, _INT64_MAX, np.int64)
        np.minimum.at(best, b[m], da + wm)
        hit = np.zeros(n, bool)
        hit[b[m]] = True
        dist = np.where(reached & hit, np.minimum(dist, best), np.where(reached, dist, best))
        reached |= hit
    idx = np.nonzero(reached)[0]
    return {"node": uniq[idx], "dist": dist[idx]}


def components(cols, max_iterations):
    """``dedup.near_dup_clusters``: min-label propagation + pointer
    jumping; ``rounds`` counts the rounds that changed a label; loud
    after ``max_iterations`` rounds without a no-change round (the
    confirming round counts against the cap)."""
    uniq, (a, b) = _index(cols["src"], cols["dst"])
    n = len(uniq)
    src, dst = np.concatenate([a, b]), np.concatenate([b, a])
    label = np.arange(n, dtype=np.int64)
    rounds = 0
    for _ in range(max_iterations):
        p = label.copy()
        np.minimum.at(p, src, label[dst])
        new = p[p]
        changed = int(np.count_nonzero(new != label))
        label = new
        if changed == 0:
            break
        rounds += 1
    else:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} rounds"
            " - raise max_iterations"
        )
    return {"id": uniq, "cluster": uniq[label], "rounds": np.full(n, rounds, np.int64)}
