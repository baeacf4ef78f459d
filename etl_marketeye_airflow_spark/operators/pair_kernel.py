"""Single-task NumPy kernel for the PPJoin pair engine.

``_registry_base._ppjoin_pairs`` (q99, and the pair stage of q200 and
q202) finds every document pair with word-shingle Jaccard >= 0.35.  Its
distributed plan runs 18 jobs at the engine benchmark's 1,500
documents, and per-job overhead outweighs the work.  ``ppjoin`` replays
that plan in one task on integer token ranks, PPJoin's canonical order
(Xiao et al., WWW'08), the fixed-width key of "These Rows Are Made for
Sorting" (ICDE 2023):

- token order: every distinct gram ranked by (posting count ascending,
  gram ascending by code point); code-point order is Spark's UTF-8
  binary order, so this is the order ``array_sort(struct(cnt, gram))``
  gives;
- prefix: a document of n grams indexes its first
  ``n - ((7n + 19) div 20) + 1`` ranks;
- candidates: two documents sharing a prefix rank, ``id_a < id_b`` by
  doc_id value, kept when the length filter ``20·min >= 7·max`` and the
  positional filter ``27·bound >= 7·(n_a + n_b)`` hold for that rank;
- verify: the exact int64 overlap (sorted (doc, rank) keys probed, hits
  counted by an unweighted ``bincount``, CLAUDE.md conv 25a), then
  ``float64(inter) / float64(union) >= 0.35`` — Spark's operands, so
  Spark's bits.

Candidates and verify probes expand in chunks of about ``_CHUNK`` rows:
unchunked, the scratch arrays grow with the candidate count times the
document length (5.4M candidates at 801k postings), not with the input.

This module imports only NumPy (pandas inside the kernel): it is
registered with cloudpickle BY VALUE by ``loop_kernels.shipped``, so a
worker never imports the package (conv 3).
"""

from __future__ import annotations

import numpy as np

# Shingle postings (Σ size(grams)) at most this many → one NumPy task;
# above → the distributed plan.  The largest posting count at which the
# kernel was timed against the distributed plan with identical pairs
# (ROADMAP item 6): a cap on one worker's memory, not a crossover.
# The engine benchmark's 80k postings sit far below it, sf10 far above.
PAIR_KERNEL_MAX_POSTINGS = 2_603_880

# candidate pairs or verify probes expanded at once: bounds the scratch
# arrays (about ten int64 arrays of this length) whatever the fan-out
_CHUNK = 1 << 21
_INT64_MAX = (1 << 63) - 1


def _doc_index(ids):
    """doc_ids sorted by value, and each row's index into them."""
    if ids.dtype == object:
        # strings: Python order is code-point order = Spark's UTF-8 order
        order = np.array(sorted(range(len(ids)), key=ids.__getitem__), np.int64)
    else:
        order = np.argsort(ids, kind="stable")
    uniq = ids[order]
    if len(uniq) > 1 and np.any(uniq[1:] == uniq[:-1]):
        raise ValueError("pair kernel takes unique doc ids")
    doc = np.empty(len(ids), np.int64)
    doc[order] = np.arange(len(ids), dtype=np.int64)
    return uniq, doc


def _token_ranks(flat):
    """Each posting's gram rank in the global (count, gram) order, and
    the number of distinct grams."""
    import pandas as pd

    codes, uniq = pd.factorize(flat)
    cnt = np.bincount(codes, minlength=len(uniq))
    lex = np.empty(len(uniq), np.int64)
    lex[np.array(sorted(range(len(uniq)), key=uniq.__getitem__), np.int64)] = np.arange(len(uniq))
    rank = np.empty(len(uniq), np.int64)
    rank[np.lexsort((lex, cnt))] = np.arange(len(uniq))
    return rank[codes], len(uniq)


def _chunks(counts):
    """[lo, hi) runs of ``counts`` whose sums stay near ``_CHUNK`` (one
    row may exceed it alone)."""
    ends = np.cumsum(counts)
    lo = 0
    while lo < len(counts):
        base = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, base + _CHUNK, side="right")), lo + 1)
        yield lo, hi
        lo = hi


def _expand(counts, lo, hi):
    """Row index repeated ``counts`` times and the 0-based offset within
    each row's run, for rows [lo, hi)."""
    c = counts[lo:hi]
    row = np.repeat(np.arange(lo, hi, dtype=np.int64), c)
    off = np.arange(len(row), dtype=np.int64) - np.repeat(np.cumsum(c) - c, c)
    return row, off


def ppjoin(cols):
    """``_registry_base._ppjoin_pairs``: (id_a, id_b, jaccard) for every
    pair of ``cols["doc_id"]`` rows whose ``cols["grams"]`` (distinct
    per document, non-null) have Jaccard >= 0.35, ``id_a < id_b``."""
    ids, grams = cols["doc_id"], cols["grams"]
    uniq_ids, doc = _doc_index(ids)
    n_docs = len(uniq_ids)
    lens = np.fromiter((len(g) for g in grams), np.int64, len(grams))
    empty = {"id_a": uniq_ids[:0], "id_b": uniq_ids[:0], "jaccard": np.zeros(0)}
    if not lens.sum():
        return empty
    rank, n_tok = _token_ranks(np.concatenate([np.asarray(g, dtype=object) for g in grams]))
    if n_docs > _INT64_MAX // n_tok:
        raise OverflowError("pair kernel: doc·rank key overflows int64")

    # every posting as one int64 key, sorted: each doc's ranks ascending
    key = np.repeat(doc, lens) * n_tok + rank
    key.sort()
    if np.any(key[1:] == key[:-1]):
        raise ValueError("pair kernel takes distinct grams per document")
    n = np.zeros(n_docs, np.int64)
    n[doc] = lens
    start = np.cumsum(n) - n
    kdoc, krank = key // n_tok, key % n_tok
    pos = np.arange(len(key), dtype=np.int64) - start[kdoc] + 1  # 1-based

    # prefix postings grouped by rank (docs ascending inside a group)
    plen = np.minimum(n - (7 * n + 19) // 20 + 1, n)
    m = pos <= plen[kdoc]
    pdoc, prank, ppos = kdoc[m], krank[m], pos[m]
    order = np.lexsort((pdoc, prank))
    pdoc, prank, ppos = pdoc[order], prank[order], ppos[order]
    first = np.flatnonzero(np.r_[True, prank[1:] != prank[:-1]])
    gsize = np.diff(np.r_[first, len(prank)])
    gend = np.repeat(first + gsize, gsize)
    # element i pairs with every later element of its group: docs
    # ascending there, so doc index (= doc_id order) a < b
    later = gend - np.arange(len(prank), dtype=np.int64) - 1

    cand = []
    for lo, hi in _chunks(later):
        i, off = _expand(later, lo, hi)
        j = i + 1 + off
        a, b = pdoc[i], pdoc[j]
        na, nb = n[a], n[b]
        pa, pb = ppos[i], ppos[j]
        bound = 1 + np.minimum(pa - 1, pb - 1) + np.minimum(na - pa, nb - pb)
        ok = (20 * np.minimum(na, nb) >= 7 * np.maximum(na, nb)) & (27 * bound >= 7 * (na + nb))
        cand.append(np.unique(a[ok] * n_docs + b[ok]))
    cand = np.unique(np.concatenate(cand)) if cand else np.zeros(0, np.int64)
    a, b = cand // n_docs, cand % n_docs

    # verify: probe the shorter doc's ranks among the longer doc's keys
    short = np.where(n[a] <= n[b], a, b)
    other = np.where(n[a] <= n[b], b, a)
    inter = np.zeros(len(cand), np.int64)
    for lo, hi in _chunks(n[short]):
        c, off = _expand(n[short], lo, hi)
        probe = other[c] * n_tok + krank[start[short[c]] + off]
        at = np.minimum(np.searchsorted(key, probe), len(key) - 1)
        inter[lo:hi] = np.bincount(c[key[at] == probe] - lo, minlength=hi - lo)
    jac = inter.astype(np.float64) / (n[a] + n[b] - inter).astype(np.float64)
    keep = jac >= 0.35
    return {"id_a": uniq_ids[a[keep]], "id_b": uniq_ids[b[keep]], "jaccard": jac[keep]}
