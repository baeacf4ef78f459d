"""PPJoin pair kernel (operators/pair_kernel.py): the same pairs as the
distributed plan and as brute force, at most five jobs on a small
corpus, and the distributed plan alone above the bound."""

import itertools
import tempfile

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from test_graph import _jobs_in_group, _sql_plans

from etl_marketeye_airflow_spark._registry_base import _ppjoin_pairs
from etl_marketeye_airflow_spark.operators import pair_kernel
from etl_marketeye_airflow_spark.operators.dedup import word_shingles

# few words, so shingles tie on (count, gram) and documents overlap
WORDS = st.lists(st.sampled_from(["a", "b", "c", "dd", "é"]), max_size=9)
TEXT = st.one_of(st.none(), st.just(""), WORDS.map(" ".join))
PAIR_DTYPES = [("id_a", "bigint"), ("id_b", "bigint"), ("jaccard", "double")]


def _corpus(spark, root, texts, ids=None):
    """A documents table of ``texts`` in a fresh directory under ``root``."""
    d = tempfile.mkdtemp(dir=root)
    ids = list(ids) if ids is not None else list(range(len(texts)))
    spark.createDataFrame(
        list(zip(ids, texts)), "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def _pairs(spark, sf, bound):
    """(dtypes, sorted rows) of ``_ppjoin_pairs`` with the bound at ``bound``."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pair_kernel, "PAIR_KERNEL_MAX_POSTINGS", bound)
        df = _ppjoin_pairs(spark, sf)
        return df.dtypes, sorted(tuple(r) for r in df.collect())


def _brute_force(docs):
    """Every pair of ``{id: set of grams}`` with Jaccard >= 0.35,
    computed as Spark does: double(inter) / double(union)."""
    out = []
    for (ia, ga), (ib, gb) in itertools.combinations(sorted(docs.items()), 2):
        inter = len(ga & gb)
        jac = float(inter) / float(len(ga) + len(gb) - inter)
        if jac >= 0.35:
            out.append((ia, ib, jac))
    return out


def _grams(spark, sf):
    """Spark's own shingle sets per non-null document."""
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter("text IS NOT NULL")
        .select("doc_id", word_shingles(F.col("text"), 3).alias("g"))
        .collect()
    )
    return {r.doc_id: set(r.g) for r in rows}


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(TEXT, min_size=1, max_size=14),
    copies=st.lists(st.integers(0, 13), max_size=4),
    long_doc=st.booleans(),
    ids=st.lists(st.integers(-50, 50), min_size=20, max_size=20, unique=True),
)
@example(texts=[None], copies=[], long_doc=False, ids=list(range(20)))  # no postings
def test_kernel_matches_distributed_path(spark, tmp_path_factory, texts, copies, long_doc, ids):
    """Kernel and distributed plan give the same rows and dtypes on
    random corpora with exact copies, (count, gram) ties, a long
    document, empty text (the one "" shingle) and null text (never
    paired); both equal brute force over Spark's own shingles."""
    texts = texts + [texts[c % len(texts)] for c in copies]
    if long_doc:
        texts.append(" ".join(["a", "b", "c", "dd"] * 40))
    sf = _corpus(spark, tmp_path_factory.getbasetemp(), texts, ids[: len(texts)])
    kernel = _pairs(spark, sf, 10**9)
    assert kernel == _pairs(spark, sf, 0)
    assert kernel[0] == PAIR_DTYPES
    assert kernel[1] == _brute_force(_grams(spark, sf))


def _objects(items):
    """A 1-D object array of ``items`` (NumPy would stack equal-length
    arrays into a 2-D one)."""
    out = np.empty(len(items), dtype=object)
    for i, x in enumerate(items):
        out[i] = x
    return out


def _random_docs(rng, n_docs, vocab):
    """``n_docs`` distinct-gram arrays over a small vocabulary, a fifth
    of them copies or near-copies of an earlier one."""
    docs = []
    for i in range(n_docs):
        if i and rng.random() < 0.2:
            g = docs[rng.integers(i)]
            g = g if rng.random() < 0.5 else np.unique(np.r_[g, rng.choice(vocab, 2)])
        else:
            g = np.unique(rng.choice(vocab, rng.integers(1, 12)))
        docs.append(g.astype(object))
    return docs


@pytest.mark.parametrize("chunk", [pair_kernel._CHUNK, 1, 7])
def test_kernel_matches_brute_force_in_any_chunking(monkeypatch, chunk):
    """The kernel alone, on string doc ids and with candidates and
    probes split into chunks of one row upwards: brute-force pairs, ids
    compared in code-point order."""
    monkeypatch.setattr(pair_kernel, "_CHUNK", chunk)
    rng = np.random.default_rng(5)
    vocab = np.array(["x", "y", "z", "Z", "é", "a b", "\U0001F600", ""], dtype=object)
    docs = _random_docs(rng, 60, vocab)
    ids = np.array([f"d{i}é" if i % 3 else f"D{i}" for i in range(60)], dtype=object)
    got = pair_kernel.ppjoin({"doc_id": ids, "grams": _objects(docs)})
    rows = list(zip(got["id_a"].tolist(), got["id_b"].tolist(), got["jaccard"].tolist()))
    assert sorted(rows) == _brute_force({i: set(g) for i, g in zip(ids, docs)})
    assert all(a < b for a, b, _ in rows) and len(rows) > 20


def test_kernel_refuses_duplicate_ids_and_grams():
    grams = _objects([np.array(["a"], dtype=object)] * 2)
    with pytest.raises(ValueError, match="unique doc ids"):
        pair_kernel.ppjoin({"doc_id": np.array([1, 1]), "grams": grams})
    dup = _objects([np.array(["a", "a"], dtype=object)])
    with pytest.raises(ValueError, match="distinct grams"):
        pair_kernel.ppjoin({"doc_id": np.array([1]), "grams": dup})


def test_kernel_on_no_postings_is_empty():
    got = pair_kernel.ppjoin({"doc_id": np.zeros(0, np.int64), "grams": np.zeros(0, object)})
    assert {k: len(v) for k, v in got.items()} == {"id_a": 0, "id_b": 0, "jaccard": 0}


def _engine_corpus(spark, root):
    """300 documents of 20-40 words from a 12-word vocabulary, every
    tenth a copy of its predecessor plus one word."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(12)]
    texts = []
    for i in range(300):
        if i % 10 == 9:
            texts.append(texts[-1] + " w0")
        else:
            texts.append(" ".join(rng.choice(vocab, rng.integers(20, 41))))
    return _corpus(spark, root, texts)


def test_pair_engine_runs_at_most_five_jobs(spark, tmp_path):
    """Job-count guard: on a small corpus the pair engine is the posting
    count plus the kernel task; the distributed plan runs more than
    twice that on the same corpus (18 jobs in the engine benchmark)."""
    sf = _engine_corpus(spark, tmp_path)
    assert _jobs_in_group(spark, "t-ppjoin-kernel", lambda: _ppjoin_pairs(spark, sf)) <= 5
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pair_kernel, "PAIR_KERNEL_MAX_POSTINGS", 0)
        assert _jobs_in_group(spark, "t-ppjoin-dist", lambda: _ppjoin_pairs(spark, sf)) > 10


def test_above_bound_corpus_takes_distributed_path(spark, tmp_path, monkeypatch):
    """A corpus one posting over the bound runs the distributed plan:
    none of its executed plans has a MapInPandas, while at the bound
    exactly one does — same pairs."""
    sf = _engine_corpus(spark, tmp_path)
    postings = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(F.explode(word_shingles(F.col("text"), 3)))
        .count()
    )
    got = {}

    def pairs(bound):
        monkeypatch.setattr(pair_kernel, "PAIR_KERNEL_MAX_POSTINGS", bound)
        got[bound] = sorted(_ppjoin_pairs(spark, sf).collect())

    above = _sql_plans(spark, lambda: pairs(postings - 1))
    at = _sql_plans(spark, lambda: pairs(postings))
    assert above and not [p for p in above if "MapInPandas" in p]
    assert len([p for p in at if "MapInPandas" in p]) == 1
    assert got[postings - 1] == got[postings] and got[postings]
