"""Unit tests for the training-data operators: dedup, similarity, text,
multimodal — on planted-duplicate fixtures with hand-computed expectations."""

import math

import pytest
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.conf_scope import scoped_conf
from etl_marketeye_airflow_spark.operators import text as tx
from etl_marketeye_airflow_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash_pairs,
    word_shingles,
)
from etl_marketeye_airflow_spark.operators.multimodal import (
    attach_binary_content,
    decode_media,
    extract_features,
    sample_frames,
)
from etl_marketeye_airflow_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm windowsill", "cold windowsill")  # 1-word change
UNRELATED = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines today"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, NEAR),  # near dup of 1
        (4, UNRELATED),
        (5, "  " + BASE.upper() + "  "),  # normalization dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = exact_dedup_groups(docs).collect()
    by_keeper = {r.keeper_id: r.n_copies for r in groups}
    assert by_keeper == {1: 3, 3: 1, 4: 1}  # 1,2,5 collapse (case/ws normalized)
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4]


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] == pytest.approx(10 / 13)  # 1-word change
    assert not any(4 in p for p in pairs)  # unrelated never pairs


def test_simhash_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_pairs(docs, max_distance=10).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 5)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 10
    assert not any(4 in p for p in pairs)


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    out = [r.s for r in df.select(word_shingles(F.col("t"), 3).alias("s")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["a b"]  # shorter than k → single shingle


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [0.8, 0.2, 0.1, 0.0]),   # close-ish
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vectors):
    out = brute_force_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [0, 1, 4]
    assert out[0].cosine == pytest.approx(1.0)
    assert out[1].cosine == pytest.approx(0.9 / math.sqrt(0.82), rel=1e-6)


def test_lsh_topk_contains_query_bucket_neighbors(vectors):
    out = lsh_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=3, n_planes=2)
    got = [r.vec_id for r in out.collect()]
    # approximate: must at least find the identical vector, never the opposite
    assert 0 in got and 3 not in got


def test_embedding_near_dup(vectors):
    pairs = [(r.id_a, r.id_b) for r in
             embedding_near_dup_pairs(vectors, threshold=0.95, n_planes=2).collect()]
    assert (0, 1) in pairs
    assert all({a, b} != {0, 3} for a, b in pairs)


def test_embedding_near_dup_rejects_non_integral_id(spark):
    # the bucket-scan kernel emits int64 ids; misuse must fail at the
    # operator boundary with a clear message, not deep in Arrow (r9 ADVICE)
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integral id column"):
        embedding_near_dup_pairs(df)


def test_blas_pin_fn_is_safe_and_idempotent():
    # Run the pin in a SUBPROCESS: calling it in the shared pytest
    # driver process would actually clamp OpenBLAS to 1 thread and the
    # env-sentinel restore would not undo the thread count — every
    # later numpy-heavy test in the session would run single-threaded
    # BLAS (r10 ADVICE).
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import os, sys
        sys.path.insert(0, %r)
        from etl_marketeye_airflow_spark.operators.similarity import _blas_pin_fn
        pin = _blas_pin_fn()
        os.environ.pop("_MEYE_BLAS_PINNED", None)
        pin()  # first call pins (or no-ops if the lib is absent)
        assert os.environ.get("_MEYE_BLAS_PINNED") == "1"
        pin()  # second call must be a cheap no-op
        print("OK")
        """
    ) % (str(__import__("pathlib").Path(__file__).resolve().parent.parent),)
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().endswith("OK")


def test_text_metrics(spark):
    df = spark.createDataFrame([("The cat and the dog!",)], "text string")
    row = df.select(
        tx.whitespace_token_count(F.col("text")).alias("ws"),
        tx.regex_token_count(F.col("text")).alias("bpe"),
        tx.stopword_ratio(F.col("text")).alias("sr"),
        tx.language_from_hits(tx.language_hits(F.col("text"))).alias("lang"),
    ).collect()[0]
    assert row.ws == 5
    assert row.bpe == 6  # the, cat, and, the, dog, !
    assert row.sr == pytest.approx(3 / 5)  # the, and, the
    assert row.lang == "en"


def test_language_id_und(spark):
    df = spark.createDataFrame([("zzz qqq xxx",)], "text string")
    lang = tx.language_from_hits(tx.language_hits(F.col("text")))
    assert df.select(lang.alias("l")).collect()[0].l == "und"


def test_fingerprint_order_sensitivity(spark):
    df = spark.createDataFrame(
        [("alpha beta gamma",), ("gamma beta alpha",), ("alpha beta gamma",)], "text string"
    )
    fps = [r.f for r in df.select(tx.doc_fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]
    assert all(0 <= f < tx.FINGERPRINT_PRIME for f in fps)


def test_multimodal_pipeline(spark, docs):
    media = attach_binary_content(
        docs.withColumn("n_chars", F.length("text")), kind="video"
    )
    decoded = decode_media(media).collect()
    assert len(decoded) == 5
    assert all(r.decoder == "fake" for r in decoded)  # stub clearly marked
    assert all(r.n_bytes > 0 and len(r.sha256) == 64 for r in decoded)
    # determinism: same content → same fake dims
    by_sha = {}
    for r in decoded:
        by_sha.setdefault(r.sha256, set()).add((r.width, r.height))
    assert all(len(v) == 1 for v in by_sha.values())

    feats = extract_features(media).collect()
    assert all(len(r.feature) == 16 for r in feats)
    assert all(abs(sum(r.feature) - 1.0) < 1e-5 for r in feats)

    frames = sample_frames(media, every_ms=500).collect()
    assert len(frames) > 5  # video rows exploded into multiple frames
    per_media = {}
    for r in frames:
        per_media.setdefault(r.media_id, []).append(r.frame_idx)
    assert all(idx == sorted(idx) for idx in per_media.values())


def test_multimodal_require_real_decoder(spark, docs):
    media = attach_binary_content(docs.withColumn("n_chars", F.length("text")))
    with pytest.raises(Exception, match="NotImplementedError|no real decoder"):
        decode_media(media, require_real_decoder=True).collect()


def _png_bytes(w: int, h: int) -> bytes:
    """Minimal valid RGB PNG built with stdlib only."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + b"\x10\x20\x30" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_decode_planted_png(spark):
    """require_real_decoder=True must REALLY decode: a planted PNG's
    dimensions come back exactly (PIL when installed, stdlib IHDR parse
    otherwise — both are real reads of the file, never the sha fake)."""
    rows = [(1, "image", _png_bytes(37, 21)), (2, "image", _png_bytes(5, 400))]
    media = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    got = {r.media_id: r for r in decode_media(media, require_real_decoder=True).collect()}
    assert (got[1].width, got[1].height) == (37, 21)
    assert (got[2].width, got[2].height) == (5, 400)
    assert all(r.n_channels == 3 for r in got.values())
    assert all(r.decoder in ("pil", "png-header") for r in got.values())


def test_simhash_signature_parity(spark, docs):
    """All three forms — Column fold, Arrow numpy kernel, explode/agg —
    must produce bitwise-identical signatures."""
    from etl_marketeye_airflow_spark.operators.dedup import (
        simhash,
        simhash_signatures,
        simhash_signatures_agg,
    )

    col_form = {r.doc_id: r.s for r in
                docs.select("doc_id", simhash(F.col("text")).alias("s")).collect()}
    arrow_form = {r._id: r._sig for r in simhash_signatures(docs).collect()}
    agg_form = {r._id: r._sig for r in simhash_signatures_agg(docs).collect()}
    assert col_form == arrow_form == agg_form


def test_ivf_index_partition_pruning(spark, tmp_path_factory):
    """IVF materialized index: query reads only nprobe partitions
    (PartitionFilters on _centroid) and finds the exact top match."""
    from etl_marketeye_airflow_spark.operators.similarity import (
        build_ann_index,
        query_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    cents = build_ann_index(emb, path, n_centroids=8)
    assert len(cents) == 8

    qv = list(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])
    out = query_ann_index(spark, path, cents, qv, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_centroid" in plan.split("PartitionFilters")[1][:200]
    rows = out.collect()
    assert rows[0].vec_id == 7  # the vector itself lives in a probed cell
    assert rows[0].cosine == pytest.approx(1.0)


def test_near_dup_clusters_transitive(spark):
    """A≈B, B≈C, D≈E → clusters {A,B,C} and {D,E}; F untouched."""
    from etl_marketeye_airflow_spark.operators.dedup import (
        dedup_by_clusters,
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    labels = {r.id: r.cluster for r in near_dup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, 7)], "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup_by_clusters(docs, pairs).collect())
    assert kept == [1, 4, 6]  # one rep per cluster + untouched doc 6


def test_near_dup_clusters_long_chain(spark):
    """A 10-node path graph needs multiple propagation rounds."""
    from etl_marketeye_airflow_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(i, i + 1) for i in range(10)], "id_a long, id_b long")
    labels = {r.id: r.cluster for r in near_dup_clusters(pairs).collect()}
    assert set(labels.values()) == {0} and len(labels) == 11


def test_near_dup_clusters_pointer_jumping_rounds(spark, tmp_path_factory, monkeypatch):
    """Pointer jumping makes convergence O(log diameter): a 17-node path
    graph (diameter 16) must settle in <= ceil(log2(16))+1 = 5 changing
    rounds, not ~16.  The reliable-checkpoint variant (checkpoint_dir
    set -> durable checkpoint(), survives executor loss on a cluster)
    must produce identical labels; it runs the distributed loop
    (KERNEL_MAX_EDGES forced to 0) so every round's checkpoint() runs."""
    import math

    from etl_marketeye_airflow_spark.operators import loop_kernels
    from etl_marketeye_airflow_spark.operators.dedup import near_dup_clusters

    diameter = 16
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(diameter)], "id_a long, id_b long"
    )
    stats: dict = {}
    labels = {r.id: r.cluster for r in near_dup_clusters(pairs, stats=stats).collect()}
    assert set(labels.values()) == {0} and len(labels) == diameter + 1
    assert stats["rounds"] <= math.ceil(math.log2(diameter)) + 1

    ckpt = str(tmp_path_factory.mktemp("cc_ckpt"))
    monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", 0)
    labels_ck = {
        r.id: r.cluster
        for r in near_dup_clusters(pairs, checkpoint_dir=ckpt).collect()
    }
    assert labels_ck == labels


def test_minhash_lsh_recall_vs_exact(spark):
    """q47's oracle soundness: on the synthetic corpus the 16x4 banding
    captures EVERY true pair at threshold 0.35 (all true pairs have
    J >= 0.9 -> capture prob ~1-4e-8, and the corpus has no pairs in
    [0.2, 0.9) so the threshold sits in a wide dead zone).  The LSH pair
    set must therefore equal brute-force exact Jaccard exactly."""
    from etl_marketeye_airflow_spark.operators.dedup import (
        minhash_lsh_pairs,
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.35).collect()
    )

    sh = docs.select(F.col("doc_id"), word_shingles(F.col("text"), 3).alias("g"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.g"), F.col("b.g"))).cast("double")
        / F.size(F.array_union(F.col("a.g"), F.col("b.g"))).cast("double")
    )
    exact = sorted(
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= 0.35)
        .collect()
    )
    assert len(exact) > 0  # non-vacuous: the corpus has planted dups
    assert got == exact


def test_ann_recall_vs_exact(spark):
    """ANN quality vs the exact baseline on the (near-isotropic, i.e.
    worst-case-for-sign-LSH) synthetic embeddings:
    - IVF with Lloyd-trained centroids, nprobe=4/16: recall@10 >= 0.8
      (the q36 configuration; measured 0.9-1.0 across SFs);
    - multi-probe LSH (q25 config) must beat single-probe and clear a
      0.1 floor — on isotropic data sign-LSH degrades toward random
      subsampling, which is WHY q36/IVF is the indexed path here."""
    from etl_marketeye_airflow_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    exact = {r.vec_id for r in brute_force_topk(emb, qv, k=10).collect()}

    ivf = {
        r.vec_id
        for r in ivf_topk(emb, qv, k=10, n_centroids=16, nprobe=4, train_iters=3).collect()
    }
    assert len(ivf & exact) / 10 >= 0.8

    single = {r.vec_id for r in lsh_topk(emb, qv, k=10, n_planes=8).collect()}
    multi = {
        r.vec_id
        for r in lsh_topk(emb, qv, k=10, n_planes=8, hamming_radius=1).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi & exact) / 10 >= 0.1


def test_duplicate_ngram_fraction(spark):
    """Hand-computed repetition fractions: 'a b a b a b' has 2-grams
    [ab, ba, ab, ba, ab] -> 2 distinct of 5 -> dup frac 0.6; clean text
    has 0; texts shorter than n yield a single gram -> 0."""
    df = spark.createDataFrame(
        [("a b a b a b",), ("all words differ here",), ("hi",)], "text string"
    )
    out = [
        r.f
        for r in df.select(
            tx.dup_fraction_from_grams(tx.word_ngrams_all(F.col("text"), 2)).alias("f")
        ).collect()
    ]
    assert out[0] == pytest.approx(1 - 2 / 5)
    assert out[1] == 0.0
    assert out[2] == 0.0


def test_embedding_near_dup_recall_and_precision(spark):
    """Multi-table LSH near-dup vs an exact numpy all-pairs baseline:
    precision must be EXACT (every emitted pair really has cosine >=
    threshold — the verify step guarantees it), and 4 tables must find
    at least as many true pairs as 1 (the recall knob working)."""
    import numpy as np

    from etl_marketeye_airflow_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = Xn @ Xn.T
    iu = np.triu_indices(len(ids), 1)
    mask = C[iu] >= 0.45
    exact = {
        tuple(sorted((int(ids[i]), int(ids[j]))))
        for i, j in zip(iu[0][mask], iu[1][mask])
    }
    assert exact  # non-vacuous

    one = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.45, n_planes=6).collect()
    }
    multi = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, threshold=0.45, n_planes=6, n_tables=4
        ).collect()
    }
    assert one <= exact and multi <= exact  # exact precision
    assert len(multi & exact) >= len(one & exact)  # tables buy recall
    assert len(multi & exact) >= 2  # measured 3/7 at this config


def test_simhash_banding_recall_complete_d3(spark):
    """Pigeonhole guarantee on real data: 4 chunks of 16 bits mean any
    two signatures within hamming distance 3 share >= 1 exact chunk, so
    simhash_pairs(max_distance=3) must contain EVERY such pair.  Checked
    against an exact all-pairs hamming sweep over the corpus signatures
    (driver-side numpy on 500 sigs — test-only; the operator never does
    all-pairs)."""
    import numpy as np

    from etl_marketeye_airflow_spark.operators.dedup import (
        simhash_pairs,
        simhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = {r._id: r._sig for r in simhash_signatures(docs).collect()}
    ids = np.array(sorted(sigs))
    # signatures are signed 64-bit keys — reinterpret the bits unsigned
    vals = np.array([sigs[i] for i in ids], dtype=np.int64).view(np.uint64)
    x = vals[:, None] ^ vals[None, :]
    # vectorized popcount over the xor matrix
    d = np.zeros(x.shape, dtype=np.int64)
    for shift in range(0, 64, 8):
        byte = ((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.uint8)
        d += np.unpackbits(byte).reshape(*x.shape, 8).sum(axis=-1).astype(np.int64)
    iu = np.triu_indices(len(ids), 1)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(iu[0][d[iu] <= 3], iu[1][d[iu] <= 3])
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_distance=3).collect()
    }
    assert exact  # planted dups make this non-vacuous
    assert exact <= got <= exact  # recall-complete AND nothing beyond d<=3


def test_lsh_partitioned_serving_prunes(spark, tmp_path_factory):
    """The LSH scale path the docstring promises: corpus written
    partitionBy(_bucket) once; a query's (multi-probe) bucket filter
    becomes PARTITION pruning — no full-corpus IO — and still finds the
    query vector itself."""
    from etl_marketeye_airflow_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket,
        _py_bucket,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    planes = hyperplanes(6, dim, seed=42)
    path = str(tmp_path_factory.mktemp("lshidx") / "index")
    emb.withColumn("_bucket", lsh_bucket(F.col("embedding"), planes)).write.mode(
        "overwrite"
    ).partitionBy("_bucket").parquet(path)

    qv = list(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])
    qb = _py_bucket(qv, planes)
    probe = sorted({qb} | {qb ^ (1 << i) for i in range(6)})
    served = spark.read.parquet(path).filter(F.col("_bucket").isin(probe))
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_bucket" in plan.split("PartitionFilters")[1][:200]
    ids = {r.vec_id for r in served.select("vec_id").collect()}
    assert 7 in ids  # a vector always lands in its own bucket
    assert len(ids) < emb.count()  # and we did NOT read the whole corpus


def test_near_dup_clusters_empty_pairs(spark):
    """No pairs → no labels, no crash, zero rounds."""
    from etl_marketeye_airflow_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    stats: dict = {}
    assert near_dup_clusters(pairs, stats=stats).count() == 0
    assert stats["rounds"] == 0


@pytest.mark.parametrize(
    "case",
    [
        test_near_dup_clusters_transitive,
        test_near_dup_clusters_long_chain,
        test_near_dup_clusters_pointer_jumping_rounds,
        test_near_dup_clusters_empty_pairs,
    ],
    ids=lambda f: f.__name__[len("test_near_dup_clusters_"):],
)
def test_near_dup_clusters_distributed_path(spark, tmp_path_factory, monkeypatch, case):
    """The CC tests above run the single-task kernel (their graphs are
    tiny); rerun each with ``KERNEL_MAX_EDGES`` at 0 so the distributed
    loop meets the same assertions."""
    import inspect

    from etl_marketeye_airflow_spark.operators import loop_kernels

    monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", 0)
    fixtures = {"spark": spark, "tmp_path_factory": tmp_path_factory, "monkeypatch": monkeypatch}
    case(**{k: fixtures[k] for k in inspect.signature(case).parameters})


def test_repetition_metrics_edge_texts(spark):
    """Single-word and empty-ish texts must yield defined (0.0)
    fractions, never divide-by-zero nulls."""
    df = spark.createDataFrame([("word",), (" ",)], "text string")
    out = df.select(
        tx.dup_fraction_from_grams(tx.word_ngrams_all(F.col("text"), 3)).alias("f")
    ).collect()
    assert all(r.f == 0.0 for r in out)


def test_simhash_portable_60bit_parity_and_partial_recall(spark):
    """The oracle-reproducible 60-bit md5-hash variant: Arrow kernel and
    explode/agg forms agree bitwise, signatures stay under 2^60, and the
    d>3 regime (which left the registry when q23 moved to the proven
    d<=3 operating point) keeps its documented partial-recall property:
    pairs(d<=6) is a superset of the recall-complete pairs(d<=3)."""
    from etl_marketeye_airflow_spark.operators.dedup import (
        portable_token_hash,
        simhash_signatures,
        simhash_signatures_agg,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kern = {
        r._id: r._sig
        for r in simhash_signatures(
            docs, bits=60, token_hash=portable_token_hash
        ).collect()
    }
    agg = {
        r._id: r._sig
        for r in simhash_signatures_agg(
            docs, bits=60, token_hash=portable_token_hash
        ).collect()
    }
    assert kern == agg
    assert all(0 <= s < 2**60 for s in kern.values())

    d3 = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            docs, max_distance=3, bits=60,
            token_hash=portable_token_hash,
        ).collect()
    }
    d6 = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            docs, max_distance=6, bits=60,
            token_hash=portable_token_hash,
        ).collect()
    }
    assert d3 <= d6
    assert d3  # planted dups keep this non-vacuous


def test_redact_pii_only_touches_pii(spark):
    from etl_marketeye_airflow_spark.operators.text import count_pii, redact_pii

    rows = spark.createDataFrame(
        [
            ("reach me at jo.doe+spam@mail-host.co.uk thanks", 1, 0),
            ("account 123456789012 and card 99887766", 0, 2),
            ("short digits 1234567 stay; clean prose stays", 0, 0),
            ("mixed: a@b.io then 111222333444", 1, 1),
        ],
        "text string, want_emails int, want_ids int",
    ).withColumn("_p", count_pii(F.col("text")))
    got = rows.select(
        "text", "want_emails", "want_ids",
        F.col("_p.n_emails").alias("e"), F.col("_p.n_ids").alias("i"),
        redact_pii(F.col("text")).alias("red"),
    ).collect()
    for r in got:
        assert (r.e, r.i) == (r.want_emails, r.want_ids), r.text
        if r.want_emails == 0 and r.want_ids == 0:
            assert r.red == r.text  # clean text passes through untouched
        else:
            assert "@" not in r.red or "<EMAIL>" in r.red


def test_vocab_coverage_is_minimal_prefix(spark):
    """The kept vocabulary is exactly the minimal frequency-ordered
    prefix reaching 50% mass: its mass-before-last < 50% <= mass."""
    from etl_marketeye_airflow_spark.operators.corpus import vocab_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = sorted(
        vocab_coverage(docs, coverage=0.5).collect(), key=lambda r: r.rank
    )
    assert rows and [r.rank for r in rows] == list(range(1, len(rows) + 1))
    total = docs.select(
        F.sum(F.size(F.filter(
            F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "),
            lambda t: t != "",
        )))
    ).first()[0]
    last = rows[-1]
    assert (last.cum - last.cnt) * 2 < total  # before last: under 50%
    assert last.cum * 2 >= total  # with last: at least 50%


def test_chunking_covers_every_token_with_overlap(spark):
    """Chunk invariants on real docs: concatenating stride-prefixes of
    all chunks plus the last chunk's tail reconstructs the token stream;
    consecutive chunks overlap by chunk_size - stride tokens; short docs
    yield exactly one chunk."""
    from etl_marketeye_airflow_spark.operators.corpus import chunk_documents
    from etl_marketeye_airflow_spark.operators.text import word_tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = chunk_documents(docs, chunk_size=32, stride=24).collect()
    toks = {
        r.doc_id: r.t
        for r in docs.select("doc_id", word_tokens(F.col("text")).alias("t")).collect()
    }
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(toks)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        full = toks[doc_id]
        rebuilt = []
        for r in rows[:-1]:
            rebuilt.extend(r.chunk_text.split(" ")[:24])
        rebuilt.extend(rows[-1].chunk_text.split(" "))
        assert rebuilt == full, doc_id
        if len(full) <= 32:
            assert len(rows) == 1
        for a, b in zip(rows, rows[1:]):
            assert a.chunk_text.split(" ")[24:] == b.chunk_text.split(" ")[: len(a.chunk_text.split(" ")) - 24]


def test_normalize_unicode_cases(spark):
    from etl_marketeye_airflow_spark.operators.text import normalize_unicode

    rows = spark.createDataFrame(
        [
            ("“quoted” — yes…", '"quoted" - yes.'),
            ("tab\there\x00and\x1fthere", "tab here and there"),
            ("  already   clean  ", "already clean"),
            ("untouched ascii-text.", "untouched ascii-text."),
        ],
        "raw string, want string",
    )
    for r in rows.select(normalize_unicode(F.col("raw")).alias("got"), "want").collect():
        assert r.got == r.want


def test_stream_interval_join_rejects_colliding_columns(spark):
    from etl_marketeye_airflow_spark.streaming.joins import stream_interval_join

    s = (
        spark.readStream.schema("event_id long, ts long, user_id long,"
                                " event_type string, value double, props string")
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001")
    )
    with pytest.raises(ValueError, match="rename overlapping"):
        stream_interval_join(s, s, key="user_id", left_ts="ts", right_ts="ts")


def test_chunking_rejects_gapped_configuration(spark, docs):
    from etl_marketeye_airflow_spark.operators.corpus import chunk_documents

    with pytest.raises(ValueError, match="stride.*must be <= chunk_size"):
        chunk_documents(docs, chunk_size=16, stride=24)


def test_lsh_topk_radius3_probes_full_combination_set(spark):
    """Radius-3 multi-probe must actually widen the probe set (the old
    implementation silently capped at radius 2)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    r2 = {r.vec_id for r in lsh_topk(emb, qv, k=50, hamming_radius=2).collect()}
    r3 = {r.vec_id for r in lsh_topk(emb, qv, k=50, hamming_radius=3).collect()}
    assert r2 <= r3 or len(r3) == 50  # superset unless both saturate k
    assert len(r3) >= len(r2)


def test_signature_kernels_bounded_on_mega_document(spark):
    """A single document far over the kernels' slice budgets must still
    produce correct signatures (sliced min/sum accumulation), not an
    unbounded bit matrix.  Simhash is checked against the explode/agg
    parity baseline; minhash by pairing two copies of the mega-doc."""
    import random

    from etl_marketeye_airflow_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_signatures,
        simhash_signatures_agg,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    # > 2^16 distinct shingles (minhash slice budget); two identical docs
    mega = " ".join(rng.choice(vocab) for _ in range(80_000))
    docs = spark.createDataFrame(
        [(1, mega), (2, mega), (3, "tiny unrelated doc")], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard == 1.0

    # > 2^20 tokens triggers the simhash big-row sliced path
    big = " ".join(rng.choice(vocab) for _ in range((1 << 20) + 4096))
    one = spark.createDataFrame([(9, big)], "doc_id long, text string")
    kern = simhash_signatures(one).first()._sig
    agg = simhash_signatures_agg(one).first()._sig
    assert kern == agg


def test_enrich_resumable_empty_keys_and_corrupt_checkpoint(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from etl_marketeye_airflow_spark.operators.enrich import (
        enrich_with_http_resumable,
    )

    def fake_client(url, timeout_sec=10.0):
        return 200, '{"ok": true}'

    # zero input keys + fresh checkpoint dir: null enrichment, no crash
    empty = spark.createDataFrame([], "k string")
    out = enrich_with_http_resumable(
        empty, "k", "http://x/{key}", str(tmp_path / "cp_fresh"), client=fake_client
    )
    assert {"enriched_payload", "enrich_status"} <= set(out.columns)
    assert out.count() == 0

    # corrupted checkpoint must RAISE, not silently refetch everything:
    # the catastrophic failure mode is a full refetch appended onto the
    # bad directory, so count HTTP calls — there must be NONE
    calls = []

    def counting_client(url, timeout_sec=10.0):
        calls.append(url)
        return 200, '{"ok": true}'

    bad = tmp_path / "cp_bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(Exception) as ei:
        enrich_with_http_resumable(
            df, "k", "http://x/{key}", str(bad), client=counting_client
        ).count()
    assert not isinstance(ei.value, AnalysisException) or "PATH_NOT_FOUND" not in str(ei.value)
    assert calls == []  # no refetch happened before the raise


# ---------------------------------------------------------------------------
# Oracle-precondition pins for the ANN family (q25/q26/q36).  Each oracle
# either replays the approximate algorithm in SQL (q25/q36) or relies on
# recall-complete banding (q26); both are sound ONLY while the numerical
# margins on the fixed corpus dwarf cross-engine ulp noise (~1e-15) and,
# for q26, while multi-table recall is complete.  These tests recompute
# everything in numpy at the gate SF (sf0.01) and fail loudly if the
# testdata ever shifts under the oracles.
# ---------------------------------------------------------------------------

_GATE_SF = "/root/testdata/sf0.01"


def _emb_matrix(spark, sf_dir=_GATE_SF):
    import numpy as np

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    return ids[order], X[order]


def _q26_cluster_corpus(ids, X):
    """Numpy twin of q26's planted-cluster construction (bit-identical
    IEEE ops: float->double exact, (0.002*t)*d product order matches
    both engines)."""
    import numpy as np

    sel = ids % 10 == 0
    dim = X.shape[1]
    i = np.arange(dim)
    parts_ids, parts = [ids], [X]
    for t in (1, 2, 3):
        d = ((ids[sel][:, None] * 31 + i[None, :] + 13 * t) % 7) - 3
        parts.append(X[sel] + (0.002 * t) * d)
        parts_ids.append(ids[sel] + t * 1000000)
    return np.concatenate(parts_ids), np.vstack(parts)


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", _GATE_SF, "/root/testdata/sf0.1"],
)
def test_q26_oracle_recall_complete_and_margins(spark, sf_dir):
    """q26's oracle is all-pairs exact cosine over the planted-cluster
    corpus, so the banded pair set must EQUAL the exact set at the
    pinned config (auto planes x 8 tables, threshold 0.95) — verified
    at ALL THREE testdata SFs, with the numerical margins that make the
    hash comparison sound."""
    import numpy as np

    from etl_marketeye_airflow_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from etl_marketeye_airflow_spark.queries import QUERIES

    ids0, X0 = _emb_matrix(spark, sf_dir)
    cids, C = _q26_cluster_corpus(ids0, X0)
    U = C / np.linalg.norm(C, axis=1, keepdims=True)
    G = U @ U.T
    iu = np.triu_indices(len(cids), 1)
    cs = G[iu]
    exact = {
        (min(int(cids[i]), int(cids[j])), max(int(cids[i]), int(cids[j])))
        for i, j in zip(iu[0][cs >= 0.95], iu[1][cs >= 0.95])
    }
    # non-vacuous: 6 pairs per 4-member cluster, one cluster per 10th id
    assert len(exact) == 6 * int((ids0 % 10 == 0).sum())
    # threshold margin: no cosine anywhere near 0.95 (engines can't flip it)
    assert float(np.abs(cs - 0.95).min()) > 1e-2
    # 6-dp rounding margin for emitted pairs: >= 1e-11, ~1e4 x ulp noise
    sel = cs[cs >= 0.95]
    assert float(np.abs(((sel * 1e6) % 1) - 0.5).min() / 1e6) > 1e-11

    got = {
        (r.id_a, r.id_b)
        for r in QUERIES["q26_embedding_near_dup"](spark, sf_dir).collect()
    }
    assert got == exact  # recall complete AND precision exact


def test_wide_angle_lsh_is_all_pairs_regime(spark):
    """NEGATIVE EXAMPLE (q26's pre-round-4 pin, demoted from the registry):
    wide-angle thresholds on near-isotropic vectors are an inherent
    ~all-pairs collision regime — at 3 planes a random pair collides in
    one table with p ~ 1/8, and 16 OR-ed tables push the candidate set
    toward ALL pairs (1-(1-p)^16 ~ 0.88 even if signs were independent
    coins).  No bucketing parameter fixes this at that angle: bucket
    population n/2^3 grows linearly with n, so the self-join is
    Theta(n^2) — the 67x blowup the 10x probe measured in round 3.
    Kept as a pinned demonstration; the operator remains correct on
    bounded corpora (precision exact by verify), just not a scale
    config."""
    import numpy as np

    from etl_marketeye_airflow_spark.operators.similarity import hyperplanes

    ids, X = _emb_matrix(spark)
    n = len(ids)
    collide = np.zeros((n, n), dtype=bool)
    for t in range(16):
        planes = np.asarray(hyperplanes(3, X.shape[1], 42 + t), dtype=np.float64)
        key = np.zeros(n, dtype=np.int64)
        for p in planes:
            key = (key << 1) | ((X * p).sum(axis=1) > 0).astype(np.int64)
        collide |= key[:, None] == key[None, :]
    iu = np.triu_indices(n, 1)
    frac = float(collide[iu].mean())
    # the candidate set IS a constant fraction of all pairs — the
    # definition of a non-scalable banding config
    assert frac > 0.5, frac


def test_q25_oracle_sign_and_rank_margins(spark):
    """q25's oracle replays the planes in SQL: every sign decision and the
    rank-10 cut must be stable under fold-order ulp differences."""
    import numpy as np

    from etl_marketeye_airflow_spark.operators.similarity import hyperplanes
    from etl_marketeye_airflow_spark.queries import QUERIES

    ids, X = _emb_matrix(spark)
    assert X.shape[1] == 64  # _planes_sql hard-codes the testdata dim
    planes = np.asarray(hyperplanes(8, X.shape[1], 42), dtype=np.float64)
    proj = X @ planes.T
    assert float(np.abs(proj).min()) > 1e-6  # no flippable sign

    key = np.zeros(len(ids), dtype=np.int64)
    for p in planes:
        key = (key << 1) | ((X * p).sum(axis=1) > 0).astype(np.int64)
    qpos = int(np.where(ids == 0)[0][0])
    qkey = int(key[qpos])
    in_probe = np.array([bin(int(k) ^ qkey).count("1") <= 1 for k in key])
    q = X[qpos]
    cos = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ (q / np.linalg.norm(q))
    c_in, ids_in = cos[in_probe], ids[in_probe]
    order = np.lexsort((ids_in, -c_in))
    cs = c_in[order]
    assert len(cs) > 10 and float(cs[9] - cs[10]) > 1e-6  # rank-10 cut stable
    assert float(np.abs(((cs[:10] * 1e6) % 1) - 0.5).min() / 1e6) > 1e-9

    got = [
        (r.vec_id, r.cosine)
        for r in QUERIES["q25_ann_lsh_topk"](spark, _GATE_SF).collect()
    ]
    want = [
        (int(ids_in[i]), float(np.round(c_in[i] * 1e6) / 1e6)) for i in order[:10]
    ]
    assert [v for v, _ in got] == [v for v, _ in want]
    assert got == pytest.approx(want)


def test_q36_oracle_argmin_probe_and_rank_margins(spark):
    """q36's oracle replays the sample-quantizer IVF in SQL: assignment
    argmin, probe cut, and rank-10 cut must all be margin-stable."""
    import numpy as np

    from etl_marketeye_airflow_spark.queries import QUERIES

    ids, X = _emb_matrix(spark)
    cents = X[:16]  # ids are sorted; first 16 by vec_id
    c_sq = (cents * cents).sum(axis=1)
    d2 = c_sq[None, :] - 2.0 * (X @ cents.T)
    best = np.sort(d2, axis=1)
    assert float((best[:, 1] - best[:, 0]).min()) > 1e-6  # assignment stable
    assign = d2.argmin(axis=1)

    qpos = int(np.where(ids == 0)[0][0])
    q = X[qpos]
    dq = ((cents - q) ** 2).sum(axis=1)
    o = np.argsort(dq, kind="stable")
    assert float(dq[o[4]] - dq[o[3]]) > 1e-6  # probe cut stable
    probed = np.isin(assign, o[:4])

    cos = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ (q / np.linalg.norm(q))
    c_in, ids_in = cos[probed], ids[probed]
    order = np.lexsort((ids_in, -c_in))
    cs = c_in[order]
    assert len(cs) > 10 and float(cs[9] - cs[10]) > 1e-6
    assert float(np.abs(((cs[:10] * 1e6) % 1) - 0.5).min() / 1e6) > 1e-9

    got = [
        (r.vec_id, r.cosine)
        for r in QUERIES["q36_ivf_topk"](spark, _GATE_SF).collect()
    ]
    want = [
        (int(ids_in[i]), float(np.round(c_in[i] * 1e6) / 1e6)) for i in order[:10]
    ]
    assert [v for v, _ in got] == [v for v, _ in want]
    assert got == pytest.approx(want)


def test_embedding_near_dup_scale_knobs(spark):
    """The 10x probe's lesson pinned: (a) n_planes=None auto-sizes from
    corpus count toward target_bucket_rows, and true near-dups (tight
    angle) still surface; (b) max_bucket drops degenerate hub buckets
    before the self-join instead of going quadratic."""
    import numpy as np

    from etl_marketeye_airflow_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(50, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        w = v + rng.normal(scale=0.02, size=16)  # cosine ~0.999 twin
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = embedding_near_dup_pairs(
        emb, threshold=0.95, n_planes=None, n_tables=4, target_bucket_rows=8
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(2 * i, 2 * i + 1) for i in range(50)}
    assert len(found & planted) >= 45  # high recall on tight-angle twins
    assert all(r.cosine >= 0.95 for r in pairs)  # precision exact

    hub = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(100)], "vec_id long, embedding array<float>"
    )
    none_kept = embedding_near_dup_pairs(
        hub, threshold=0.5, n_planes=4, n_tables=2, max_bucket=10
    )
    assert none_kept.count() == 0  # hub bucket dropped, not exploded


def test_q72_twin_corpus_margins_and_recall(spark):
    """q72's planted twin corpus: the exact pair set is precisely the
    500 (orig, orig+1e6) twins; the threshold sits in a wide dead zone
    (twins ≈ 0.987+, everything else ≤ ~0.55) and the auto-plane config
    finds every twin — recall complete at the scalable operating point."""
    import numpy as np

    from etl_marketeye_airflow_spark.queries import QUERIES

    ids, X = _emb_matrix(spark)
    n, dim = X.shape
    K = np.array(
        [[((int(v) * 31 + i) % 7) - 3 for i in range(dim)] for v in ids],
        dtype=np.float64,
    )
    W = X + 0.01 * K
    C = np.vstack([X, W])
    cid = np.concatenate([ids, ids + 1000000])
    U = C / np.linalg.norm(C, axis=1, keepdims=True)
    S = U @ U.T
    iu = np.triu_indices(len(cid), 1)
    cs = S[iu]
    hits = cs >= 0.95
    exact = {
        (int(min(cid[i], cid[j])), int(max(cid[i], cid[j])))
        for i, j in zip(iu[0][hits], iu[1][hits])
    }
    assert exact == {(int(v), int(v) + 1000000) for v in ids}
    # dead zone: nothing within 1e-4 of the threshold (engines can't flip)
    assert float(np.abs(cs - 0.95).min()) > 1e-4
    # 6-dp rounding margin for emitted pairs: engine fold-order ulp
    # differences on 64-dim unit dots are bounded by ~dim·eps ≈ 1.4e-14;
    # the tightest observed boundary distance is ~7.5e-10 — two orders
    # looser than q26's corpus but still >10^4 × the ulp bound
    sel = cs[hits]
    assert float(np.abs(((sel * 1e6) % 1) - 0.5).min() / 1e6) > 1e-12

    got = {
        (r.id_a, r.id_b) for r in QUERIES["q72_near_dup_scalable"](spark, _GATE_SF).collect()
    }
    assert got == exact  # recall complete with n_planes=None auto-sizing


def test_q108_semdedup_margins_and_exact_replay(spark):
    """q108's oracle replays the 16-cell sample quantizer + within-cell
    τ=0.45 pair cut in SQL.  Sound while (a) assignment argmin margins
    dwarf the numpy-vs-SQL-fold noise (~1e-12) and (b) no within-cell
    cosine sits near τ.  Recomputes everything in numpy at the gate SF
    and matches the registry query's kept set exactly."""
    import numpy as np

    from etl_marketeye_airflow_spark.queries import QUERIES

    ids, X = _emb_matrix(spark)
    cents = X[:16]
    c_sq = (cents * cents).sum(axis=1)
    d2 = c_sq[None, :] - 2.0 * (X @ cents.T)
    best = np.sort(d2, axis=1)
    assert float((best[:, 1] - best[:, 0]).min()) > 1e-6  # assignment stable
    cell = d2.argmin(axis=1)

    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    iu = np.triu_indices(len(X), 1)
    same = cell[iu[0]] == cell[iu[1]]
    cs = cos[iu][same]
    assert float(np.abs(cs - 0.45).min()) > 1e-4  # tau cut stable
    assert int((cs >= 0.45).sum()) > 0  # the cut is non-trivial at sf0.01

    hit = (cs >= 0.45).nonzero()[0]
    dropped = {int(ids[iu[1][same.nonzero()[0][h]]]) for h in hit}
    got = {
        int(r.vec_id): (int(r.cell_idx), bool(r.kept))
        for r in QUERIES["q108_semdedup"](spark, _GATE_SF).collect()
    }
    assert len(got) == len(ids)
    for i, v in enumerate(ids):
        assert got[int(v)] == (int(cell[i]), int(v) not in dropped)


def test_semdedup_autosize_and_drop_rule(spark):
    """n_centroids=None sizes cells from the corpus count, and the drop
    rule is greedy keep-smallest-id: planted twins (2i, 2i+1, cosine
    ~0.999) lose their odd member whenever the pair shares a cell."""
    import numpy as np

    from etl_marketeye_airflow_spark.operators.similarity import semdedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(50, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        w = v + rng.normal(scale=0.02, size=16)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(
        emb, tau=0.9, n_centroids=None, target_cell_rows=10, eager=True
    )
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == 100
    assert len({r.cell_idx for r in got.values()}) == 10  # ceil(100/10) cells
    dropped = {v for v, r in got.items() if not r.kept}
    assert dropped and all(v % 2 == 1 for v in dropped)  # only twins drop
    # a twin survives only by being split across cells — rare by design
    assert len(dropped) >= 40
    for v in dropped:  # the kept representative is the smaller-id twin
        assert got[v - 1].kept


def test_resize_dims_aspect_and_bounds(spark):
    """resize_dims never upscales, respects the box on both axes, and
    preserves aspect within integer-floor error; resized_sha is a
    deterministic function of (sha, out dims)."""
    from etl_marketeye_airflow_spark.operators.multimodal import resize_dims

    rows = [
        (1, "a" * 64, 100, 50),    # fits → unchanged
        (2, "b" * 64, 256, 64),    # width-bound → (128, 32)
        (3, "c" * 64, 64, 256),    # height-bound → (32, 128)
        (4, "d" * 64, 1000, 1000), # square → (128, 128)
        (5, "e" * 64, 10000, 3),   # extreme aspect → floor to ≥1
    ]
    df = spark.createDataFrame(
        rows, "media_id long, sha256 string, width int, height int"
    )
    got = {r.media_id: r for r in resize_dims(df, 128, 128).collect()}
    assert (got[1].out_w, got[1].out_h) == (100, 50)
    assert (got[2].out_w, got[2].out_h) == (128, 32)
    assert (got[3].out_w, got[3].out_h) == (32, 128)
    assert (got[4].out_w, got[4].out_h) == (128, 128)
    assert (got[5].out_w, got[5].out_h) == (128, 1)
    for r in got.values():
        assert 1 <= r.out_w <= 128 and 1 <= r.out_h <= 128
        assert r.out_w <= r.width and r.out_h <= r.height
        assert len(r.resized_sha) == 64


def test_resize_content_fake_deterministic_and_real_path(spark):
    """The fake content path is byte-deterministic and in-bounds; the
    real path resizes a planted PNG's pixels when PIL exists, raises
    loudly otherwise (a header parse cannot resample)."""
    from etl_marketeye_airflow_spark.operators.multimodal import resize_content

    media = spark.createDataFrame(
        [(1, "image", b"some media bytes"), (2, "image", b"other bytes")],
        "media_id long, kind string, content binary",
    )
    a = {r.media_id: r for r in resize_content(media, 100, 100).collect()}
    b = {r.media_id: r for r in resize_content(media, 100, 100).collect()}
    for k in a:
        assert bytes(a[k].content) == bytes(b[k].content)
        assert bytes(a[k].content).startswith(b"FAKERESIZE:")
        assert 1 <= a[k].out_w <= 100 and 1 <= a[k].out_h <= 100

    png = spark.createDataFrame(
        [(9, "image", _png_bytes(200, 100))],
        "media_id long, kind string, content binary",
    )
    try:
        import PIL  # noqa: F401

        r = resize_content(png, 50, 50, require_real_resizer=True).collect()[0]
        assert (r.out_w, r.out_h) == (50, 25)
    except ImportError:
        with pytest.raises(Exception, match="NotImplementedError|real resize"):
            resize_content(png, 50, 50, require_real_resizer=True).collect()


# --- substring-level (suffix-array-style) dedup -----------------------------


_SHARED10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def test_substring_dup_spans_goldens(spark):
    """Planted shared 10-token substring: every occurrence is reported
    as a maximal span with token-accurate boundaries; a doc with no
    length->=k repeat yields nothing; within-doc repetition counts."""
    from etl_marketeye_airflow_spark.operators.dedup import (
        substring_dup_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, f"one two {_SHARED10} three four"),
            (2, f"prefix {_SHARED10} suffix words here"),
            (3, "totally unrelated content with no repeats at all"),
            (4, f"{_SHARED10} {_SHARED10}"),  # within-doc repeat
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len, r.n_grams)
        for r in substring_dup_spans(docs, min_len=10).collect()
    )
    assert got == [
        (1, 3, 12, 10, 1),
        (2, 2, 11, 10, 1),
        (4, 1, 10, 10, 1),
        (4, 11, 20, 10, 1),
    ]


def test_substring_dup_spans_merges_long_repeat(spark):
    """A 12-token shared substring with k=10 produces THREE duplicated
    gram starts that merge into ONE maximal span of span_len 12."""
    from etl_marketeye_airflow_spark.operators.dedup import (
        substring_dup_spans,
    )

    s12 = _SHARED10 + " lambda mu"
    docs = spark.createDataFrame(
        [(1, f"x {s12} y"), (2, f"{s12} tail words")],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len, r.n_grams)
        for r in substring_dup_spans(docs, min_len=10).collect()
    )
    assert got == [(1, 2, 13, 12, 3), (2, 1, 12, 12, 3)]


def test_substring_dedup_protects_global_first(spark):
    """Removal keeps exactly the globally-first occurrence (min
    (doc_id, pos)) of each duplicated window and strips every other,
    reassembling the remainder in order; untouched docs round-trip."""
    from etl_marketeye_airflow_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [
            (1, f"one two {_SHARED10} three four"),
            (2, f"prefix {_SHARED10} suffix words here"),
            (3, "totally unrelated content with no repeats at all"),
            (4, f"{_SHARED10} {_SHARED10}"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in substring_dedup(docs, min_len=10, eager=True).collect()
    }
    assert got[1] == (14, 0, f"one two {_SHARED10} three four")
    assert got[2] == (14, 10, "prefix suffix words here")
    assert got[3] == (8, 0, "totally unrelated content with no repeats at all")
    assert got[4] == (20, 20, "")  # fully duplicated doc empties out


def test_substring_dedup_suppression_threshold(spark):
    """A 9-token shared run is BELOW min_len=10 and must survive in all
    docs (no sub-threshold suppression) while a 10-token run is
    stripped — the length->=k contract."""
    from etl_marketeye_airflow_spark.operators.dedup import substring_dedup

    nine = "alpha beta gamma delta epsilon zeta eta theta iota"
    docs = spark.createDataFrame(
        [
            (1, f"{nine} uniqueone filler words"),
            (2, f"{nine} uniquetwo other stuff"),
            (3, f"pad {_SHARED10}"),
            (4, f"{_SHARED10} trail"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_removed, r.cleaned_text)
        for r in substring_dedup(docs, min_len=10, eager=True).collect()
    }
    assert got[1][0] == 0 and nine in got[1][1]
    assert got[2][0] == 0 and nine in got[2][1]
    assert got[3] == (0, f"pad {_SHARED10}")  # global first: (3,2) < (4,1)? no —
    # struct min orders by doc_id first, so doc 3 pos 2 IS first vs doc 4 pos 1
    assert got[4] == (10, "trail")


def test_substring_spans_sound_and_complete_on_corpus(spark):
    """Full characterization against a pure-python reference on the
    real sf0.001 documents: every min_len-window inside every reported
    span occurs >=2 times in the corpus (soundness), and every window
    that occurs >=2 times lies inside a reported span at each of its
    (doc,pos) occurrences (completeness) — the suffix-array-equivalence
    property the q118 oracle relies on."""
    import re
    from collections import Counter

    from etl_marketeye_airflow_spark.operators.dedup import (
        substring_dup_spans,
    )

    K = 10
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select("doc_id", "text").collect()
    toks = {
        r.doc_id: re.sub(r"\s+", " ", r.text).strip().lower().split(" ")
        for r in rows
    }
    counts = Counter()
    for ws in toks.values():
        for i in range(len(ws) - K + 1):
            counts[tuple(ws[i : i + K])] += 1
    dup_positions = {
        (d, i + 1)
        for d, ws in toks.items()
        for i in range(len(ws) - K + 1)
        if counts[tuple(ws[i : i + K])] >= 2
    }

    spans = substring_dup_spans(docs, min_len=K).collect()
    covered = set()
    for s in spans:
        # span token range [span_start, span_end]; gram starts are
        # [span_start, span_end - K + 1]
        for p in range(s.span_start, s.span_end - K + 2):
            assert (s.doc_id, p) in dup_positions, (s.doc_id, p)  # sound
            covered.add((s.doc_id, p))
    assert covered == dup_positions  # complete
    assert len(dup_positions) > 0  # non-vacuous on this corpus


def test_substring_dedup_degenerate_docs(spark):
    """Empty and whitespace-only documents tokenize to [''] and emit NO
    row (the oracle's tok <> '' filter mirrors this — r6 review finding
    1); normal docs alongside them are unaffected."""
    from etl_marketeye_airflow_spark.operators.dedup import (
        substring_dedup,
        substring_dup_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "   \t  "),
            (3, f"pad {_SHARED10}"),
            (4, f"{_SHARED10} trail"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed)
        for r in substring_dedup(docs, min_len=10, eager=True).collect()
    }
    assert set(got) == {3, 4}  # degenerate docs absent, not crashed
    assert got[3] == (11, 0) and got[4] == (11, 10)
    spans = substring_dup_spans(docs, min_len=10, eager=True).collect()
    assert sorted(r.doc_id for r in spans) == [3, 4]


def test_skyline_2d_brute_force_ties_and_nulls(spark):
    """Distributed prefix-min skyline == brute-force dominance scan on
    an adversarial set: duplicate criteria pairs (both must survive),
    same-x different-y (higher y dominated), a null row (excluded),
    and enough rows to spread across many range partitions."""
    from etl_marketeye_airflow_spark.operators.skyline import skyline_2d

    rows = []
    for i in range(200):
        x = 10 + (i * 37) % 97
        y = 10 + (i * 53) % 89
        rows.append((i, x, y))
    rows += [(900, 5, 7), (901, 5, 7)]   # exact tie pair
    rows += [(902, 5, 9)]                # same x, worse y
    rows += [(903, None, 1), (904, 3, None)]  # null criteria
    df = spark.createDataFrame(rows, "id long, x int, y int")
    out = skyline_2d(df, F.col("x"), F.col("y"), num_partitions=7)
    got = sorted(r.id for r in out.collect())

    pts = [(i, x, y) for (i, x, y) in rows if x is not None and y is not None]
    expect = sorted(
        i
        for (i, x, y) in pts
        if not any(
            bx <= x and by <= y and (bx < x or by < y)
            for (_, bx, by) in pts
        )
    )
    assert got == expect
    assert 900 in got and 901 in got and 902 not in got
    assert 903 not in got and 904 not in got


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", _GATE_SF, "/root/testdata/sf0.1"],
)
def test_q132_cosine_rank_margins(spark, sf_dir):
    """q132 consumes the EXACT ORDER of the cosine top-20 (ranks feed
    rrf_fx), so adjacent margins across the whole consumed prefix —
    including the rank-20 cut — must sit far above fold-order ulp
    noise at every gate SF (the q25 margin-pin discipline, conv. 7)."""
    import numpy as np

    ids, X = _emb_matrix(spark, sf_dir)
    qpos = int(np.where(ids == 0)[0][0])
    q = X[qpos]
    cos = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ (
        q / np.linalg.norm(q)
    )
    order = np.lexsort((ids, -cos))
    cs = cos[order][:21]  # top-20 + the first excluded row
    gaps = np.diff(cs)
    assert float(-gaps.max()) > 1e-7 or float(np.abs(gaps).min()) > 1e-7
    assert float(np.abs(gaps).min()) > 1e-7, cs


# ----------------------------------------------------------- quantize_int8


def test_quantize_int8_codes_and_reconstruction_bound(spark):
    """Hand frame: per-dim ranges train on the corpus; codes match the
    formula, constant dims code 0, max values clamp to 255, and
    dequantized values sit within step/2 + an ulp of the originals."""
    import math

    from etl_marketeye_airflow_spark.operators.similarity import (
        quantize_int8,
    )

    rows = [
        (1, [0.0, 5.0, 7.0]),
        (2, [1.0, 5.0, 3.0]),
        (3, [0.5, 5.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.n_dims, r.codes)
           for r in quantize_int8(df).collect()}
    # dim1: [0,1] -> codes 0, 255, floor(127.5)=127
    # dim2: constant -> 0
    # dim3: [-1,7] step 8/255
    def code3(v):
        return min(math.floor((v + 1.0) * 255.0 / 8.0), 255)
    assert got[1] == (3, [0, 0, 255])
    assert got[2] == (3, [255, 0, code3(3.0)])
    assert got[3] == (3, [127, 0, 0])
    # reconstruction bound on the varying dims
    mins = {1: 0.0, 3: -1.0}
    steps = {1: 1.0 / 255.0, 3: 8.0 / 255.0}
    for vid, emb in rows:
        codes = got[vid][1]
        for d, v in enumerate(emb, 1):
            if d in steps:
                recon = mins[d] + (codes[d - 1] + 0.5) * steps[d]
                assert abs(recon - v) <= steps[d] / 2 + 1e-9, (vid, d)


def test_quantize_int8_deterministic_rerun(spark):
    from etl_marketeye_airflow_spark.operators.similarity import (
        quantize_int8,
    )

    rows = [(i, [((i * 37 + d * 11) % 100) / 7.0 for d in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted((r.vec_id, tuple(r.codes)) for r in quantize_int8(df).collect())
    b = sorted((r.vec_id, tuple(r.codes)) for r in quantize_int8(df).collect())
    assert a == b and len(a) == 40


def test_quantized_topk_recall_vs_float_cosine(spark):
    """SQ8 integer-dot ranking recovers most of the float-cosine top-k
    on the real corpus: recall@10 ≥ 0.6 pinned (scalar quantization
    preserves neighborhoods; exact threshold is corpus-dependent but
    a collapse to near-zero recall would mean broken codes)."""
    from etl_marketeye_airflow_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    quant = [r.vec_id for r in QUERIES["q159_quantized_topk"](spark, sf).collect()]
    flt = [r.vec_id for r in QUERIES["q24_cosine_topk"](spark, sf).collect()]
    flt_ids = set(flt[:10]) - {0}
    recall = len(set(quant) & flt_ids) / max(len(flt_ids), 1)
    assert recall >= 0.6, (recall, quant, flt[:10])


def test_centroid_classifier_perfect_on_separated_corpus(spark, tmp_path_factory):
    """Two well-separated label clusters: the quantized nearest-centroid
    classifier (q163) recovers every held-out label — confusion matrix
    is exactly diagonal."""
    from etl_marketeye_airflow_spark.queries import QUERIES

    sf = tmp_path_factory.mktemp("centroid")
    rows = []
    for i in range(40):
        # label independent of the even/odd train-test split
        lbl = (i // 2) % 2
        base = 0.1 if lbl == 0 else 0.9
        emb = [base + ((i * 7 + d) % 5) * 0.01 for d in range(8)]
        rows.append((i, emb, lbl))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(sf / "embeddings.parquet")
    )
    got = {(r.true_label, r.predicted): r.n
           for r in QUERIES["q163_centroid_classifier"](spark, str(sf)).collect()}
    assert got == {(0, 0): 10, (1, 1): 10}


def test_zero_norm_vectors_excluded_everywhere(spark):
    """r8 fuzz class: zero-norm embeddings (failed/null encodes) must
    never reach a cosine division — candidates are excluded, a zero
    query yields the EMPTY frame (no ANSI DIVIDE_BY_ZERO crash), and
    the near-dup pair set silently skips them."""
    from etl_marketeye_airflow_spark.operators.similarity import (
        brute_force_topk,
        embedding_near_dup_pairs,
        ivf_topk,
        lsh_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
        (3, [0.95, 0.05, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [r.vec_id for r in brute_force_topk(emb, [1.0, 0, 0, 0], k=4).collect()]
    assert 2 not in got and set(got) == {0, 1, 3}
    got = [r.vec_id for r in lsh_topk(emb, [1.0, 0, 0, 0], k=4, n_planes=4).collect()]
    assert 2 not in got
    got = [r.vec_id for r in ivf_topk(emb, [1.0, 0, 0, 0], k=4, n_centroids=2).collect()]
    assert 2 not in got
    # zero QUERY vector -> empty result, not a crash
    assert brute_force_topk(emb, [0.0, 0, 0, 0], k=4).count() == 0
    assert lsh_topk(emb, [0.0, 0, 0, 0], k=4, n_planes=4).count() == 0
    assert ivf_topk(emb, [0.0, 0, 0, 0], k=4, n_centroids=2).count() == 0
    pairs = embedding_near_dup_pairs(emb, threshold=0.9, n_planes=4).collect()
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert 2 not in ids and {0, 1} <= ids


def test_near_dup_clusters_releases_per_round_checkpoints(spark, monkeypatch):
    """The CC loop frees superseded per-round localCheckpoint blocks
    eagerly (the r8-ADVICE ranking.py class applied to the loop): after
    the call only the edges table and the FINAL labels round remain
    persisted, regardless of how many rounds ran.  The loop is the
    distributed path (KERNEL_MAX_EDGES forced to 0); the kernel path
    leaves only its one materialized result."""
    from etl_marketeye_airflow_spark.operators import loop_kernels
    from etl_marketeye_airflow_spark.operators.dedup import (
        near_dup_clusters,
    )

    sc = spark.sparkContext

    def persisted_ids() -> set:
        it = sc._jsc.sc().getPersistentRDDs().keysIterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    base = persisted_ids()
    # a 10-node path graph needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    stats: dict = {}
    labels = near_dup_clusters(pairs, stats=stats)
    assert stats["rounds"] >= 2
    assert len(persisted_ids() - base) == 1  # kernel path: the result
    assert labels.count() == 11
    base = persisted_ids()
    monkeypatch.setattr(loop_kernels, "KERNEL_MAX_EDGES", 0)
    stats = {}
    labels = near_dup_clusters(pairs, stats=stats)
    assert stats["rounds"] >= 2  # multiple rounds actually happened
    added = persisted_ids() - base
    assert len(added) == 2, added  # edges + final round only
    assert labels.count() == 11  # result still fully readable


def test_query_vec_helper_null_and_missing_safe(spark):
    from etl_marketeye_airflow_spark.queries import _query_vec

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    assert _query_vec(df, 0) == [1.0, 2.0]
    assert _query_vec(df, 1) == [0.0]   # NULL cell → zero vector
    assert _query_vec(df, 99) == [0.0]  # missing row → zero vector


def test_no_unguarded_query_vector_fetch_in_queries():
    # regression tripwire for r9 verdict item 7: every driver-side
    # query-vector fetch must go through _query_vec
    import pathlib

    import etl_marketeye_airflow_spark.queries as qmod

    # r11 split: the registry spans _registry_base.py (helpers, incl.
    # _query_vec itself) + the queries_* band modules + the aggregator
    pkg = pathlib.Path(qmod.__file__).parent
    src = "\n".join(
        p.read_text()
        for p in sorted(pkg.glob("queries*.py")) + [pkg / "_registry_base.py"]
    )
    inline = [
        ln for ln in src.splitlines()
        if '.select("embedding").first()' in ln and "def _query_vec" not in ln
    ]
    # exactly the one inside the helper itself
    assert len(inline) == 1, inline


def test_ema_fixed_point_streaming_fold_matches_reference(spark):
    """r10 verdict task 4: the scale-safe EMA must (a) be bit-identical
    to the sequential reference fold — including ts ties broken by the
    second order col, NULL poisoning, and a single-event key — (b) keep
    state O(1) per key: a 60k-event hot key must pass through Arrow
    batches without a per-key array (no collect_list anywhere in the
    plan), and keys split across batch boundaries must carry."""
    from etl_marketeye_airflow_spark.operators.recurrence import ema_fixed_point

    rows = []
    # hot key 1: 60k events spanning many Arrow batches (force small
    # batches below so the carry path is actually exercised)
    for i in range(60_000):
        rows.append((1, i // 3, i, (i * 37) % 999 + 1))  # ts ties of 3
    # key 2: single event
    rows.append((2, 5, 70_001, 123))
    # key 3: NULL cents mid-stream poisons from there on
    rows.append((3, 1, 70_002, 10))
    rows.append((3, 2, 70_003, None))
    rows.append((3, 3, 70_004, 20))
    # key 4: NULL cents FIRST
    rows.append((4, 1, 70_005, None))
    rows.append((4, 2, 70_006, 50))
    import random

    random.Random(7).shuffle(rows)  # input order must not matter
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, cents long"
    )
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "4096"}):
        out = ema_fixed_point(df, "user_id", ["ts_us", "event_id"], "cents")
        got = {r.user_id: (r.n_events, r.ema_fx) for r in out.collect()}

    def ref(events):  # sequential reference fold
        events = sorted(events)
        acc, poisoned = None, False
        for _, _, c in events:
            if c is None:
                poisoned = True
            if poisoned:
                continue
            b = c * (1 << 20)
            acc = b if acc is None else (7 * acc + b) >> 3
        return (len(events), None if poisoned else acc)

    by_key: dict = {}
    for u, ts, eid, c in rows:
        by_key.setdefault(u, []).append((ts, eid, c))
    want = {u: ref(evs) for u, evs in by_key.items()}
    assert got == want
    assert len(got[1]) == 2 and got[1][0] == 60_000

    # the registry query must carry the same shape: no collect_list
    from etl_marketeye_airflow_spark import queries as reg

    q = reg.QUERIES["q139_ema_fold"](spark, "/root/testdata/sf0.001")
    analyzed = q._jdf.queryExecution().analyzed().toString()
    assert "collect_list" not in analyzed
    assert "MapInPandas" in q._jdf.queryExecution().executedPlan().toString()


def test_ema_fixed_point_null_key_or_order_fails_loud(spark):
    """r12 (ADVICE): a NULL key would cross Arrow as NaN and split its
    group (NaN != NaN), silently diverging from an oracle's NULL-pooling
    GROUP BY; a NULL order value sorts NULLS FIRST on Spark vs NULLS
    LAST in DuckDB list_sort.  Both must fail LOUD at the operator
    entry, not produce data."""
    from etl_marketeye_airflow_spark.operators.recurrence import (
        ema_fixed_point,
    )

    schema = "user_id long, ts_us long, event_id long, cents long"
    null_key = spark.createDataFrame(
        [(1, 1, 1, 10), (None, 2, 2, 20)], schema
    )
    with pytest.raises(Exception, match="ema_fixed_point: NULL in user_id"):
        ema_fixed_point(
            null_key, "user_id", ["ts_us", "event_id"], "cents"
        ).collect()
    null_order = spark.createDataFrame(
        [(1, 1, 1, 10), (1, None, 2, 20)], schema
    )
    with pytest.raises(Exception, match="ema_fixed_point: NULL in ts_us"):
        ema_fixed_point(
            null_order, "user_id", ["ts_us", "event_id"], "cents"
        ).collect()
    # NULL cents stays LEGAL (documented poison semantics)
    ok = spark.createDataFrame([(1, 1, 1, 10), (1, 2, 2, None)], schema)
    got = ema_fixed_point(
        ok, "user_id", ["ts_us", "event_id"], "cents"
    ).collect()
    assert len(got) == 1 and got[0].ema_fx is None
