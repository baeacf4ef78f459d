"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's offer-level dedup (SURVEY A6), these are the
document-level dedup family a 100 TB text pipeline needs:

- exact:   hash-groupBy on normalized text — one shuffle on the digest.
- MinHash+LSH: shingle → minhash signature → band → bucket-join.  The
  candidate join shuffles on (band, band_hash) buckets, NEVER all-pairs:
  cost is O(Σ bucket²) which stays near-linear when bands/rows are sized
  for the target similarity threshold.
- SimHash: 64-bit signature; pigeonhole banding (4×16 bits) guarantees
  recall for hamming distance ≤ 3; verify via bit_count(xor).
- embedding near-dup: random-hyperplane LSH buckets + cosine verify
  (see similarity.py for the primitives).

Token/shingle hashing stays JVM-side (xxhash64, or the md5-derived
portable hash when oracle reproducibility matters); the dense integer
kernels — simhash bit votes, minhash multiply-shift minima folded to
band keys — run as Arrow-batched numpy: zero shuffle, no multi-second
Janino compile of wide aggregates, and bitwise-identical to the JVM
parity forms where one exists (simhash keeps Column + explode/agg
baselines; minhash's kernel IS the only signature family — don't mix
other minhash implementations with its band keys).  The clustering
endgame (connected components) is min-label propagation + pointer
jumping, O(log diameter) rounds.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    arrives under-partitioned.

    A single parquet file scans as ONE partition, serializing all
    per-row expression work (measured: the whole minhash stage ran on
    1 of 32 cores).  The small shuffle this adds is trivially cheaper;
    on a real cluster with many input files it's a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


def normalize_text(c: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def words(c: Column) -> Column:
    return F.split(normalize_text(c), " ")


def shingles_from_tokens(w: Column, k: int = 3) -> Column:
    """Distinct word k-grams from a token-array column; token arrays
    shorter than k yield one (partial) shingle.

    Built with nested ``zip_with`` over shifted slices — higher-order-
    function ARGUMENTS evaluate once, so the token expression is
    computed k+1 times per row TOTAL.  The obvious form (``transform``
    over a position sequence with ``slice(w, i, k)`` in the lambda)
    re-evaluates the captured ``w`` tree PER ELEMENT: with an inline
    ``split()`` that is O(n²) in document length — measured 17 s for a
    single 10k-token document, hours for 1M tokens.
    """
    acc = w
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(w, j + 1, F.greatest(F.size(w) - j, F.lit(0))),
            # null right side (past the end) → concat_ws skips it,
            # leaving the partial gram — trimmed below
            lambda a, b: F.concat_ws(" ", a, b),
        )
    full = F.slice(acc, 1, F.greatest(F.size(w) - F.lit(k - 1), F.lit(1)))
    # contract: an EMPTY token array still yields one (empty) shingle,
    # matching the transform-over-positions form this replaced
    full = F.when(F.size(w) == 0, F.array(F.lit(""))).otherwise(full)
    return F.array_distinct(full)


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-grams; texts shorter than k words yield one
    shingle.  Linear in text length for any caller (see
    shingles_from_tokens)."""
    return shingles_from_tokens(words(c), k)


# --- exact ------------------------------------------------------------------


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: groups by content digest; keeper = min id.

    Returns one row per distinct content with keeper id and copy count.
    Scale: shuffles the 32-byte digest + id, not the text.
    """
    digest = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        docs.select(digest, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one doc per distinct normalized text (the min-id one)."""
    keepers = exact_dedup_groups(docs, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return docs.join(keepers, id_col, "left_semi")


# --- MinHash + LSH ----------------------------------------------------------


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    eager: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with
    exact shingle-set Jaccard ≥ threshold.

    bands=16 over 64 hashes → r=4 rows/band → ~50% capture at J≈0.84^? —
    tune (bands, num_hashes) per threshold.  ``max_bucket`` drops
    degenerate buckets (e.g. boilerplate shingles) that would otherwise
    produce quadratic pair blowup — dropped buckets are a recall trade
    documented to the caller, not a silent cap: use ``log`` stats in jobs.

    Cache lifecycle: the signature base fans out to three consumers and
    must be persisted; with ``eager=True`` (default) the small verified
    pair set is materialized via ``localCheckpoint`` and the base
    unpersisted before returning, so no cache entry outlives the call
    (VERDICT r2 item 3).  ``eager=False`` returns the lazy plan and
    leaves the persisted base to the caller (plan tests).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    # Shingles are hashed to a long ONCE (JVM xxhash64, distinct per row
    # via word_shingles); the minhash signature is then a pure per-row
    # Arrow kernel: h_i(x) = A_i·x + B_i over Z/2^64 (multiply-shift,
    # A_i odd, seeded constants), min per i.  Like simhash this makes
    # signature generation a zero-shuffle MAP — the previous
    # explode → 64-min-agg form shuffled one row per shingle and paid a
    # multi-second Janino compile for the 64-buffer aggregate.  The
    # mixing family changed from xxhash64(i, x) to multiply-shift; LSH
    # capture at the operating point (J ≥ threshold, 16×4 banding) is
    # unaffected — recall-completeness on the fixed corpus stays pinned
    # by test_minhash_lsh_recall_vs_exact, which is what q22/q47's
    # exact-Jaccard oracles rely on.  Verify Jaccard runs over the hash
    # sets (collision probability ~2^-64 — immaterial to the estimate).
    from pyspark.sql.functions import pandas_udf

    import numpy as _np

    _rng = _np.random.RandomState(0x5EED)
    # odd 64-bit multipliers + arbitrary addends, fixed seed → signatures
    # are deterministic across runs/partitions/machines
    mul = (
        _rng.randint(0, 2**62, size=num_hashes, dtype=_np.int64).view(_np.uint64)
        << _np.uint64(1)
    ) | _np.uint64(1)
    add = _rng.randint(-(2**62), 2**62, size=num_hashes, dtype=_np.int64).view(_np.uint64)

    @pandas_udf("array<long>")
    def band_hash_kernel(sh_arrays):
        import numpy as np
        import pandas as pd

        arrs = sh_arrays.to_numpy()
        n = len(arrs)
        out = np.empty(n, dtype=object)
        fnv_mul = np.uint64(0x100000001B3)
        empty_sig = np.full(len(mul), np.iinfo(np.int64).max, dtype=np.uint64)
        n_bands = len(mul) // r

        def fold(sig):
            # FNV-style fold of each band's r minima → one 64-bit bucket
            # key per band (any good mix works — banding only needs
            # "equal slices ⇒ equal key, unequal ⇒ almost surely unequal")
            chunks = sig.reshape(n_bands, r)
            h = np.full(n_bands, 0xCBF29CE484222325, dtype=np.uint64)
            for j in range(r):
                h = (h ^ chunks[:, j]) * fnv_mul
            return h.view(np.int64)

        # slice the (num_hashes, n_shingles) broadcast multiply so one
        # pathological mega-document can't materialize an unbounded bit
        # matrix: 64 x 2^16 x 8B = 32 MB per slice, min-combined across
        # slices (min is associative — result is identical)
        slice_tokens = 1 << 16
        umax = np.iinfo(np.uint64).max
        for idx in range(n):
            a = arrs[idx]
            if a is None or len(a) == 0:
                out[idx] = fold(empty_sig)
                continue
            x = np.asarray(a, dtype=np.int64).view(np.uint64)
            sig = np.full(len(mul), umax, dtype=np.uint64)
            for s in range(0, len(x), slice_tokens):
                xs = x[s : s + slice_tokens]
                np.minimum(
                    sig,
                    (mul[:, None] * xs[None, :] + add[:, None]).min(axis=1),
                    out=sig,
                )
            out[idx] = fold(sig)
        return pd.Series(out)

    base = (
        spread(docs)
        .select(
            F.col(id_col).alias("_id"),
            F.transform(
                word_shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s)
            ).alias("_sh"),
        )
        # The kernel folds signature → per-band bucket keys in one pass:
        # the 64-long signature never leaves the worker (it exists only
        # as a numpy intermediate), so the Arrow transfer carries bands
        # longs instead of num_hashes, and the JVM side needs no wide
        # slice/concat/hash codegen — measured ~2 s off q22's first run.
        .select("_id", "_sh", band_hash_kernel(F.col("_sh")).alias("_bhs"))
        # base fans out to THREE consumers (banded once, sets twice via the
        # id_a/id_b joins); without a persist Spark recomputes the whole
        # shingle+kernel pipeline per consumer (measured ~2× on q22,
        # compounding into every clusters() caller).  MEMORY_AND_DISK:
        # the cached payload is band-keys+hash-sets (~0.6 KB/doc), orders
        # of magnitude under the source text, and spills safely at scale.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # Banding/join carry ONLY (id, band, bh): replicating the shingle
    # sets into the bands-way explode would shuffle the dominant payload
    # ~2×bands times.  The sets join back by id onto the (few) surviving
    # candidate pairs for the Jaccard verify.
    banded = base.select("_id", F.posexplode("_bhs").alias("band", "bh"))

    # Drop pathological buckets before the self-join (skew guard).
    from pyspark.sql.window import Window

    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("band", "bh"))
    banded = banded.withColumn("_bn", bucket_n).filter(F.col("_bn") <= max_bucket).drop("_bn")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = base.select("_id", "_sh")
    pairs = (
        pairs.join(sets.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    jaccard = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    out = (
        pairs.withColumn("jaccard", jaccard.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


# --- SimHash ----------------------------------------------------------------


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs → cluster labels.

    The dedup endgame: pairwise matches (from MinHash/SimHash/embedding
    pipelines) are transitive in intent — A≈B and B≈C means one cluster
    {A,B,C} even if (A,C) was never a candidate.

    Each round does min-label **propagation** (every vertex takes the min
    label in its neighborhood) followed by **pointer jumping**
    (label(v) ← label(label(v))).  Jumping doubles the distance a min
    label has travelled, so convergence is O(log diameter) rounds instead
    of O(diameter) — the difference between 4 and 1000 rounds on a
    chain-shaped near-dup cluster.  Labels only decrease and always name a
    real vertex, so the jump join is a plain equi-join on the label table.

    Lineage is truncated per round so ``max_iterations`` rounds don't
    build a deep plan.  With ``checkpoint_dir`` set, truncation uses
    reliable ``checkpoint()`` (HDFS/object-store durable — survives
    executor loss on a real cluster); default is ``localCheckpoint``,
    which is cheaper but non-replicated (fine for local/driver runs).
    The convergence check is one count per round — driver-side control
    flow over distributed data, never data on the driver.

    ``stats`` (optional dict) receives {"rounds": n} — rounds that
    changed at least one label (used by convergence tests).  Convergence
    is a round that changes nothing, and ``max_iterations`` counts that
    confirming round too: labels that settle in n changing rounds need
    ``max_iterations >= n + 1``.  Running out of rounds raises
    RuntimeError (never unconverged labels); ``max_iterations < 1`` is
    a ValueError.

    The pairs are persisted and counted.  Up to
    ``loop_kernels.KERNEL_MAX_EDGES`` pairs all rounds are one NumPy
    task over them (``loop_kernels.components``, same rounds and
    ``stats``), materialized like a round would be; above it the cached
    pairs feed the edge materialization (one read instead of the
    union's two upstream scans) and are dropped right after.

    Returns (id, cluster) — cluster = min doc id reachable.
    """
    from . import loop_kernels as lk

    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    def _release(df: DataFrame | None) -> None:
        # free superseded per-round checkpoint blocks eagerly: an
        # O(log d)-round loop otherwise pins rounds × |labels| of
        # MEMORY_AND_DISK until the ContextCleaner gets around to it
        # (the r8-ADVICE ranking.py class, applied to the loop).
        # Reliable checkpoints live in checkpoint_dir and are managed
        # there; only the localCheckpoint path holds executor blocks.
        if df is not None and checkpoint_dir is None:
            from .ranking import release_local_checkpoint

            release_local_checkpoint(df)

    p = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).persist()
    if lk.small(p):
        t = lk.id_type(p, "src", "dst")
        out = lk.run(
            p, lk.components,
            lk.schema(("id", t), ("cluster", t), ("rounds", lk.LONG)),
            checkpoint=_materialize, max_iterations=max_iterations,
        )
        p.unpersist()
        if stats is not None:
            first = out.select("rounds").limit(1).collect()
            stats["rounds"] = first[0][0] if first else 0
        return out.select("id", "cluster")
    # Edges are scanned EVERY round: materialize once, or each iteration
    # recomputes the entire upstream pairs pipeline (for MinHash input
    # that's the full shingle+signature+join job × rounds).
    edges = _materialize(
        p.unionByName(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    p.unpersist()
    labels = _materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
    )
    prev_materialized: DataFrame | None = labels
    rounds_used = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster").alias("n_min"))
        )
        propagated = labels.join(
            neighbor_min, labels["id"] == neighbor_min["src"], "left"
        ).select(
            "id",
            F.least(F.col("cluster"), F.coalesce(F.col("n_min"), F.col("cluster"))).alias(
                "p_cluster"
            ),
            F.col("cluster").alias("old_cluster"),
        )
        # Pointer jump: p_cluster is itself a vertex id, so look up ITS
        # freshly-propagated label and adopt it.  label(x) ≤ x invariant
        # makes this monotone; coalesce covers the (impossible in a
        # connected label table, cheap to guard) miss case.
        jump = propagated.select(
            F.col("id").alias("j_id"), F.col("p_cluster").alias("j_cluster")
        )
        updated = _materialize(
            propagated.join(jump, propagated["p_cluster"] == jump["j_id"], "left").select(
                "id",
                F.coalesce(F.col("j_cluster"), F.col("p_cluster")).alias("new_cluster"),
                "old_cluster",
            )
        )
        changed = updated.filter(F.col("new_cluster") != F.col("old_cluster")).count()
        _release(prev_materialized)
        prev_materialized = updated
        labels = updated.select("id", F.col("new_cluster").alias("cluster"))
        if changed == 0:
            break
        rounds_used += 1
    else:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} rounds"
            " - raise max_iterations"
        )
    if stats is not None:
        stats["rounds"] = rounds_used
    return labels


def dedup_by_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per near-dup cluster; docs in no
    cluster pass through untouched."""
    clusters = near_dup_clusters(pairs)
    drop = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def cross_corpus_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for each corpus doc, count how many of
    its distinct word k-grams also appear in the benchmark set.  Docs
    with n_shared_grams > 0 are contamination candidates (eval data
    leaked into training data) and get dropped or audited.

    Scale shape: an inverted-index equi-join on the gram HASH — grams
    are xxhash64'd to 8-byte keys before the join, so the shuffle never
    carries gram strings; the benchmark side (distinct gram hashes,
    typically millions of rows vs the corpus' billions) broadcasts.
    A hash collision could at worst credit one extra shared gram
    (probability ~n²·2⁻⁶⁴ — immaterial).  Counting is exact: per-doc
    grams are distinct by construction (word_shingles), so count(*)
    after the join is the distinct-overlap size.
    """
    def gram_hashes(df: DataFrame) -> DataFrame:
        # spread: gram building dominates — don't let a single-file scan
        # serialize it onto one core (no-op on well-partitioned input)
        return spread(df).select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_g"),
        ).select(id_col, F.xxhash64("_g").alias("_gh"))

    bench = gram_hashes(benchmark).select("_gh").distinct()
    return (
        gram_hashes(corpus)
        .join(F.broadcast(bench), "_gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def simhash(c: Column, bits: int = 64) -> Column:
    """Charikar simhash over word tokens: per-bit ±1 votes, sign → bit.

    Bit positions are static Python ints (F.shiftright requires literal
    shift amounts), so the vote array is built with a Python loop over
    bit indices — still one JVM expression, no UDF.
    """
    tok_hashes = F.transform(words(c), lambda t: F.xxhash64(t))
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)
                    .cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    # pack sign bits (bit 0 = most significant) into a long key;
    # shiftleft|or, not *2+bit — multiplication overflows at bit 63
    # under ANSI mode, shifts wrap silently (intended: it's a key)
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = F.shiftleft(key, 1).bitwiseOR(
            F.when(F.element_at(votes, i + 1) > 0, 1).otherwise(0).cast("long")
        )
    return key


def portable_token_hash(t: Column) -> Column:
    """Engine-portable 60-bit token hash: first 15 md5 hex chars as an
    integer.  Any SQL engine recomputes it (DuckDB:
    ``('0x' || substr(md5(w),1,15))::BIGINT`` — verified equal), which
    makes simhash signatures — and therefore the exact hamming-verified
    pair set — fully oracle-checkable.  ~5× the hashing cost of
    xxhash64; the scale default stays xxhash64."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Corpus-scale simhash: JVM tokenizes + hashes each token
    (xxhash64 by default; pass ``token_hash=portable_token_hash`` with
    ``bits<=60`` for an oracle-reproducible variant), then ONE
    Arrow-batched numpy kernel turns each row's token-hash array into
    the packed ``bits``-wide signature (bit matrix → segment-sum votes →
    sign bits, MSB-first like the Column form).

    Integer-exact — bitwise equal to the Column-form ``simhash`` and the
    explode/agg form ``simhash_signatures_agg`` (parity pinned in tests).

    Scale shape: a pure per-row MAP — no shuffle at all, where the agg
    form shuffles one (id, hash) row per token (~100× the doc count).
    The kernel self-chunks to ≤2^20 tokens per bit-matrix so executor
    memory stays bounded regardless of document length, and it avoids
    the multi-second Janino compile of a 64-buffer hash aggregate.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sig_kernel(tok_hashes):
        import numpy as np
        import pandas as pd

        arrs = tok_hashes.to_numpy()
        n = len(arrs)
        out = np.zeros(n, dtype=np.uint64)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=n
        )
        shifts = np.arange(bits, dtype=np.uint64)
        # packing weight for bit j: the Column form emits vote_0 at the
        # MSB (key = key<<1 | sign), so bit j lands at position bits-1-j
        weights = np.uint64(1) << (np.uint64(bits - 1) - shifts)
        chunk_tokens = 1 << 20

        def big_row_sig(a, ln):
            # a single document larger than the chunk budget: accumulate
            # per-bit set-counts over slices (sum is associative) so the
            # bit matrix stays <= chunk_tokens x bits regardless of
            # document length
            setcnt = np.zeros(len(shifts), dtype=np.int64)
            for s in range(0, ln, chunk_tokens):
                flat = np.asarray(a[s : s + chunk_tokens], dtype=np.int64).view(
                    np.uint64
                )
                setcnt += ((flat[:, None] >> shifts) & np.uint64(1)).sum(
                    axis=0, dtype=np.int64
                )
            votes = 2 * setcnt - ln
            return ((votes > 0) * weights).sum(dtype=np.uint64)

        i = 0
        while i < n:
            if lens[i] > chunk_tokens:
                out[i] = big_row_sig(arrs[i], int(lens[i]))
                i += 1
                continue
            j, tok = i, 0
            while j < n and lens[j] <= chunk_tokens and (tok == 0 or tok + lens[j] <= chunk_tokens):
                tok += lens[j]
                j += 1
            seg_lens = lens[i:j]
            nz = np.flatnonzero(seg_lens > 0)
            if nz.size:
                flat = np.concatenate(
                    [np.asarray(arrs[i + k], dtype=np.int64) for k in nz]
                ).view(np.uint64)
                bit_mat = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
                offsets = np.zeros(nz.size, dtype=np.int64)
                np.cumsum(seg_lens[nz][:-1], out=offsets[1:])
                setcnt = np.add.reduceat(bit_mat, offsets, axis=0)
                votes = 2 * setcnt - seg_lens[nz][:, None]
                out[i + nz] = ((votes > 0) * weights).sum(axis=1, dtype=np.uint64)
            i = j
        return pd.Series(out.view(np.int64))

    th = token_hash if token_hash is not None else (lambda t: F.xxhash64(t))
    # Docs with NULL text carry no content — EXCLUDE them (conv 22, the
    # zero-norm-embedding discipline).  Without this every NULL-text doc
    # gets the same empty-vote signature and they all pair with each
    # other at hamming 0, while the oracle's unnest path never sees them
    # (observed: 83 vs 17 pairs under the NULL-fuzz perturbation).
    return spread(docs.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col).alias("_id"),
        sig_kernel(F.transform(words(F.col(text_col)), th)).alias("_sig"),
    )


def simhash_signatures_agg(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Explode/agg simhash: token hashes explode → hash-agg with `bits`
    codegen'd ±1-vote sums → sign bits packed into a long.

    Pure-JVM alternative to the Arrow kernel in ``simhash_signatures``
    (bitwise-identical output; kept for environments without Python
    workers and as the parity baseline).  Costs one shuffle of the
    exploded token stream plus a large one-time codegen compile.
    """
    th = token_hash if token_hash is not None else (lambda t: F.xxhash64(t))
    ex = spread(docs).select(
        F.col(id_col).alias("_id"),
        F.explode(F.transform(words(F.col(text_col)), th)).alias("_h"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy("_id").agg(*votes)
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = F.shiftleft(key, 1).bitwiseOR(
            F.when(F.col(f"_v{i}") > 0, 1).otherwise(0).cast("long")
        )
    return agg.select("_id", key.alias("_sig"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    bits: int = 64,
    token_hash=None,
    eager: bool = True,
) -> DataFrame:
    """Hamming-≤d pairs via 4-chunk pigeonhole banding.

    Any two signatures within hamming distance 3 share at least one of
    the 4 (bits/4)-bit chunks exactly (pigeonhole) → bucket-join on
    (chunk_idx, chunk_value), verify with bit_count(xor) — no all-pairs
    scan.  Recall is COMPLETE for d ≤ 3 (a theorem, not a probability),
    so with ``token_hash=portable_token_hash`` the exact pair set is
    SQL-reproducible end-to-end.

    Signatures are persisted before the self-join: both join sides
    consume them, and without the persist Spark re-runs the whole
    scan → tokenize → kernel pipeline per side (same fan-out rule as
    minhash_lsh_pairs).  16 bytes/doc — trivially memory-resident.
    ``eager=True`` (default) materializes the small pair set and
    unpersists the signature base before returning (no cache entry
    outlives the call); ``eager=False`` returns the lazy plan for tests.
    """
    if bits % 4:
        raise ValueError("bits must divide into 4 pigeonhole chunks")
    cw = bits // 4
    base = simhash_signatures(docs, text_col, id_col, bits, token_hash).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    chunks = base.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.shiftrightunsigned(F.col("_sig"), cw * j)
                        .bitwiseAND(F.lit((1 << cw) - 1))
                        .alias("chunk"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("c"),
    ).select("_id", "_sig", F.col("c.j").alias("j"), F.col("c.chunk").alias("chunk"))

    a, b = chunks.alias("a"), chunks.alias("b")
    dist = F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
    out = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


def incremental_ingest(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admission control for appending a new batch to a deduplicated
    corpus: drop intra-batch exact duplicates (keeper = min id per
    content digest, same convention as exact_dedup_groups), then drop
    anything whose digest ALREADY exists in the corpus (anti-join).
    Returns the admitted batch rows with their digest — the incremental
    form of exact dedup that lets a 100 TB corpus grow without ever
    re-deduplicating history.

    Scale shape: both sides reduce to 32-byte digests before any join;
    the anti-join is digest-partitioned (at scale the corpus side is a
    bucketed digest index, making this a zero-shuffle SMJ — see
    sinks/bucketed.py).  Text never shuffles.
    """
    digest = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    admitted = (
        batch.select(digest, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    seen = corpus.select(digest).distinct()
    return admitted.join(seen, "content_hash", "left_anti").select(
        id_col, "content_hash"
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
    eager: bool = False,
) -> DataFrame:
    """cross_corpus_contamination with a Bloom prefilter: the benchmark
    gram-hash set is compacted into an m_bits bitmap (Kirsch-
    Mitzenmacher double hashing off the same xxhash64 gram key), the
    corpus gram stream drops non-members MAP-SIDE (no shuffle for the
    clean ~99%), and only surviving candidate grams reach the exact
    verify join.  Bloom filters have NO false negatives, so the output
    is bit-identical to the exact operator — the bloom is purely a
    shuffle-volume knob, which is why this stays oracle-able.

    When it matters: broadcast of the exact hash SET dies when the
    benchmark has ~10^9 grams (40 GB of 8-byte keys + set overhead); the
    bitmap at the same capacity is m_bits/8 bytes (1-2 GB for 1% FPR) —
    shippable.  The verify join then shuffles only candidate rows
    (true overlaps + ~FPR of the clean stream).

    Build is distributed: each benchmark partition folds its grams into
    a local bitmap (one Arrow pass, ONE bitmap yielded per partition),
    the driver ORs the ≤n_partitions bitmaps (bounded: n_partitions ×
    m_bits/8 bytes — config, not data, sized) and re-ships the result
    inside the filter kernel's closure (convention: stdlib/numpy +
    captured locals only).
    """
    import numpy as np

    m_bytes = m_bits // 8

    def gram_hashes(df: DataFrame) -> DataFrame:
        return (
            spread(df)
            .select(
                F.col(id_col),
                F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_g"),
            )
            .select(id_col, F.xxhash64("_g").alias("_gh"))
        )

    def positions(h_i64: "np.ndarray") -> "np.ndarray":
        # (n, n_hashes) bit positions; h2 forced odd so the probe
        # sequence never cycles early.  All uint64 wraparound math —
        # deterministic everywhere.
        h1 = h_i64.astype(np.uint64)
        h2 = h1 * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
        i = np.arange(n_hashes, dtype=np.uint64)
        return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
            np.int64
        )

    # consumed twice (bitmap build + exact verify) — persist so the
    # benchmark lineage executes once; lifecycle per eager flag below
    bench_hashes = gram_hashes(benchmark).select("_gh").distinct().persist()

    def build(batches):
        import numpy as _np
        import pandas as _pd

        bits = _np.zeros(m_bytes, dtype=_np.uint8)
        seen = False
        for b in batches:
            if len(b) == 0:
                continue
            seen = True
            pos = positions(b["_gh"].to_numpy(dtype=_np.int64))
            _np.bitwise_or.at(bits, pos.ravel() >> 3, _np.uint8(1) << (pos.ravel() & 7).astype(_np.uint8))
        if seen:
            yield _pd.DataFrame({"bitmap": [bits.tobytes()]})

    part_maps = bench_hashes.mapInPandas(build, "bitmap binary").collect()
    bloom = np.zeros(m_bytes, dtype=np.uint8)
    for r in part_maps:
        bloom |= np.frombuffer(r.bitmap, dtype=np.uint8)
    bloom_bytes = bloom.tobytes()

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def maybe_member(gh):
        import numpy as _np

        arr = _np.frombuffer(bloom_bytes, dtype=_np.uint8)
        if len(gh) == 0:
            return gh.astype(bool)
        pos = positions(gh.to_numpy(dtype=_np.int64))
        hit = _np.ones(len(gh), dtype=bool)
        for j in range(n_hashes):
            p = pos[:, j]
            hit &= (arr[p >> 3] >> (p & 7).astype(_np.uint8) & 1).astype(bool)
        import pandas as _pd

        return _pd.Series(hit)

    # NO broadcast hint on the verify join — the bloom exists precisely
    # for the regime where the benchmark hash set is too big to ship;
    # the join shuffles only bloom-surviving candidate grams (AQE will
    # still broadcast by itself while the set is small).
    candidates = gram_hashes(corpus).filter(maybe_member(F.col("_gh")))
    out = (
        candidates.join(bench_hashes, "_gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    if eager:
        out = out.localCheckpoint()
        bench_hashes.unpersist()
    return out


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """Span-level decontamination report: for every corpus doc, the
    maximal CONTIGUOUS runs of token positions whose k-grams appear in
    the benchmark — what a redaction pass needs (cut the leaked span,
    keep the doc) where cross_corpus_contamination only says "how much
    leaked somewhere".

    Emits (id, span_start, span_end, n_grams): gram position p (1-based
    token index of the gram's first token) is contaminated iff the
    corpus k-gram starting at p is in the benchmark's distinct gram
    set; consecutive contaminated positions merge into one span
    (classic gaps-and-islands: group key = p − rank(p), one PER-DOC
    window).

    Scale shape: grams-with-positions come from ``lead()`` windows over
    the posexploded token stream — per-doc partitions, no higher-order
    lambda re-evaluating a token-array tree per element (convention 6b:
    positional shingles via window, not transform-over-range); the
    membership probe is the same hashed inverted-index semi-join as
    cross_corpus_contamination (benchmark side distinct + broadcast
    while it fits); the islands window is per-doc again and reuses the
    same partitioning.
    """
    grams = _positional_grams_from_tok(
        _positional_tok_stream(corpus, text_col, id_col),
        id_col,
        shingle_k,
        F.xxhash64,
    )
    bench = (
        spread(benchmark)
        .select(F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_g"))
        .select(F.xxhash64("_g").alias("_gh"))
        .distinct()
    )
    hits = grams.join(bench, "_gh", "left_semi")
    w = Window.partitionBy(id_col).orderBy("_pos")
    return (
        hits.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("_pos").cast("long").alias("span_start"),
            F.max("_pos").cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


# --- substring-level (suffix-array-style) dedup -----------------------------


def _positional_tok_stream(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, _pos, _tok) — 1-based token positions (posexplode slots, so
    any filtered blank keeps its slot; normalize_text makes mid-doc
    blanks impossible in practice)."""
    return (
        spread(docs)
        .select(
            F.col(id_col),
            F.posexplode(words(F.col(text_col))).alias("_p0", "_tok"),
        )
        .filter(F.col("_tok") != "")
        .withColumn("_pos", (F.col("_p0") + 1).cast("long"))
        .select(id_col, "_pos", "_tok")
    )


def _positional_grams_from_tok(
    tok: DataFrame, id_col: str, k: int, gram_key
) -> DataFrame:
    """(id, _pos, _gh) — the k-gram starting at each token position of a
    ``_positional_tok_stream`` frame, keyed by ``gram_key(gram_string)``.
    ONE shared builder for contamination_spans / substring_dup_spans /
    substring_dedup so the lead()-window machinery (convention 6b:
    positional shingles via window, never transform-over-range) and the
    tail filter can never drift apart between operators."""
    leads = [
        F.lead(F.col("_tok"), i).over(
            Window.partitionBy(id_col).orderBy("_pos")
        )
        for i in range(1, k)
    ]
    return (
        tok.withColumn("_g", F.concat_ws(" ", F.col("_tok"), *leads))
        .filter(F.size(F.split(F.col("_g"), " ")) == k)
        .select(id_col, "_pos", gram_key(F.col("_g")).alias("_gh"))
    )


def gram_digest(g: Column) -> Column:
    """128-bit gram digest (md5, 16 bytes binary) — the digest-equality
    convention exact_dedup already relies on: at 10^13 grams the
    expected collision count is ~n²/2^129 ≈ 10^-13, so digest equality
    IS gram equality at any realistic corpus size.  A 64-bit xxhash at
    the same scale expects millions of colliding pairs — each one a
    silently-deleted non-duplicate window (and an oracle divergence,
    since the oracle groups by the gram STRING)."""
    return F.unhex(F.md5(g))


def substring_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
    eager: bool = False,
) -> DataFrame:
    """Substring-level duplicate detection — the k-gram formulation of
    suffix-array dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", arXiv 2107.06499 §4.1): a token
    position is duplicated iff the ``min_len``-gram starting there
    occurs at ≥2 (doc, pos) locations ANYWHERE in the corpus (cross-doc
    or within-doc — a length-≥min_len substring repeats iff every
    min_len-window inside it repeats).  Consecutive duplicated start
    positions merge into maximal spans (gaps-and-islands).

    Emits (id, span_start, span_end, span_len, n_grams) with start/end
    in 1-based TOKEN positions covering the full repeated substring
    (end = last duplicated gram start + k − 1), so span_len ≥ min_len
    always.

    Where a suffix array finds maximal repeats exactly, the k-gram form
    finds the identical REMOVAL set for threshold k — the property the
    dedup pass actually needs — while staying one groupBy + two per-doc
    windows instead of a global sorted structure.

    Scale shape: gram counts collapse in one hash agg on the 16-byte
    gram digest (md5 — see ``gram_digest``: digest equality IS gram
    equality at corpus scale, unlike 64-bit hashes; map-side combine;
    vocabulary-sized result), the dup-gram set joins back semi (AQE
    broadcasts while it fits — by definition it only holds grams with
    ≥2 occurrences), and the islands window is per-doc.  No global
    sort, no suffix-array construction, nothing driver-side.  The gram
    stream is persisted across its two consumers; ``eager=True``
    materializes the span set and releases it, ``eager=False`` leaves
    the entry to the caller (gate/bench clearCache between queries).

    Reference scope: extends the reference's offer-level dedup (SURVEY
    A6, dags/marketeye_etl_dag.py merge tasks) to substring granularity
    for training-corpus curation.
    """
    grams = _positional_grams_from_tok(
        _positional_tok_stream(docs, text_col, id_col),
        id_col,
        min_len,
        gram_digest,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        grams.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= 2)
        .select("_gh")
    )
    hits = grams.join(dup, "_gh", "left_semi")
    w = Window.partitionBy(id_col).orderBy("_pos")
    out = (
        hits.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("_pos").cast("long").alias("span_start"),
            (F.max("_pos") + F.lit(min_len - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            "n_grams",
        )
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        grams.unpersist()
    return out


def substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
    eager: bool = False,
) -> DataFrame:
    """Substring-level dedup, removal half (Lee et al. 2021 §4.1
    ExactSubstr): every duplicated ``min_len``-token window is removed
    from all occurrences EXCEPT the globally-first one — the occurrence
    with the smallest (doc, pos) per gram is protected, every other
    occurrence's k tokens are dropped, and the survivors reassemble in
    order.  Emits (id, n_tokens, n_removed, cleaned_text) for every
    input doc WITH AT LEAST ONE TOKEN (fully-duplicated docs come back
    with cleaned_text=''; empty/whitespace-only docs emit no row —
    mirrored by the oracle's ``tok <> ''`` filter, convention 7).

    Deterministic by construction: the protect rule is an integer
    argmin, coverage is a per-doc rangeBetween window over dense token
    positions (normalize_text guarantees single-space separation, so
    positions have no gaps), and reassembly is array_sort over
    collected (pos, token) structs — no float, no RNG, engine-portable.

    Scale shape: per-gram stats (count + argmin occurrence) collapse in
    ONE hash agg on the 16-byte gram digest (``gram_digest`` — digest
    equality IS gram equality at corpus scale; a 64-bit hash would
    silently delete non-duplicate windows on collision); the duplicated
    subset joins back (broadcast while it fits); coverage and
    reassembly are per-doc windows/aggs bounded by doc length.  BOTH
    fan-out bases are persisted — the token stream (gram build +
    reassembly) AND the gram stream (stats agg + removal join), so the
    tokenize and the heavier window+digest stages each run once
    (VERDICT r5 #4 / r6 review).
    """
    tok = _positional_tok_stream(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    grams = _positional_grams_from_tok(
        tok, id_col, min_len, gram_digest
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # one agg: occurrence count + globally-first (doc, pos) per gram
    stats = grams.groupBy("_gh").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min(F.struct(F.col(id_col), F.col("_pos"))).alias("_first"),
    )
    # start positions whose window must be removed: duplicated gram,
    # occurrence is not the protected global-first
    removed_starts = (
        grams.join(stats.filter(F.col("_cnt") >= 2), "_gh")
        .filter(
            ~(
                (F.col("_first")[id_col] == F.col(id_col))
                & (F.col("_first._pos") == F.col("_pos"))
            )
        )
        .select(id_col, F.col("_pos").alias("_rp"))
    )
    # token q is covered iff some removed start p ∈ [q−k+1, q]:
    # per-doc rangeBetween window over the dense position axis
    marked = tok.join(
        removed_starts.withColumnRenamed("_rp", "_pos").withColumn(
            "_m", F.lit(1)
        ),
        [id_col, "_pos"],
        "left",
    )
    wcov = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rangeBetween(-(min_len - 1), 0)
    )
    kept = marked.withColumn(
        "_cov", F.max(F.coalesce(F.col("_m"), F.lit(0))).over(wcov)
    )
    out = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("_cov").cast("long").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_cov") == 0,
                            F.struct(F.col("_pos"), F.col("_tok")),
                        )
                    )
                ),
                lambda s: s["_tok"],
            ),
        ).alias("cleaned_text"),
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        grams.unpersist()
        tok.unpersist()
    return out
