"""Deduplication operators for web-scale training-data pipelines.

Five families, each Spark-first:
  * exact          — fingerprint groupBy (one shuffle on a 16-byte key)
  * n-gram Jaccard — shingle explode + shared-shingle self-join (exact measure)
  * MinHash + LSH  — vectorized numpy signatures → band buckets → bucket join
                     → exact-Jaccard verify (the 100 TB near-dup scale path)
  * SimHash        — 64-bit weighted sign-hash + hamming-band join
  * embedding      — cosine over `array<float>` columns (see similarity.py)

Signatures are Arrow-batched pandas UDFs (numpy inside); candidate generation
and verification are plain joins/aggs, so AQE/skew handling applies. No
collect()-side loops anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_analysis import fingerprint
from ..session import local_rows_df

_MERSENNE = (1 << 61) - 1


def _spread(df: DataFrame) -> DataFrame:
    """Ensure heavy pandas-UDF stages get cluster-wide parallelism: a small
    parquet input (one file < maxPartitionBytes) arrives as ONE partition, so
    a mapInPandas signature pass would run on one core. At real scale inputs
    have thousands of partitions and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: (fp, doc_id, canonical_id).

    canonical_id = min id in the group; only groups with >1 member returned.

    Skew-proof shape: a `Window.partitionBy(fp)` would put EVERY row of a
    corpus-wide mega-duplicated fingerprint (10⁸ byte-identical pages) into
    one task.  Instead: two-phase `groupBy(fp).agg(count, min)` — the
    map-side partial agg collapses a hot fp to one row per input partition
    before the exchange — then a join back, which AQE's skew-join can split
    (and broadcasts outright when the >1-member group table is small)."""
    fps = df.select(
        F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    groups = (
        fps.groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )
    return fps.join(groups, "fp").select(
        "fp", "doc_id", "canonical_id", "group_size"
    )


# ---------------------------------------------------------------------------
# word n-gram shingles + exact Jaccard
# ---------------------------------------------------------------------------

def _shingle_starts(toks: Column, n: int) -> Column:
    """0-based shingle start offsets; EMPTY for docs shorter than n tokens.

    `sequence(0, size-n)` alone is wrong for short docs: Spark infers step -1
    when start > stop, yielding [0, -1, ...] and a slice/element_at at
    position 0 — an error, not an empty array. Web corpora have sub-n-token
    docs, so the guard is load-bearing."""
    return F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased word tokens."""
    toks = F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")
    return F.array_distinct(
        F.transform(
            _shingle_starts(toks, n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (a < b): shared-shingle self-join.

    |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Quadratic only within shingle
    groups — correct baseline; MinHash-LSH below is the scale path."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_shingles").alias("size_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_shingles").alias("size_b")), "b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, hs array<long>) — distinct word n-gram shingles hashed to
    64 bits ENTIRELY JVM-side, with NO shingle string ever built: tokens are
    hashed once (`xxhash64` per token), then each shingle hash is `xxhash64`
    over its n token hashes via O(1) `element_at` lookups. The naive
    alternative (hashing `shingles()`'s concat_ws strings) is O(L²) per doc
    from the per-position array slice+concat — measured 8x slower at sf0.1.
    Tokenization is the same expression as the exact-Jaccard verify path, so
    shingle identity matches modulo 64-bit collisions. No Python touches a
    shingle — the round-2 throughput ceiling (per-shingle hashlib loop) is
    gone."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != ""
    )
    # separate projections so toks/th are named intermediates (subexpression
    # elimination keeps them evaluated once per row, not once per element_at)
    th = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks")).select(
        "doc_id",
        F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"),
    )
    return th.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                _shingle_starts(F.col("__th"), n),
                lambda i: F.xxhash64(
                    *[F.element_at("__th", i + j + 1) for j in range(n)]
                ),
            )
        ).alias("hs"),
    )


def _minhash_params(num_hashes: int, seed: int = 0x5EED):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    seed: int = 0x5EED,
) -> DataFrame:
    """(doc_id, sig array<long>) — MinHash over word n-gram shingles.

    Shingling + base hashing run JVM-side (:func:`_hashed_shingles`); the
    Arrow UDF does ONLY the (H × ΣS) universal-hash min-reduce in numpy —
    fully batched across docs via ``np.minimum.reduceat`` over the flat
    Arrow child array (the permutation family is
    h_i(x) = (a_i·x + b_i) mod 2^61−1), chunked so the (H × chunk)
    intermediate stays ~32 MB regardless of batch shape. Docs with zero
    shingles (shorter than n tokens) are dropped in the kernel — they have
    no MinHash."""
    return _signatures_from_hashed(
        _hashed_shingles(df, id_col, text_col, n), num_hashes, seed
    )


def _signatures_from_hashed(
    hs_df: DataFrame,
    num_hashes: int = 128,
    seed: int = 0x5EED,
    keep_shingles: bool = False,
) -> DataFrame:
    """MinHash signatures from a (doc_id, hs array<long>) shingle-hash frame.

    Factored out of :func:`minhash_signatures` so the full dedup pipeline can
    compute the shingle-hash frame ONCE and reuse it for verification.
    ``keep_shingles`` passes the hs column through the same Arrow batch —
    (doc_id, hs, sig) with NO join — for the persistable index artifact."""
    a, b = _minhash_params(num_hashes, seed)
    chunk_shingles = max(1, (1 << 22) // num_hashes)  # H×chunk ≈ 32 MB u64

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(batch.schema.get_field_index("hs"))
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            raw_offsets = np.asarray(col.offsets, dtype=np.int64)
            base_off = raw_offsets[0]
            offsets = raw_offsets - base_off
            flat = (
                np.asarray(col.values.slice(base_off, offsets[-1]))
                .astype(np.uint64)
                % _MERSENNE
            )
            n_docs = batch.num_rows
            sigs = np.empty((n_docs, num_hashes), dtype=np.int64)
            lengths = np.diff(offsets)
            # chunk docs so the (H, total_shingles) intermediate is bounded
            start_doc = 0
            while start_doc < n_docs:
                end_doc = start_doc
                tot = 0
                while end_doc < n_docs and (
                    tot == 0 or tot + lengths[end_doc] <= chunk_shingles
                ):
                    tot += lengths[end_doc]
                    end_doc += 1
                lo, hi = offsets[start_doc], offsets[end_doc]
                seg = flat[lo:hi]
                if len(seg):
                    hashed = (a[:, None] * seg[None, :] + b[:, None]) % _MERSENNE
                    # empty docs repeat / overrun the next cut — clip to stay
                    # in bounds; their (garbage) rows are filtered out below
                    cuts = np.minimum(
                        (offsets[start_doc:end_doc] - lo).astype(np.intp),
                        len(seg) - 1,
                    )
                    sigs[start_doc:end_doc] = np.minimum.reduceat(
                        hashed, cuts, axis=1
                    ).T.astype(np.int64)
                start_doc = end_doc
            docid_arr = batch.column(batch.schema.get_field_index("doc_id"))
            # docs with ZERO shingles (shorter than n tokens) are dropped
            # HERE, below any Catalyst pushdown: a DataFrame-level
            # filter(size(hs) > 0) gets pushed beneath the hs projection and
            # re-evaluates the whole shingle-hash transform per row
            # (measured 3-4x wall on the sf0.1 dedup bench). They cannot
            # participate in MinHash anyway — and left in, their identical
            # empty signatures collide in every LSH band and 0/0 in the
            # exact-Jaccard verify.
            if (lengths == 0).any():
                mask = pa.array(lengths > 0)
                docid_arr = docid_arr.filter(mask)
                col = col.filter(mask)
                sigs = sigs[lengths > 0]
                n_docs = len(sigs)
                if n_docs == 0:
                    continue
            sig_off = np.arange(n_docs + 1, dtype=np.int32) * num_hashes
            sig_arr = pa.ListArray.from_arrays(
                pa.array(sig_off), pa.array(sigs.reshape(-1))
            )
            if keep_shingles:
                yield pa.RecordBatch.from_arrays(
                    [docid_arr, col, sig_arr], names=["doc_id", "hs", "sig"]
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [docid_arr, sig_arr], names=["doc_id", "sig"]
                )

    # the id column passes through the Arrow batch untouched, so the output
    # schema follows the INPUT id type — webtext corpora key on url strings,
    # test fixtures on longs; hardcoding long broke the former with an
    # ArrowColumnVector accessor error at the first batch
    id_type = hs_df.schema["doc_id"].dataType.simpleString()
    schema = (
        f"doc_id {id_type}, hs array<long>, sig array<long>"
        if keep_shingles
        else f"doc_id {id_type}, sig array<long>"
    )
    return _spread(hs_df).mapInArrow(gen, schema=schema)


def _banded(signatures: DataFrame, num_bands: int) -> DataFrame:
    """(doc_id, band, bucket): num_bands rows per doc, bucket = hash of the
    band's signature slice. The shared banding of the self-join (within one
    corpus) and the between-join (new batch vs existing corpus) paths."""
    sig_len = F.size(F.col("sig"))
    r = (sig_len / num_bands).cast("int")
    return signatures.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda band: F.struct(
                    band.alias("band"),
                    F.hash(F.slice(F.col("sig"), band * r + 1, r)).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame, num_bands: int = 16
) -> DataFrame:
    """Band the signatures and self-join on (band, band-hash) → candidate pairs.

    Rows per doc = num_bands (tiny); the join key is the hashed band slice, so
    head buckets are data-identical docs — exactly what we want colliding."""
    banded = _banded(signatures, num_bands)
    a = banded.select(F.col("doc_id").alias("a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    num_bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline with exact-Jaccard verification.

    Candidates are materialized (they are tiny relative to the corpus — LSH's
    whole point), then verified PAIR-LOCALLY: the per-doc distinct hashed
    shingle arrays (the same frame the signatures are minhashed from) are
    joined onto each (a, b) pair and the true Jaccard computed with
    ``array_intersect`` — no shingle explode, no shared-shingle shuffle.
    The exact-Jaccard value is identical to the string-shingle measure of
    :func:`ngram_jaccard_pairs` modulo 64-bit hash collisions (pinned by
    tests/test_gate_approx.py). Verification cost scales with the candidate
    set, not the corpus: two joins keyed on the candidate pair ids."""
    # sub-n-token docs have ZERO shingles and are dropped INSIDE the
    # signature kernel (cheap there; a filter(size(hs)>0) here gets pushed
    # below the projection and re-evaluates the shingle transform — measured
    # 3-4x wall at sf0.1). Their hs rows below never join: they can't be
    # candidates without a signature.
    hs = _hashed_shingles(df, id_col, text_col, n)
    sigs = _signatures_from_hashed(hs, num_hashes)
    candidates = lsh_candidate_pairs(sigs, num_bands).persist()
    candidates.count()  # materialize once; small

    cand_docs = (
        candidates.select(F.col("a").alias("doc_id"))
        .union(candidates.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    # recompute the shingle arrays for candidate docs only (one extra scan —
    # cheaper and more scale-safe than persisting the corpus-wide frame)
    cand_hs = hs.join(cand_docs, "doc_id", "left_semi")
    a_hs = cand_hs.select(F.col("doc_id").alias("a"), F.col("hs").alias("hs_a"))
    b_hs = cand_hs.select(F.col("doc_id").alias("b"), F.col("hs").alias("hs_b"))
    # candidates is persisted: AQE sees its true (small) size and broadcasts;
    # no explicit broadcast hint — at extreme scale the candidate set may
    # legitimately exceed broadcast limits and must shuffle
    return (
        candidates.join(a_hs, "a")
        .join(b_hs, "b")
        .withColumn("shared", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.size("hs_a") + F.size("hs_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    seed: int = 0x5EED,
) -> DataFrame:
    """(doc_id, hs, sig) — the PERSISTABLE near-dup index artifact.

    The 100 TB shape for dedup is incremental: the standing corpus's
    shingle-hash sets and MinHash signatures are computed once, written as a
    table, and every new crawl batch is checked AGAINST them
    (:func:`minhash_pairs_between`) instead of re-pairing the whole corpus.
    hs and sig come out of ONE Arrow pass (``keep_shingles``) — no join.
    Docs with zero shingles (shorter than n tokens) are excluded (in the
    signature kernel), matching :func:`minhash_dedup_pairs`. Both sides of a
    between-join must be built with the same (n, num_hashes, seed)."""
    hs = _hashed_shingles(df, id_col, text_col, n)
    return _signatures_from_hashed(hs, num_hashes, seed, keep_shingles=True)


def minhash_pairs_between(
    new_index: DataFrame,
    corpus_index: DataFrame,
    num_bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """(new_id, corpus_id, jaccard): near-dup pairs of a NEW batch against an
    EXISTING corpus, both as :func:`minhash_index` frames.

    Same LSH family as the self-join path (shared banding), but the
    band-bucket join is new×corpus instead of corpus×corpus: candidate
    generation costs O(|new| · bands) probe rows against the corpus's banded
    table — at scale that table is precomputed and bucketed on
    (band, bucket), so a daily batch joins without reshuffling the corpus.
    No a<b dedup (the sides are distinct namespaces); a doc present in BOTH
    frames under the same id pairs with itself at jaccard 1, which is the
    honest answer for a re-crawl. Verification is pair-local exact Jaccard
    over the stored shingle sets, identical to :func:`minhash_dedup_pairs`."""
    na = _banded(new_index.select("doc_id", "sig"), num_bands).select(
        F.col("doc_id").alias("new_id"), "band", "bucket"
    )
    cb = _banded(corpus_index.select("doc_id", "sig"), num_bands).select(
        F.col("doc_id").alias("corpus_id"), "band", "bucket"
    )
    candidates = na.join(cb, ["band", "bucket"]).select(
        "new_id", "corpus_id"
    ).distinct().persist()
    candidates.count()  # materialize once; small (LSH's whole point)
    a_hs = new_index.select(
        F.col("doc_id").alias("new_id"), F.col("hs").alias("hs_a")
    )
    b_hs = corpus_index.select(
        F.col("doc_id").alias("corpus_id"), F.col("hs").alias("hs_b")
    )
    return (
        candidates.join(a_hs, "new_id")
        .join(b_hs, "corpus_id")
        .withColumn("shared", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.size("hs_a") + F.size("hs_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def drop_near_duplicates_against(
    new_df: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    num_bands: int = 16,
    threshold: float = 0.8,
    seed: int = 0x5EED,
) -> DataFrame:
    """The incremental-curation primitive: rows of ``new_df`` that are NOT a
    near-dup of anything already in the corpus. One anti-join on the pair
    set; the corpus is only ever touched through its persisted index."""
    new_index = minhash_index(new_df, id_col, text_col, n, num_hashes, seed)
    pairs = minhash_pairs_between(new_index, corpus_index, num_bands, threshold)
    dup_ids = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(dup_ids, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """(doc_id, simhash long) — 64-bit TF-weighted sign hash of word tokens.

    ``token_hash`` (Column → Column) overrides the per-token hash function;
    the default is `xxhash64` (fastest JVM-side choice). The driver gate
    injects a 60-bit md5-prefix hash instead because DuckDB can compute md5
    identically, making the WHOLE simhash pipeline — signature kernel,
    banding, hamming verify — value-checkable cross-engine; the sign-sum
    kernel below is hash-agnostic.

    Tokenizing + hashing run JVM-side (`xxhash64` over the token array, with
    repeats); Python does only numpy bit math, fully BATCHED across docs:
    the TF weighting is implicit — summing ±1 per token OCCURRENCE equals
    summing count-weighted ±1 per unique token — so the whole Arrow batch is
    one (tokens × 64) int8 sign matrix segment-reduced per doc with
    ``np.add.reduceat`` (same shape as the MinHash kernel; no per-doc Python
    loop, the round-3 residual). Chunked so the sign matrix stays ~64 MB
    regardless of batch shape."""
    if token_hash is None:
        # wrapped: F.transform rejects variadic builtins as lambdas
        def token_hash(t):
            return F.xxhash64(t)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != ""
    )
    hashed_toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, token_hash).alias("hs"),
    )

    def gen(batches):
        import pyarrow as pa

        bit_cols = np.arange(64, dtype=np.uint64)
        pow2 = (np.uint64(1) << bit_cols).astype(np.uint64)
        chunk_tokens = 1 << 20  # 64 MB int8 sign-matrix bound
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(batch.schema.get_field_index("hs"))
            raw_offsets = np.asarray(col.offsets, dtype=np.int64)
            base_off = raw_offsets[0]
            offsets = raw_offsets - base_off
            flat = np.asarray(col.values.slice(base_off, offsets[-1])).astype(
                np.uint64
            )
            n_docs = batch.num_rows
            lengths = np.diff(offsets)
            out = np.zeros(n_docs, dtype=np.int64)
            start_doc = 0
            while start_doc < n_docs:
                end_doc = start_doc
                tot = 0
                while end_doc < n_docs and (
                    tot == 0 or tot + lengths[end_doc] <= chunk_tokens
                ):
                    tot += lengths[end_doc]
                    end_doc += 1
                lo, hi = offsets[start_doc], offsets[end_doc]
                seg = flat[lo:hi]
                if len(seg):
                    # +1 where bit set, -1 where clear, per token occurrence
                    signed = (
                        ((seg[:, None] >> bit_cols[None, :]) & np.uint64(1))
                        .astype(np.int8)
                        * np.int8(2)
                        - np.int8(1)
                    )
                    # empty docs repeat / overrun the next cut — clip to stay
                    # in bounds; their (garbage) rows are zeroed below
                    cuts = np.minimum(
                        (offsets[start_doc:end_doc] - lo).astype(np.intp),
                        len(seg) - 1,
                    )
                    acc = np.add.reduceat(signed, cuts, axis=0, dtype=np.int64)
                    out[start_doc:end_doc] = (
                        ((acc > 0) * pow2[None, :])
                        .sum(axis=1, dtype=np.uint64)
                        .astype(np.int64)
                    )
                start_doc = end_doc
            out[lengths == 0] = 0
            docid_arr = batch.column(batch.schema.get_field_index("doc_id"))
            yield pa.RecordBatch.from_arrays(
                [docid_arr, pa.array(out)], names=["doc_id", "simhash"]
            )

    # like the MinHash kernel: the id rides the batch untouched, so the
    # schema follows the input id type (url-string corpora included)
    id_type = hashed_toks.schema["doc_id"].dataType.simpleString()
    return _spread(hashed_toks).mapInArrow(
        gen, schema=f"doc_id {id_type}, simhash long"
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Scale path: block on 4 × 16-bit bands (pigeonhole — any pair within
    hamming ≤ 3 shares at least one exact band), then verify with bit_count.
    At ``max_hamming`` ≤ 3 the banding is COMPLETE (output equals the
    brute-force pair set); above 3 it is a high-recall approximation."""
    sigs = simhash_signatures(df, id_col, text_col, token_hash)
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    a = bands.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "band", "key")
    b = bands.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components + canonical selection)
# ---------------------------------------------------------------------------

# near-dup pair graphs are tiny relative to the corpus (LSH emits pairs,
# not docs); below this many edges the components fixpoint runs as a driver
# union-find — one Spark job to fetch the edges instead of ~6 rounds × 3
# jobs of distributed fixpoint whose per-round scheduling overhead dwarfs
# the work. ~32 MB of driver memory at the bound.
DRIVER_CC_BUDGET_EDGES = 1_000_000


def _driver_components(edges: list) -> dict[int, int]:
    """Union-find with min-root attachment: root of every set is its minimum
    member (both roots are their sets' minima, so min(ru, rv) stays the
    minimum of the union), giving the same min-reachable-label semantics as
    the distributed fixpoint. Path compression keeps it near-linear."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    seen = set()
    for u, v in edges:
        seen.add(u)
        seen.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {n: find(n) for n in seen}


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 50,
    driver_budget_edges: int = DRIVER_CC_BUDGET_EDGES,
) -> DataFrame:
    """Connected components over an undirected pair set: (node, component).

    ``component`` is the MINIMUM node id reachable from ``node`` — the
    deterministic cluster label every dedup policy downstream keys on.
    ``nodes`` optionally supplies the full universe (isolated nodes become
    singleton components); default universe = nodes appearing in ``pairs``.

    Two physical strategies behind one contract:

    * **≤ driver_budget_edges** (checked with one ``limit(budget+1)`` job —
      never a full count): the edge list is collected and resolved with a
      driver union-find, then broadcast-joined back onto the universe. The
      UNIVERSE is never collected — only edges, which LSH keeps small even
      when the corpus is 100 TB. Set ``driver_budget_edges=0`` to force the
      distributed path.
    * **above budget**: the distributed log-round fixpoint below.

    Algorithm (distributed path): iterated min-label propagation WITH
    pointer jumping —
    each round sets ``label(u) = min(label(u), min over neighbors v of
    label(v))`` and then compresses ``label(u) = label(label(u))``. The
    pointer-jumping step is what turns the O(diameter) naive propagation
    into the O(log n)-round regime of the alternating-star MapReduce
    algorithms (Kiveris et al. 2014): a length-2^k label chain collapses in
    k rounds. Each round is two shuffles (one edge join, one label
    self-join) plus one scalar convergence agg, with a localCheckpoint to
    cut lineage — the same driver-loop shape as the PageRank fixpoint
    (pagerank.py). Invariant: labels only decrease and always name a
    reachable node, so the fixpoint (no label changed) is exactly the
    per-component minimum.

    At 100 TB the per-round cost is bounded by |E| + |V| shuffle rows with
    AQE handling skewed mega-clusters; near-dup graphs converge in 2-4
    rounds because dup clusters are low-diameter."""
    raw = pairs.select(
        F.col(a_col).cast("long").alias("u"), F.col(b_col).cast("long").alias("v")
    )
    if driver_budget_edges:
        head = raw.limit(driver_budget_edges + 1).collect()
        if len(head) <= driver_budget_edges:
            spark = pairs.sparkSession
            mapping = _driver_components([(r["u"], r["v"]) for r in head])
            comp = local_rows_df(
                spark, list(mapping.items()), "node long, component long"
            )
            if nodes is None:
                return comp
            universe = nodes.select(
                F.col(nodes.columns[0]).cast("long").alias("node")
            )
            return universe.join(F.broadcast(comp), "node", "left").select(
                "node", F.coalesce("component", "node").alias("component")
            )

    sym = raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges = sym.distinct().localCheckpoint()

    labels = edges.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    if nodes is not None:
        universe = nodes.select(F.col(nodes.columns[0]).cast("long").alias("node"))
        labels = (
            universe.join(labels, "node", "left")
            .select("node", F.coalesce("label", "node").alias("label"))
        )
    labels = labels.localCheckpoint()

    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = (
            labels.join(nbr_min, labels["node"] == nbr_min["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: label(u) <- label(label(u)) (always <= label(u)
        # because labels are min-monotone and label(x) <= x)
        lref = prop.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        jumped = (
            prop.withColumnRenamed("label", "__label")
            .join(lref, F.col("__label") == lref["l_node"], "left")
            .select(
                "node", F.coalesce("l_label", F.col("__label")).alias("label")
            )
        )
        new_labels = jumped.localCheckpoint()
        # labels are min-monotone, so "changed" is exactly label < old label
        changed = (
            new_labels.join(
                labels.select(
                    F.col("node").alias("o_node"), F.col("label").alias("o_label")
                ),
                new_labels["node"] == F.col("o_node"),
            )
            .filter(F.col("label") < F.col("o_label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Resolve near-dup PAIRS into per-doc cluster decisions:
    (doc_id, component, cluster_size, is_canonical).

    component = min doc_id reachable through the pair graph (singleton docs
    are their own component); canonical = the component's minimum id — the
    deterministic keep-one-per-cluster policy. One components fixpoint +
    one window over component; the corpus-curation step every
    training-data pipeline runs after candidate generation."""
    comp = connected_components(
        pairs, nodes=df.select(id_col), a_col=a_col, b_col=b_col
    )
    w = Window.partitionBy("component")
    return (
        df.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(comp, F.col("doc_id") == comp["node"])
        .select("doc_id", "component")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", (F.col("doc_id") == F.col("component")))
    )


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """The curated corpus: every column of ``df``, keeping exactly one doc
    (the minimum id) per near-dup cluster. Anti-join shape: only
    non-canonical ids shuffle."""
    losers = dedup_clusters(df, pairs, id_col, a_col, b_col).filter(
        ~F.col("is_canonical")
    )
    return df.join(
        losers.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


# ---------------------------------------------------------------------------
# exact substring-span dedup (duplicated k-token windows)
# ---------------------------------------------------------------------------

def _ws_positions_tokens(text: Column) -> Column:
    """Whitespace tokens for span dedup — case-sensitive, position-faithful.

    Unlike the shingle tokenizer above (lowercased, alphanumeric-only),
    span removal must map window positions back onto the document and
    re-emit the SURVIVING tokens, so the token stream is the document:
    split on runs of whitespace, nothing normalized away. Reconstruction
    joins with a single space (whitespace runs are not preserved — the
    same normalization every training-data pipeline applies)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Merged per-doc spans of k-token windows whose content occurs ≥2
    times in the corpus, EXCLUDING each window-content's first occurrence
    (min (doc_id, start)) — the removal set of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): boilerplate paragraphs, syndicated passages and
    licence blocks duplicated across pages, kept once corpus-wide.

    Returns (doc_id, span_start, span_end, n_windows): token positions,
    0-based, span_end INCLUSIVE; overlapping or adjacent duplicated
    windows (next start ≤ prev start + k) merge into one span.

    Spark-first plan — 3 exchanges (two on token-count-sized whash rows,
    one on doc_id rows), no Python anywhere:
      1. window instances: per-token `xxhash64`, then each window's hash
         is `xxhash64` over its k token hashes via O(1) `element_at`
         (same O(L·k) trick as `_hashed_shingles` — no O(L²) slice+concat,
         no window string ever built);
      2. per-hash occurrence stats via `groupBy(whash).agg(count,
         min(struct))` + join back — NOT a `Window.partitionBy(whash)`:
         a corpus-wide boilerplate window (a licence block on 10⁸ pages)
         would land every instance in one window task, while the groupBy's
         map-side partial agg collapses it to one row per input partition
         and AQE can skew-split / broadcast the (rare, dup-only) join back;
      3. island merge via ONE window over (doc_id, start): lag + running
         sum, then `groupBy(doc_id, island)`, which reuses the doc_id
         exchange for the partial agg.

    The paper's suffix-array formulation is inherently sequential; the
    rolling k-token window is the standard distributed equivalent (equal
    recall for duplicated runs ≥ k tokens, none below k — pick k = the
    shortest run worth deleting). 64-bit hash collisions can merge two
    distinct window contents (~2⁻⁶⁴ per pair): acceptable and documented
    at corpus scale, and the exact-content SQL oracle agreeing at gate
    scale shows the fixture set is collision-free.
    """
    toks = _ws_positions_tokens(F.col(text_col))
    th = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks")).select(
        "doc_id",
        F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"),
    )
    wins = th.select(
        "doc_id",
        F.posexplode(
            F.transform(
                _shingle_starts(F.col("__th"), k),
                lambda i: F.xxhash64(
                    *[F.element_at("__th", i + j + 1) for j in range(k)]
                ),
            )
        ).alias("start", "whash"),
    )
    hash_stats = (
        wins.groupBy("whash")
        .agg(
            F.count(F.lit(1)).alias("n_inst"),
            F.min(F.struct("doc_id", "start")).alias("first"),
        )
        .filter(F.col("n_inst") > 1)
    )
    dup = (
        wins.join(hash_stats, "whash")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("start") == F.col("first.start"))
            )
        )
        .select("doc_id", "start")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("start")
    return (
        dup.withColumn(
            "brk",
            F.when(
                F.col("start") <= F.lag("start").over(by_pos) + k, 0
            ).otherwise(1),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                by_pos.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Rewrite each document with its duplicated spans deleted: every
    token position covered by a :func:`duplicate_spans` span is dropped,
    survivors re-joined with single spaces. One row per INPUT document
    (span-free docs pass through with 0 removed).

    Output: all columns of ``df`` with ``text_col`` replaced by the
    cleaned text, plus ``n_tokens_removed``.

    Plan: spans aggregate per doc into a (usually tiny — only documents
    that contain duplicated passages) array side, LEFT-joined back; the
    position filter is a JVM higher-order `filter((tok, i) -> ...)` with
    an `exists` probe over the doc's span array — no explode of the
    corpus tokens, no Python."""
    spans = (
        duplicate_spans(df, id_col, text_col, k)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias(
                "__spans"
            ),
            F.sum(
                F.col("span_end") - F.col("span_start") + 1
            ).alias("__n_removed"),
        )
        .withColumnRenamed("doc_id", id_col)
    )
    toks = _ws_positions_tokens(F.col(text_col))
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    cleaned = F.when(
        F.col("__spans").isNull(), F.col(text_col)
    ).otherwise(
        F.concat_ws(" ", F.filter(toks, lambda t, i: ~covered(i)))
    )
    return (
        df.join(spans, id_col, "left")
        .withColumn(text_col, cleaned)
        .withColumn(
            "n_tokens_removed", F.coalesce(F.col("__n_removed"), F.lit(0))
        )
        .drop("__spans", "__n_removed")
    )
