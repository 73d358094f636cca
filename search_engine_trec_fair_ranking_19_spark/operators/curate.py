"""Corpus curation: the end-to-end keep/drop pipeline a training-data run
executes after raw ingestion — language filter, quality floor, exact
dedup, near-dup cluster resolution — composed into ONE decision frame.

Stage order (and therefore drop-reason precedence) is the cheap-first
order a 100 TB pipeline wants: closed-form JVM expressions (lang_id,
quality_score, fingerprint) prune the corpus before any pairwise work, so
the near-dup stage — the only super-linear one — sees only survivors.
Canonical selection at both dedup stages is deterministic (minimum
surviving doc_id), so the curated corpus is reproducible across cluster
sizes and retries.

Everything except the connected-components fixpoint (dedup.py) is a
single projection + one window over the fingerprint column; the near-dup
pair restriction is two semi-joins. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text_analysis as ta
from .dedup import connected_components, ngram_jaccard_pairs

DEFAULT_LANGS = ("en",)


def curation_decisions(
    df: DataFrame,
    pairs: DataFrame | None = None,
    langs: tuple[str, ...] = DEFAULT_LANGS,
    min_quality: float = 0.35,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    near_dup_threshold: float = 0.8,
) -> DataFrame:
    """One row per input doc: (doc_id, lang, quality, drop_reason, keep).

    ``drop_reason`` is the FIRST failing stage in pipeline order —
    'lang' → 'quality' → 'exact_dup' → 'near_dup' — or null for kept docs;
    ``keep`` = drop_reason is null. Dedup stages only consider docs that
    survived every earlier stage: a near-dup cluster's canonical is the
    minimum id among *survivors*, never a doc that was already dropped for
    language or quality (keeping it would silently resurrect filtered
    content as the cluster representative).

    ``pairs`` optionally supplies precomputed near-dup candidate pairs
    (a, b) — at 100 TB that is the MinHash-LSH pair set
    (dedup.minhash_dedup_pairs); pairs touching non-survivors are
    restricted away with two semi-joins. Default (None) computes exact
    n-gram Jaccard pairs over the survivors, the right default at test
    scale and the documented exact baseline otherwise."""
    sid = F.col(id_col).cast("long")
    base = df.select(
        sid.alias("doc_id"),
        ta.lang_id(F.col(text_col)).alias("lang"),
        ta.quality_score(F.col(text_col)).alias("quality"),
        ta.fingerprint(F.col(text_col)).alias("fp"),
    )
    base = base.withColumn("__pass_lang", F.col("lang").isin(*langs)).withColumn(
        "__pass_q", F.col("quality") >= F.lit(float(min_quality))
    )
    surv12 = F.col("__pass_lang") & F.col("__pass_q")
    # exact-dup canonical among stage-1/2 survivors: one window on fp
    base = base.withColumn(
        "__fp_canon",
        F.min(F.when(surv12, F.col("doc_id"))).over(Window.partitionBy("fp")),
    )
    exact_loser = surv12 & (F.col("doc_id") != F.col("__fp_canon"))

    surv3_ids = base.filter(surv12 & ~exact_loser).select("doc_id")
    if pairs is None:
        surv_docs = df.select(sid.alias("doc_id"), F.col(text_col).alias("text")).join(
            surv3_ids, "doc_id", "left_semi"
        )
        pairs = ngram_jaccard_pairs(
            surv_docs, n=shingle_n, threshold=near_dup_threshold
        )
    else:
        pairs = (
            pairs.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
            .join(surv3_ids.select(F.col("doc_id").alias("a")), "a", "left_semi")
            .join(surv3_ids.select(F.col("doc_id").alias("b")), "b", "left_semi")
        )
    comp = connected_components(pairs, nodes=surv3_ids).select(
        F.col("node"), F.col("component")
    )

    decided = base.join(comp, base["doc_id"] == comp["node"], "left")
    near_loser = F.col("component").isNotNull() & (
        F.col("component") != F.col("doc_id")
    )
    drop_reason = (
        F.when(~F.col("__pass_lang"), F.lit("lang"))
        .when(~F.col("__pass_q"), F.lit("quality"))
        .when(exact_loser, F.lit("exact_dup"))
        .when(near_loser, F.lit("near_dup"))
    )
    return decided.select(
        "doc_id",
        "lang",
        "quality",
        drop_reason.alias("drop_reason"),
        drop_reason.isNull().alias("keep"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Keep at most ``n`` rows per group, best-``order_col``-first with a
    deterministic ``id_col`` tie-break — the domain-diversity cap ("at most
    N pages per host", "N docs per source") every web-corpus mix applies so
    head domains cannot dominate the training set.

    Selection is a pure function of the data: ordering is
    (order_col, id_col), so two engines and two cluster sizes keep the
    identical rows. Order on a ROUNDED score if the score is a recomputed
    float — then near-ties resolve through the id on every engine instead
    of through 1-ulp noise.

    Scale shape: ``row_number() <= n`` over a partitioned window is
    rewritten by Spark into WindowGroupLimit — each input partition keeps
    only its local top-n per group BEFORE the exchange, so a 100M-page
    host ships n rows per upstream partition, not 100M, and the post-
    shuffle sort is over the pruned remainder (plan-pinned in
    test_plan_quality). One shuffle on the group key, no joins."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def curate_corpus(df: DataFrame, id_col: str = "doc_id", **kwargs) -> DataFrame:
    """The curated corpus itself: every column of ``df``, rows where the
    decision frame says keep. Semi-join shape — only ids shuffle."""
    keep_ids = curation_decisions(df, id_col=id_col, **kwargs).filter(
        F.col("keep")
    ).select(F.col("doc_id").alias(id_col))
    return df.join(keep_ids, id_col, "left_semi")


def prepare_training_set(
    df: DataFrame,
    cap_per_source: int | None = None,
    split_weights: "dict[str, float] | None" = None,
    max_len: int = 512,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    eval_df: DataFrame | None = None,
    decontaminate_n: int = 13,
    eval_text_col: str = "text",
    redact: bool = False,
    clean_lines: bool = False,
    boilerplate_min_docs: int | None = None,
    dedup_spans_k: int | None = None,
    **curate_kwargs,
) -> DataFrame:
    """The whole raw-crawl → training-chunks pipeline as one frame:
    benchmark decontamination (when ``eval_df`` is given: docs sharing
    any ``decontaminate_n``-gram with the eval set are dropped) →
    curation (lang → quality → exact dedup → near-dup CC) → PII
    redaction (when ``redact``) → per-source diversity cap → DOC-LEVEL
    train/val split → context-length chunking. Output: one row per
    training chunk — ``(doc_id, source, split, chunk_id, n_tokens,
    chunk)``.

    Line-level cleanup is opt-in and runs between decontamination and
    curation — AFTER decontamination (the contamination contract is
    against raw text; removing lines first could split a shared n-gram)
    and BEFORE the quality/dedup signals (so they score the text that
    will actually be trained on): ``clean_lines`` applies the map-only
    intra-document `ta.dedup_lines`, ``boilerplate_min_docs`` applies the
    corpus-frequency `remove_boilerplate_lines` (one extra doc_id join to
    swap the cleaned text in). ``dedup_spans_k`` opts in substring-span
    dedup (`dedup.remove_duplicate_spans`) at the same point in the
    order, after line cleanup: duplicated k-token runs are deleted
    corpus-wide (first occurrence kept) before any signal scores the
    text.

    Decontamination runs FIRST, on the raw corpus: one extra map pass
    (shingle-hash + broadcast probe) over raw rows, instead of feeding
    the full curation lineage to both sides of an anti join — which
    Spark would evaluate twice, there being no cross-join-side subplan
    sharing. Contaminated pages therefore never occupy a capped slot,
    and exact dups of a contaminated page cannot be resurrected as
    canonicals (identical text ⇒ identical shingles ⇒ also dropped).
    Redaction runs before chunking so placeholder tokens count toward
    chunk geometry exactly like the text they replaced.

    The split is assigned to the DOCUMENT, before chunking: overlapping
    chunks of one page are near-duplicates of each other by construction,
    so chunk-level splitting would leak every val doc into train. Chunks
    inherit the doc's split through the generator (a projection — the
    split column rides `chunk_tokens`'s carry_cols, no join back on id).

    Everything downstream of the curation decision is deterministic in the
    engine-independent sense: the cap orders on the 6-dp-ROUNDED quality
    with id tie-break, the split is the md5-bucket function, chunk
    geometry is positional — rerunning at any cluster size yields the
    identical chunk multiset (pinned in tests/test_curate.py; the full
    composition has a DuckDB twin, gate `training_chunks`)."""
    from ..functions.chunking import chunk_tokens
    from ..functions.sampling import deterministic_split

    if eval_df is not None:
        from .decontaminate import decontaminate

        df = decontaminate(
            df,
            eval_df,
            n=decontaminate_n,
            id_col=id_col,
            text_col=text_col,
            eval_text_col=eval_text_col,
        )
    if clean_lines:
        df = df.withColumn(text_col, ta.dedup_lines(F.col(text_col)))
    if boilerplate_min_docs is not None:
        cleaned = remove_boilerplate_lines(
            df, min_docs=boilerplate_min_docs, id_col=id_col,
            text_col=text_col,
        ).select(id_col, F.col("clean_text").alias(text_col))
        df = df.drop(text_col).join(cleaned, id_col)
    if dedup_spans_k is not None:
        # substring-span dedup sits with the other text rewrites: after
        # decontamination (raw-text contract) and line cleanup (spans
        # should be found in the text that line cleanup left standing),
        # before the quality/dedup signals score the final text
        from .dedup import remove_duplicate_spans

        df = remove_duplicate_spans(
            df, id_col=id_col, text_col=text_col, k=dedup_spans_k
        ).drop("n_tokens_removed")
    sid = F.col(id_col).cast("long")
    decisions = curation_decisions(
        df, id_col=id_col, text_col=text_col, **curate_kwargs
    )
    kept = decisions.filter(F.col("keep")).select(
        "doc_id", F.round(F.col("quality"), 6).alias("__q")
    )
    base = df.select(
        sid.alias("doc_id"), F.col(source_col), F.col(text_col).alias("text")
    ).join(kept, "doc_id")
    if redact:
        from ..functions.redact import redact_pii

        base = base.withColumn("text", redact_pii(F.col("text")))
    if cap_per_source is not None:
        base = cap_per_group(base, source_col, cap_per_source, "__q")
    base = deterministic_split(
        base, split_weights or {"train": 0.9, "val": 0.1}
    )
    return chunk_tokens(
        base.drop("__q"),
        max_len=max_len,
        overlap=overlap,
        carry_cols=(source_col, "split"),
    )


def write_training_set(chunks: DataFrame, out_dir: str) -> None:
    """Materialize the training set partitioned by split: downstream
    trainers read ``out_dir/split=train`` without touching val bytes
    (partition-pruned scan), and the val directory is immutable evidence
    of what was held out."""
    chunks.write.mode("overwrite").partitionBy("split").parquet(out_dir)


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency boilerplate removal: delete every (trimmed,
    non-empty) line that appears in at least ``min_docs`` DISTINCT
    documents — the cross-document twin of `ta.dedup_lines` (nav bars,
    cookie banners, footers: the lines a site template stamps onto every
    page, which no per-document signal can see).

    One row per input document: ``(id_col, clean_text, n_lines_kept,
    n_lines_removed)`` — surviving lines rejoined with '\\n' in original
    order; a document whose every line is boilerplate (or that has no
    non-empty lines) comes back with ``clean_text = ''``.

    Plan — 2 shuffles + 1 (usually broadcast) join, no Python:
      1. line document-frequency: map-only ``explode(array_distinct(
         lines))`` (a line repeated within one doc counts once) into ONE
         `groupBy(line)` agg with map-side partial combine;
      2. the ``>= min_docs`` survivors are the join side — tiny after the
         filter (only template lines cross the threshold), so AQE
         broadcasts it against the posexploded corpus;
      3. ONE `groupBy(doc)` reassembly: `collect_list` of the kept
         ``(pos, line)`` structs, `array_sort` (pos is unique per doc, so
         the order is total), join back to text. Zero-line docs ride a
         map-only union, not an outer join against the corpus.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(ta._lines(F.col(text_col))).alias("pos", "line"),
    )
    boilerplate = (
        docs.select(
            F.explode(F.array_distinct(ta._lines(F.col(text_col)))).alias(
                "line"
            )
        )
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_docs"))
        .filter(F.col("line_docs") >= min_docs)
        .select("line", F.lit(True).alias("is_bp"))
    )
    kept_struct = F.when(
        F.col("is_bp").isNull(), F.struct("pos", "line")
    )  # collect_list skips nulls -> boilerplate rows drop out
    per_doc = (
        lines.join(boilerplate, "line", "left")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(
                F.when(F.col("is_bp").isNull(), 1).otherwise(0)
            ).alias("n_lines_kept"),
            F.sum(
                F.when(F.col("is_bp").isNull(), 0).otherwise(1)
            ).alias("n_lines_removed"),
        )
    )
    no_lines = docs.filter(
        F.size(ta._lines(F.col(text_col))) == 0
    ).select(
        F.col(id_col),
        F.lit("").alias("clean_text"),
        F.lit(0).cast("long").alias("n_lines_kept"),
        F.lit(0).cast("long").alias("n_lines_removed"),
    )
    return per_doc.unionByName(no_lines)


def _hashable(dt: T.DataType) -> bool:
    """Whether ``xxhash64`` accepts a column of this type: it rejects map and
    variant types, also nested in arrays and structs."""
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def latest_snapshot(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str = "text",
) -> DataFrame:
    """Collapse a multi-crawl table to its newest snapshot per page.

    Common-Crawl-style inputs carry every recrawl of a url as its own row
    (url, warc_ts, html, text, ...); indexing or training on the raw table
    double-counts every recrawled page and lets stale extractions shadow
    fresh ones. This keeps exactly ONE row per ``key_col``: the max
    ``ts_col``, ties broken by descending ``tiebreak_col`` and finally by a
    64-bit hash over the other columns, so the survivor is a pure function
    of the data (two engines / two cluster sizes / a retried stage all keep
    the identical row — same determinism rule as :func:`cap_per_group`).
    Rows tied on every key INCLUDING the hash are identical for hashing
    purposes, so which physical row survives is unobservable. Map and
    variant columns cannot be hashed and are left out of it: rows that
    differ only there keep a dependence on partition order.

    Scale shape: ``row_number() == 1`` over a (key, ts desc) window is
    rewritten by Spark into WindowGroupLimit — each input partition keeps
    one candidate row per url BEFORE the exchange, so a url recrawled
    monthly for a decade ships ~1 row per upstream partition into the
    shuffle, not 120. One shuffle on the url, no joins, all columns ride
    along; the tiebreak hash reads every hashable non-key column once per
    row (the html binary included).
    """
    keys = {key_col, ts_col, tiebreak_col}
    hashed = [
        f.name
        for f in df.schema.fields
        if f.name not in keys and _hashable(f.dataType)
    ]
    order = [
        F.col(ts_col).desc_nulls_last(),
        F.col(tiebreak_col).desc_nulls_last(),
    ]
    if hashed:
        # removes the last partition-order dependence when (ts, tiebreak)
        # don't distinguish (e.g. identical recrawl text with differing
        # html bytes)
        order.append(F.xxhash64(*hashed).desc())
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
