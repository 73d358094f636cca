"""Incremental (streaming) index maintenance — a Spark-native extension.

The reference is strictly batch (SURVEY.md §2.12): adding documents means
rebuilding the whole index. At web scale the corpus arrives continuously, so
this module maintains the SAME five index tables (`operators/index_build.py`)
under append-only ingestion, LSM-style:

  * each micro-batch appends new `(term, block_id)` posting-block rows — new
    docs get docids past the current maximum, so new blocks never collide
    with existing block ranges and every invariant (bounded blocks, docid-
    sorted, dl inlined) is preserved;
  * `collection_stats` (N, avgdl) and `vocabulary` (DF) are refreshed per
    batch, so BM25 scores after ingesting a corpus are EXACTLY the scores of
    a from-scratch batch build over the same corpus (only docid assignment —
    and therefore tie-break order between equal scores — differs, since
    streaming docids are arrival-ordered, not global-url-ordered);
  * `doc_stats.vsm_weight` is computed against the POST-INGEST global DF/N
    snapshot (vocabulary is recomputed from the appended postings before
    doc_stats is written). Docs from earlier batches keep the weight from
    THEIR ingest-time snapshot, so vsm_weight is internally inconsistent
    across batches until `compact_index` recomputes it against the current
    global DF — the same point-in-time semantics as the reference's one-shot
    `Indexer.updateVSMWeights`. BM25 (the headline model) never reads
    vsm_weight and is unaffected.

This layer is PARQUET-DIR-ONLY by design: its crash-safety protocol is the
per-batch file prefix + staging rename below, i.e. it implements on plain
directories what an Iceberg backend gets from snapshot commits natively. On
a real lakehouse, point `start_ingest_stream` at ParquetDirIO-backed tables
or replace the append/rollback pair with Iceberg append/rollback-snapshot.

Drive it either directly per-DataFrame (`ingest_batch`) or from Structured
Streaming via ``foreachBatch`` (`start_ingest_stream`): the stream is the
delivery mechanism, the batch hook is the indexing transaction — idempotent
per batch via the ingested-batch manifest, which is exactly the Spark-
recommended pattern for exactly-once sinks over availableNow/trigger streams.

Crash safety (exactly-once regardless of where a failure lands): every
table append for batch B goes through a staging dir and is moved into the
live dir under the deterministic file prefix ``b<B>-`` (a poor-man's Iceberg
snapshot: the prefix identifies the batch's data files). On replay of a
batch that never reached the commit record, `_rollback_batch` first deletes
every ``b<B>-`` file from every table — so the url anti-join and the docid
assignment always run against COMMITTED state only, partial appends can
never leak, and docids are identical across replay attempts. The
ingested-batch manifest write is the commit point; the derived
vocabulary/collection_stats swaps are idempotent recomputations that a
replay simply redoes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..session import local_rows_df
from ..operators.index_build import (
    IndexTables,
    assign_doc_ids,
    build_index,
    build_postings_blocks,
    decode_blocks,
    doc_stats_table,
    tokenize,
    write_postings,
)

WEBTEXT_STREAM_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _ingested_batches_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_ingested_batches.json")


def _load_ingested(index_dir: str) -> set[int]:
    p = _ingested_batches_path(index_dir)
    if os.path.exists(p):
        with open(p) as f:
            return set(json.load(f))
    return set()


def _record_ingested(index_dir: str, batch_id: int) -> None:
    done = _load_ingested(index_dir)
    done.add(batch_id)
    with open(_ingested_batches_path(index_dir), "w") as f:
        json.dump(sorted(done), f)


_APPENDED_TABLES = ("doc_ids", "doc_stats", "postings")


def _batch_prefix(batch_id: int) -> str:
    return f"b{batch_id:012d}-"


def _rollback_batch(
    index_dir: str, batch_id: int, spark: SparkSession | None = None
) -> None:
    """Delete every file a previous (crashed, uncommitted) attempt of this
    batch moved into the live tables — replay then starts from committed
    state only. NOTE: the derived vocabulary/collection_stats snapshots are
    NOT rolled back; a crashed attempt may have swapped them already. They
    are never used as inputs on replay — every replay recomputes them from
    the (rolled-back) appended tables — so stale snapshots self-heal."""
    prefix = _batch_prefix(batch_id)
    for name in _APPENDED_TABLES:
        live = os.path.join(index_dir, name)
        if not os.path.isdir(live):
            continue
        for f in os.listdir(live):
            if f.startswith(prefix):
                os.remove(os.path.join(live, f))
        if spark is not None:
            # out-of-band deletes are invisible to cached file listings
            spark.catalog.refreshByPath(live)


def _append_batch_files(
    df: DataFrame, index_dir: str, name: str, batch_id: int | None
) -> None:
    """Append ``df`` to the live table. With a batch id: write to a staging
    dir, then move the part-files into the live dir under the batch's file
    prefix (idempotent together with `_rollback_batch`). Without one (ad-hoc
    direct calls): plain append — replay semantics need foreachBatch ids."""
    live = os.path.join(index_dir, name)
    if batch_id is None:
        df.write.mode("append").parquet(live)
        df.sparkSession.catalog.refreshByPath(live)
        return
    import shutil

    staging = os.path.join(index_dir, f"_staging_{name}_b{batch_id}")
    df.write.mode("overwrite").parquet(staging)
    prefix = _batch_prefix(batch_id)
    for f in os.listdir(staging):
        if f.startswith("part-"):
            os.rename(
                os.path.join(staging, f), os.path.join(live, prefix + f)
            )
    shutil.rmtree(staging, ignore_errors=True)
    # out-of-band file moves are invisible to any relation the session has
    # cached for this path (CacheManager substitutes cached plans by path) —
    # refresh makes every existing/cached reader see the appended files
    df.sparkSession.catalog.refreshByPath(live)


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    batch_id: int | None = None,
) -> IndexTables:
    """Append one batch of webtext rows to an existing (or empty) index.

    Idempotent when ``batch_id`` is given: an already-ingested id is a no-op
    (foreachBatch replays after failure with the same id)."""
    tables = IndexTables(index_dir, config)
    if batch_id is not None and batch_id in _load_ingested(index_dir):
        return tables

    if not os.path.exists(os.path.join(index_dir, "doc_ids")):
        # first batch: a plain batch build
        build_index(spark, batch, index_dir, config)
        if batch_id is not None:
            _record_ingested(index_dir, batch_id)
        return tables

    if batch_id is not None:
        # replay of an uncommitted attempt: drop its partial appends so the
        # anti-join + docid assignment below see committed state only
        _rollback_batch(index_dir, batch_id, spark)

    stats = dict(tables.collection_stats(spark))
    # derive N and max docid from the COMMITTED doc_ids table, never from the
    # collection_stats snapshot: a crashed prior attempt may have swapped
    # collection_stats with the batch already counted, and rollback does not
    # undo that — reading n_docs from it would double-count the batch and
    # permanently skew avgdl/IDF. doc_ids is append-last (the commit gate),
    # so its count is exactly the committed corpus.
    committed = tables.doc_ids(spark).agg(
        F.count(F.lit(1)).alias("n"), F.max("docid").alias("mx")
    ).head()
    n_committed = int(committed["n"] or 0)
    max_docid = committed["mx"] or 0

    # new docs only (idempotence against re-delivered urls), docids appended
    # past the current maximum — arrival order, rank(url) within the batch
    fresh = batch.filter(F.col("url").isNotNull()).join(
        tables.doc_ids(spark).select("url"), "url", "left_anti"
    )
    docs = assign_doc_ids(fresh).withColumn(
        "docid", F.col("docid") + F.lit(max_docid)
    )
    # localCheckpoint, not persist: appending to doc_ids below invalidates any
    # cache whose lineage READS doc_ids (Spark recache-by-path) — the anti-join
    # would silently re-evaluate against the just-updated table and come back
    # empty. Checkpointing severs the lineage so `docs` is a stable snapshot.
    docs = docs.localCheckpoint()
    try:
        n_new = docs.count()
        if n_new == 0:
            if batch_id is not None:
                _record_ingested(index_dir, batch_id)
            return tables

        def append(df: DataFrame, name: str) -> None:
            _append_batch_files(df, index_dir, name, batch_id)

        n_docs = n_committed + n_new
        tokens = tokenize(docs, config).persist()
        try:
            append(build_postings_blocks(tokens, config), "postings")

            # recompute the global vocabulary BEFORE doc_stats: the postings
            # table now includes this batch, so this aggregate IS the
            # post-ingest DF snapshot — the batch's vsm_weight is computed
            # against it. (Earlier batches keep weights from their own
            # ingest-time N/DF — point-in-time, like the reference's
            # one-shot updateVSMWeights; compact_index recomputes exactly.)
            vocab = (
                spark.read.parquet(os.path.join(index_dir, "postings"))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
            )
            vocab.write.mode("overwrite").parquet(
                os.path.join(index_dir, "vocabulary_next")
            )
            _swap(index_dir, "vocabulary", spark)
            vocab_now = spark.read.parquet(
                os.path.join(index_dir, "vocabulary")
            )
            append(doc_stats_table(tokens, n_docs, vocab_now), "doc_stats")
            # doc_ids last: it gates the url anti-join, so committed-looking
            # docs always have their postings/doc_stats already in place
            append(docs.select("docid", "url"), "doc_ids")
        finally:
            tokens.unpersist()

        # refresh collection_stats: N from committed + this batch (never
        # from the previous snapshot — see n_committed above)
        new_total_tokens = (
            tables.doc_stats(spark).agg(F.sum("token_count")).head()[0] or 0
        )
        cs = local_rows_df(
            spark,
            [
                (
                    n_docs,
                    new_total_tokens / n_docs if n_docs else 0.0,
                    bool(stats["use_stemmer"]),
                    bool(stats["use_stopwords"]),
                )
            ],
            "n_docs long NOT NULL, avgdl double NOT NULL,"
            " use_stemmer boolean NOT NULL, use_stopwords boolean NOT NULL",
        )
        cs.write.mode("overwrite").parquet(
            os.path.join(index_dir, "collection_stats_next")
        )
        _swap(index_dir, "collection_stats", spark)
        tables.refresh()  # drop every per-handle cache (tables changed)
        if batch_id is not None:
            _record_ingested(index_dir, batch_id)
        return tables
    finally:
        docs.unpersist()


def _swap(index_dir: str, name: str, spark: SparkSession | None = None) -> None:
    """Atomic-ish replace of a small table: write `<name>_next`, then rename.

    (On a real lakehouse this is an Iceberg snapshot commit; for the parquet
    sandbox a directory swap keeps readers from seeing a half-written table.)
    With a session, refreshes any cached relation pointing at the path."""
    import shutil

    cur, nxt = os.path.join(index_dir, name), os.path.join(index_dir, name + "_next")
    old = cur + "_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(cur):
        os.rename(cur, old)
    os.rename(nxt, cur)
    if os.path.exists(old):
        shutil.rmtree(old)
    if spark is not None:
        spark.catalog.refreshByPath(cur)


def compact_index(
    spark: SparkSession, index_dir: str, config: EngineConfig = DEFAULT_CONFIG
) -> IndexTables:
    """Merge appended posting deltas and recompute exact VSM norms.

    Re-sorts the postings table into term-range order (restoring row-group
    pruning quality degraded by appends) and recomputes `doc_stats.vsm_weight`
    against the CURRENT global DF — after compaction the index is
    indistinguishable from a from-scratch batch build modulo docid order."""
    tables = IndexTables(index_dir, config)

    # decode → re-block → re-encode: restores the term-range-sorted layout and
    # keeps blocks bounded/docid-sorted regardless of how many appends happened
    tokens = decode_blocks(tables.postings(spark))  # (term, docid, tf, dl)
    write_postings(
        spark,
        build_postings_blocks(tokens, config),
        os.path.join(index_dir, "postings_next"),
    )
    _swap(index_dir, "postings", spark)
    tables.refresh()  # the cached postings frame points at replaced files

    # exact doc_stats against the CURRENT global DF, over the compacted
    # postings: each doc's Σ (TF·IDF)² then sums in their term-range order,
    # not in the order the appends left
    n_docs = int(tables.collection_stats(spark)["n_docs"])
    stats = doc_stats_table(
        decode_blocks(tables.postings(spark)), n_docs, tables.vocabulary(spark)
    )
    stats.write.mode("overwrite").parquet(
        os.path.join(index_dir, "doc_stats_next")
    )
    _swap(index_dir, "doc_stats", spark)
    tables.refresh()
    return tables


def start_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    available_now: bool = True,
):
    """Structured-Streaming driver: watch ``source_dir`` for new webtext
    parquet files and ingest each micro-batch transactionally.

    ``available_now=True`` processes the backlog then stops (the testable
    mode); ``False`` runs continuously."""
    stream = (
        spark.readStream.schema(WEBTEXT_STREAM_DDL).parquet(source_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(spark, batch_df, index_dir, config, batch_id=batch_id)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Segmented (checkpoint-resumable) whole-corpus build
# ---------------------------------------------------------------------------

def _segments_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_segments.json")


def build_index_segmented(
    spark: SparkSession,
    webtext: DataFrame,
    index_dir: str,
    n_segments: int,
    config: EngineConfig = DEFAULT_CONFIG,
    segment_col=None,
    compact: bool = True,
) -> "IndexTables":
    """Whole-corpus build that commits per SEGMENT, not per build.

    The north rule requires the build to be "resumable from per-partition
    checkpoints with lineage and metrics". `build_index` resumes per STAGE
    (manifest.json) — enough at test scale, but at 10^12 documents the
    postings stage alone runs for hours, and a stage-granular resume loses
    all of it on a crash. This build instead splits the corpus into
    ``n_segments`` deterministic segments and drives each through the
    exactly-once transactional append machinery above (`ingest_batch`,
    batch_id = segment index): each segment's tables commit atomically
    (staging rename + ingested-segment manifest as the commit point), a
    crash mid-segment rolls that segment's partial files back on replay,
    and a re-invocation after ANY failure continues from the first
    uncommitted segment. Contrast with the reference, whose partial
    indexes (`Indexer.java:173-177`) are an in-process spill format — a
    crashed build restarts from zero.

    Segment assignment must be DETERMINISTIC across retries or resume
    would re-partition the corpus and double-ingest rows (the url
    anti-join in `ingest_batch` would still keep the index consistent,
    but segments would no longer be disjoint units of work). Default:
    ``pmod(xxhash64(url), n_segments)`` — stable, uniform, and
    skew-free even when the url distribution is not. At real scale pass
    ``segment_col`` as a PARTITION column of the input table instead
    (e.g. crawl date or warc file): then each segment's filter prunes the
    scan to its own input partitions and the per-segment pass reads only
    1/n of the corpus, where the hash default must scan (but not
    tokenize) all rows per pass.

    Lineage + metrics: `_segments.json` records one row per committed
    segment (rows ingested, wall seconds, docs/sec) next to the
    per-stage metrics `ingest_batch`/`build_index` already write —
    together they are the build's restart lineage.

    ``compact=True`` finishes with `compact_index`, restoring the
    term-range-sorted postings layout and the single-snapshot VSM
    weights — after it, the index is indistinguishable from a one-shot
    `build_index` modulo docid assignment order (BM25/VSM scores are
    identical; only tie-breaks between equal scores can differ).
    """
    import time as _time

    if n_segments < 1:
        raise ValueError("n_segments must be >= 1")
    os.makedirs(index_dir, exist_ok=True)
    seg = (
        F.pmod(F.xxhash64(F.col("url")), F.lit(n_segments))
        if segment_col is None
        else F.pmod(F.xxhash64(segment_col), F.lit(n_segments))
    )
    lineage: dict = {"n_segments": n_segments, "segments": {}}
    have_lineage = os.path.exists(_segments_path(index_dir))
    if have_lineage:
        with open(_segments_path(index_dir)) as f:
            lineage = json.load(f)
        if lineage.get("n_segments") != n_segments:
            raise ValueError(
                f"resume with n_segments={n_segments} but the existing "
                f"lineage was built with {lineage.get('n_segments')} — "
                "segment assignment would change mid-build"
            )

    done = _load_ingested(index_dir)
    doc_ids_dir = os.path.join(index_dir, "doc_ids")
    if not done and os.path.isdir(doc_ids_dir):
        # tables exist but NO segment ever committed. Either segment 0's
        # first attempt crashed mid-`build_index` (its path writes tables
        # directly, so partial state would otherwise masquerade as committed
        # docs and their postings would never be built), or the caller
        # pointed at a foreign index dir. Our own crashed attempt is
        # identifiable by the lineage marker written BEFORE segment 0
        # starts — wipe and rebuild; anything else is refused.
        if not have_lineage:
            raise ValueError(
                f"{index_dir} contains index tables but no segmented-build "
                "lineage and no committed segments — refusing to overwrite "
                "what does not look like a (crashed) segmented build"
            )
        import shutil as _shutil

        for name in os.listdir(index_dir):
            if name == os.path.basename(_segments_path(index_dir)):
                continue
            p = os.path.join(index_dir, name)
            _shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    # marker first: a crash anywhere in segment 0 leaves the dir
    # identifiable as ours on resume (see the wipe above)
    with open(_segments_path(index_dir), "w") as f:
        json.dump(lineage, f, indent=1)

    tables = IndexTables(index_dir, config)
    prev_total = (
        int(tables.doc_ids(spark).count())
        if done and os.path.isdir(os.path.join(index_dir, "doc_ids"))
        else 0
    )
    for s in range(n_segments):
        if s in done:
            continue  # committed segment: skip (the resume path)
        t0 = _time.time()
        part = webtext.filter(seg == F.lit(s))
        tables = ingest_batch(spark, part, index_dir, config, batch_id=s)
        n_total = int(tables.doc_ids(spark).count())
        dt = max(_time.time() - t0, 1e-9)
        lineage["segments"][str(s)] = {
            "status": "ok",
            "seconds": round(dt, 3),
            "rows": n_total - prev_total,
            "docs_per_sec": round((n_total - prev_total) / dt, 1),
        }
        prev_total = n_total
        with open(_segments_path(index_dir), "w") as f:
            json.dump(lineage, f, indent=1)

    if compact:
        tables = compact_index(spark, index_dir, config)
    return tables
