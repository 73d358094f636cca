"""Inverted-index construction — the Spark-first rebuild of `Indexer.index()`
(`T/indexer/Indexer.java:85-236`, lifecycle in SURVEY.md §3.1).

Stage map (reference → here):
  parse + tokenize + partial segment agg   → scan + ``mapInArrow`` tokenizer
                                             (per-doc TF map computed inside the
                                             UDF = A1 without a shuffle)
  200k-doc partial indexes + K-way merge   → ONE shuffle: range partition on
                                             (term, docid) (`Indexer.java:
                                             173-177,307-362` all collapse into
                                             Spark's sort shuffle)
  postings binary blocks                   → sorted (term, docid, tf, dl)
                                             Parquet columns, delta +
                                             bit-packed by the JVM writer
  DOCUMENTS_META / INDEX_META              → doc_stats / collection_stats tables
  docID = parse order                      → docid = global rank of url
                                             (deterministic across cluster sizes)

Scale notes (the 100 TB design, see ARCHITECTURE.md):
  * postings are one row per posting, so no row ever holds a head term's
    posting list; block-max WAND's bounds live in the small
    ``posting_blocks`` table keyed (term, block_id = docid // block_size).
  * doc length (dl) is computed inside the tokenizer UDF and rides along
    each (docid, term) row, so BM25's doc-length join (`J3`) disappears from
    the query path.
  * docid assignment avoids the single-partition global window: range-partition
    by url, count per range, prefix-sum offsets on the driver (P integers),
    then per-partition local row numbers — identical to rank(url) for any
    partitioning.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..session import local_rows_df, scoped_conf

TOKENS_SCHEMA = "docid long, term string, tf int, dl int"

STAGES = (
    "doc_ids",
    "doc_stats",
    "collection_stats",
    "postings",
    "vocabulary",
)

# Parquet writer settings of the postings tables: the v2 writer encodes the
# integer columns DELTA_BINARY_PACKED only with dictionary encoding off (with
# it on, a column whose dictionary fits is dictionary-coded instead).
# Measured on the 4,000-doc benchmark corpus: 0.757x the bytes of the
# earlier varint blocks; Spark's default writer, 0.977x.
_POSTINGS_PARQUET_CONF = {
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary": "false",
}


# ~bytes of (compressed parquet) table per cached partition. 8 MB compressed
# ≈ tens of MB of column decompression and scan work per task — enough to
# amortize a task launch, small enough that a 500k-doc postings table
# still fans out across cores.
_CACHE_BYTES_PER_PARTITION = 8 << 20


def _partition_file_bytes(index_dir: str, name: str) -> list[int] | None:
    """Per-partition compressed bytes of a written stage table.

    The parquet backend writes one part-file per partition, so the sorted
    file-size list IS the per-partition compression profile (north rule:
    "bytes compressed per partition" in the per-stage metrics). Returns None
    on non-directory backends (Iceberg tracks file sizes in its own
    manifests)."""
    path = os.path.join(index_dir, name)
    if not os.path.isdir(path):
        return None
    return sorted(
        e.stat().st_size
        for e in os.scandir(path)
        if e.is_file() and e.name.startswith("part-")
    )


def _right_size_for_cache(df: DataFrame) -> DataFrame:
    """Coalesce a small table to ~8 MB/partition before per-handle caching.

    Spark floors scan splits at ``spark.default.parallelism``, so a few-MB
    parquet table still splits into ~n_cores partitions — and every query
    over the cached table then pays ~n_cores task launches to touch a few MB
    (measured: 32 of the 33 tasks of a bench bm25 query were this scan, the
    bulk of its fixed latency). Coalesce (narrow, no shuffle) the cached view
    down to the file-size estimate over 8 MB/partition; tables at or above
    ~cores × 8 MB keep their natural parallelism, so at web scale this is a
    no-op."""
    spark = df.sparkSession
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-JVM-backed plan or missing stats: leave as-is
        return df
    if not 0 < est < (1 << 50):  # unknown sentinel
        return df
    target = int(est // _CACHE_BYTES_PER_PARTITION) + 1
    if target < spark.sparkContext.defaultParallelism:
        return df.coalesce(target)
    return df


# query-time vocabulary handling: up to this many terms the whole vocabulary
# is loaded into a driver dict (the reference's query-time HashMap,
# `Indexer.java:643-651`); above it, term lookups fall back to a pushed-IN
# filter scan of the cached vocabulary table (the driver can't hold a
# 10^12-doc-scale vocabulary)
VOCAB_DRIVER_CACHE_MAX_TERMS = 2_000_000

# bytes one posting takes in the in-memory columnar cache
# (compressed: term runs, small docid deltas, dictionary-coded tf/dl).
# Measured 2.0 B on the sf0.01 gate corpus (12k postings) and 4.4 B on the
# 4,000-doc benchmark corpus (293k postings in 1.29 MB); rounded up for
# corpora whose columns compress less.
_DECODED_BYTES_PER_POSTING = 8


def _storage_memory_bytes(spark: SparkSession) -> int:
    """Storage memory of the block managers that cache partitions, from
    ``getExecutorMemoryStatus``: every executor's, or the driver's in local
    mode (where the driver is the only block manager)."""
    mem = {}  # block manager host:port → max storage bytes
    it = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().iterator()
    while it.hasNext():
        kv = it.next()
        mem[kv._1()] = kv._2()._1()
    if len(mem) > 1:
        env = spark._jvm.org.apache.spark.SparkEnv.get()
        mem.pop(env.blockManager().blockManagerId().hostPort(), None)
    return sum(mem.values())


def _in_session(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan as a DataFrame of ``spark`` — another session of the same
    application shares the cache manager, so a cached ``df`` stays cached."""
    if df.sparkSession is spark:
        return df
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


@dataclass
class _PathCaches:
    """Cache bookkeeping shared by every handle on one index path. Handles on
    one path persist identical plans, which Spark caches once, so
    ``refresh()`` on any of them must drop the frames of all: ``persisted``
    holds every frame persisted for the path since its last refresh, and
    ``generation`` counts the refreshes, so a handle whose state predates
    the last one drops it and refills on next use."""

    generation: int = 0
    persisted: list = field(default_factory=list)


# by index path; process-wide, like the Spark cache manager it mirrors
_PATH_CACHES: dict[str, _PathCaches] = {}


@dataclass
class IndexTables:
    """Handle to the on-disk index (the rebuild's INDEX_DIR).

    The query-hot tables (postings, vocabulary, doc_stats, doc_ids) are
    ``persist(MEMORY_ONLY)``-cached per handle — the Spark analog of the
    reference keeping the vocabulary HashMap in heap and postings behind the
    OS page cache (`Indexer.java:643-651`, `MemoryBuffers.java:30-73`).
    MEMORY_ONLY (not MEMORY_AND_DISK) on purpose: at web scale eviction just
    drops partitions and the scan falls back to the parquet files — no
    local-disk double-write of a 100 TB table.

    ``postings`` is one relation, ``(term, docid, tf, dl)``, one row per
    posting; every query path filters it with ``term IN (...)``, so no
    query runs Python. It is cached while a bound on its size fits
    (:meth:`_decoded_fits`); above it, the same frame stays uncached, and
    the term filter pushes down to the Parquet row-group statistics of the
    term-sorted files.

    After any table mutation (streaming ingest / compaction), call
    :meth:`refresh`.
    """

    path: str
    config: EngineConfig
    io: object | None = None  # table-IO backend; None → ParquetDirIO(path)
    # per-handle state, dropped by a refresh() of any handle on the path:
    # frames by table name (all persisted except postings over the size
    # gate), temp-view names by table name, the collection_stats row, the
    # driver vocabulary map, and the path's refresh generation it was
    # loaded at
    _df_cache: dict = field(init=False, repr=False, compare=False, default_factory=dict)
    _view_names: dict = field(init=False, repr=False, compare=False, default_factory=dict)
    _cs_cache: dict | None = field(init=False, repr=False, compare=False, default=None)
    _vocab_map_state: tuple | None = field(init=False, repr=False, compare=False, default=None)
    _generation: int = field(init=False, repr=False, compare=False, default=0)

    def _io(self):
        if self.io is None:
            from ..sources.table_io import ParquetDirIO

            self.io = ParquetDirIO(self.path)
        return self.io

    def _read(self, spark: SparkSession, name: str) -> DataFrame:
        return self._io().read(spark, name)

    def _path_caches(self) -> _PathCaches:
        """The path's shared bookkeeping, after dropping this handle's state
        if another handle on the path refreshed since it was loaded (driver
        dict lookups only: no JVM call)."""
        pc = _PATH_CACHES.setdefault(self.path, _PathCaches())
        if self._generation != pc.generation:
            self._df_cache.clear()
            self._view_names.clear()  # re-register views over the fresh caches
            self._cs_cache = None
            self._vocab_map_state = None
            self._generation = pc.generation
        return pc

    def _cached(self, spark: SparkSession, name: str) -> DataFrame | None:
        from pyspark import StorageLevel

        pc = self._path_caches()
        if name not in self._df_cache:
            df = _right_size_for_cache(self._read(spark, name))
            if name != "postings" or self._decoded_fits(spark):
                df = df.persist(StorageLevel.MEMORY_ONLY)
                pc.persisted.append(df)
            self._df_cache[name] = df
        return self._df_cache[name]

    def _decoded_fits(self, spark: SparkSession) -> bool:
        """Size gate of the postings cache: ``n_docs · avgdl`` (the token
        count, ≥ Σ DF, so ≥ the posting count, and known without a job)
        times the measured bytes per cached posting must fit in half the
        storage memory of the block managers that cache partitions. The
        gate, not MEMORY_ONLY eviction, keeps the cache small: the term
        filter sits above the cached relation, so an evicted partition would
        be recomputed by a full, unpruned scan of its files."""
        cs = self.collection_stats(spark)
        bound = cs["n_docs"] * cs["avgdl"] * _DECODED_BYTES_PER_POSTING
        return bound <= _storage_memory_bytes(spark) / 2

    def refresh(self) -> None:
        """Drop the caches of every handle on this index path (after
        ingest/compaction/writeback): unpersist every frame persisted for
        the path and bump its generation, so each handle on it, this one
        included, drops its state and refills on next use instead of
        reading an uncached plan."""
        pc = _PATH_CACHES.setdefault(self.path, _PathCaches())
        for df in pc.persisted:
            df.unpersist()
        pc.persisted.clear()
        pc.generation += 1

    def doc_ids(self, spark):  # (docid long, url string)
        return self._cached(spark, "doc_ids")

    def doc_stats(self, spark):  # (docid, token_count, max_tf, vsm_weight)
        return self._cached(spark, "doc_stats")

    def postings(self, spark) -> DataFrame:
        """(term, docid, tf, dl), one row per posting; persisted only while
        the size gate is open (:meth:`_decoded_fits`)."""
        return self._cached(spark, "postings")

    def posting_blocks(self, spark):  # (term, block_id, df, max_tf, min_dl)
        return self._cached(spark, "posting_blocks")

    def vocabulary(self, spark):  # (term, df)
        return self._cached(spark, "vocabulary")

    def pagerank(self, spark):  # (docid, pagerank)
        return self._cached(spark, "pagerank")

    def table_view(self, spark, name: str) -> str:
        """Temp-view name over a handle's table frame, registered in the
        live session (temp views are per session: a ``newSession()`` on the
        same handle registers its own). The single-query SQL statements
        read the handle's DataFrames through these views, so a query's plan
        is one `spark.sql` round-trip instead of hundreds of Py4J calls of
        incremental plan building."""
        self._path_caches()
        vname = self._view_names.get(name)
        if vname is None or not spark.catalog.tableExists(vname):
            vname = f"__themis_{name}_{abs(id(self))}"
            _in_session(self._cached(spark, name), spark).createOrReplaceTempView(vname)
            self._view_names[name] = vname
        return vname

    def vocab_map(self, spark) -> dict[str, int] | None:
        """Whole-vocabulary driver map — the rebuild of the reference loading
        `vocabulary.idx` into a heap HashMap at query time
        (`Indexer.java:643-651`). One Arrow collect of at most cap+1 rows
        straight from the table files (the vocabulary table is not cached
        for it). Returns None above the size cap (at 10^12-doc scale the
        vocabulary no longer fits on the driver; query paths then fall back
        to a pushed-filter scan of the cached table)."""
        self._path_caches()
        if self._vocab_map_state is None:
            cap = VOCAB_DRIVER_CACHE_MAX_TERMS
            t = self._read(spark, "vocabulary").limit(cap + 1).toArrow()
            m = None
            if t.num_rows <= cap:
                m = dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))
            self._vocab_map_state = (m,)
        return self._vocab_map_state[0]

    def collection_stats(self, spark) -> dict:
        # 1-row table, immutable once built — cache on the handle so query
        # paths don't pay a Spark job per query for N/avgdl
        self._path_caches()
        if self._cs_cache is None:
            self._cs_cache = self._read(spark, "collection_stats").head().asDict()
        return self._cs_cache

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"stages": {}, "config": None}


# up to this many docs the (url, docid) map gets a broadcast-join hint when
# attached to the corpus; past it, the join falls back to a shuffle hash
# join — the 10^12-row regime where no side broadcasts
_IDS_BROADCAST_MAX_ROWS = 10_000_000


def url_rank_ids(
    urls: DataFrame, num_ranges: int | None = None
) -> tuple[DataFrame, int, int]:
    """(url) → ((url, docid), n_distinct, n_rows) with docid = 1-based global
    rank of the DISTINCT url — the map is a bijection even when the input
    repeats a url (crawl batches routinely do), so the join-back in
    :func:`assign_doc_ids` can never fan out rows. ``n_rows`` (the raw input
    row count, duplicates included) rides the same per-partition counts job —
    callers use ``n_rows != n_distinct`` as the duplicate guard without
    paying a second corpus scan.

    Rebuild of the reference's parse-order docID (`Indexer.java:96-97,172`)
    with a data-determined order (SURVEY §1.4): rank by url, computed WITHOUT
    a single-partition window — range partition, per-partition distinct
    counts, driver prefix sum, local dense_rank. Dedup costs no extra
    exchange: a url lands in exactly one range partition, so dense_rank +
    lag over the SAME window spec dedups and ranks in one sort. Runs
    entirely on the url projection: the parquet scan prunes to one column
    and the range shuffle moves just urls.
    """
    spark = urls.sparkSession
    if num_ranges is None:
        # Size ranges by DATA VOLUME, not core count: the url projection is a
        # tiny fraction of the corpus (~1 TB of a 100 TB crawl → ~16k ranges
        # at 64 MB each), while a bench-sized corpus fits in a couple of
        # ranges. Keying this off defaultParallelism made every sub-step
        # (sample, exchange, counts, write) pay task-launch overhead
        # proportional to CORES on a constant-size table — measured
        # anti-scaling: 3.4s at local[4] → 8.8s at local[16] for the same
        # 500k urls. Catalyst's optimized-plan size estimate prices the
        # column-pruned scan; when stats are unavailable (huge sentinel),
        # fall back to core count.
        try:
            est = int(
                urls.select("url")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        except Exception:
            est = -1
        if 0 < est < (1 << 50):
            num_ranges = int(max(1, min(est // (64 << 20) + 1, 32768)))
        else:
            num_ranges = max(spark.sparkContext.defaultParallelism, 8)
    # CORRECTNESS-CRITICAL: materialize the range partitioning ONCE.
    # repartitionByRange SAMPLES per compiled job (seeded by RDD id), so the
    # counts job and the row_number job would otherwise see DIFFERENT range
    # boundaries — rows near a boundary get counted in partition p but
    # ranked in p±1, silently producing duplicate and skipped docids (~3%
    # of docids collided at 500k urls before this fix; small corpora sample
    # exhaustively, so the correctness gate never saw it). localCheckpoint
    # severs the lineage: every downstream job reads the SAME materialized
    # partitions and resampling is impossible. (On a real cluster, lost
    # checkpoint blocks fail the job rather than silently recompute — the
    # safe failure mode; use a reliable checkpoint dir or stage the ids to a
    # table for long-running builds.)
    ranged = (
        urls.select("url")
        .filter(F.col("url").isNotNull())  # F1; also keeps n_rows/countDistinct consistent
        .repartitionByRange(num_ranges, "url")
        .localCheckpoint()
    )

    pid = F.spark_partition_id()
    counts = (
        ranged.groupBy(pid.alias("pid"))
        .agg(
            F.countDistinct("url").alias("count"),
            F.count(F.lit(1)).alias("rows"),
        )
        .orderBy("pid")
        .collect()
    )
    offsets = {}
    running = 0
    n_rows = 0
    for row in counts:
        offsets[row["pid"]] = running
        running += row["count"]
        n_rows += row["rows"]
    if offsets:
        offset_expr = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )[F.col("__pid")]
    else:  # empty input: map() is untyped and fails analysis
        offset_expr = F.lit(0)
    w = Window.partitionBy("__pid").orderBy("url")
    ids = (
        ranged.withColumn("__pid", pid)
        .withColumn("__local", F.dense_rank().over(w))
        .withColumn("__prev", F.lag("url").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col("url")))
        .select(
            "url",
            (offset_expr + F.col("__local")).cast("long").alias("docid"),
        )
    )
    return ids, running, n_rows


def _dedup_by_docid(docs: DataFrame) -> DataFrame:
    """Keep exactly one row per docid when the input repeated a url —
    deterministically the row with the max text (ties on text are identical
    rows for indexing purposes: only (docid, url, text) flow downstream)."""
    w = Window.partitionBy("docid").orderBy(F.desc_nulls_last("text"))
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def assign_doc_ids(webtext: DataFrame, num_ranges: int | None = None) -> DataFrame:
    """(url, ...) → (docid, url, ...): attach the url-rank docid by joining
    the (now bijective) (url, docid) map back onto the corpus — broadcast
    while it fits (`_IDS_BROADCAST_MAX_ROWS`), shuffle join beyond. The
    corpus rows are never range-shuffled. If the input repeats a url, one
    row per docid survives (guarded — the dedup shuffle is only paid when
    the distinct-url count differs from the row count)."""
    ids, running, n_rows = url_rank_ids(webtext, num_ranges)
    if running <= _IDS_BROADCAST_MAX_ROWS:
        ids = F.broadcast(ids)
    joined = webtext.join(ids, "url")
    if n_rows != running:
        joined = _dedup_by_docid(joined)
    return joined


def tokenize(docs: DataFrame, config: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(docid, text) → (docid, term, tf, dl): the A1 per-doc TF map as
    a mapInArrow over the vectorized batch analyzer (`tf_batch_coded`:
    C-level split, normalize once per distinct raw token, hash-factorize
    counting — no per-token Python; token parity with the oracle's `tf_map`
    is pinned by tests). The output term column is built with an Arrow
    ``take`` over the per-batch term dictionary, so no Python string object
    is ever created per OUTPUT row either."""
    use_stemmer, use_stopwords = config.use_stemmer, config.use_stopwords

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..analysis.tokenizer import tf_batch_coded

        for batch in batches:
            docids = batch.column(
                batch.schema.get_field_index("docid")
            ).to_numpy(zero_copy_only=False)
            texts = batch.column(
                batch.schema.get_field_index("text")
            ).to_pylist()
            d, codes, terms, tfs, dls = tf_batch_coded(
                texts, use_stemmer, use_stopwords
            )
            if len(d) == 0:
                continue
            term_arr = pc.take(
                pa.array(terms.tolist(), type=pa.string()),
                pa.array(codes, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(docids[d], type=pa.int64()),
                    term_arr,
                    pa.array(tfs.astype(np.int32)),
                    pa.array(dls.astype(np.int32)),
                ],
                names=["docid", "term", "tf", "dl"],
            )

    return docs.select("docid", "text").mapInArrow(gen, schema=TOKENS_SCHEMA)


def write_postings(
    spark: SparkSession, rows: DataFrame, block_size: int, write
) -> dict:
    """Write the postings relation ``(term, docid, tf, dl)`` of ``rows``
    (any frame holding those columns: a token frame, or the postings
    themselves) and its ``posting_blocks`` through ``write(frame, name)``:
    the one layout for build, ingest append and compaction. Returns the
    write's totals, ``n_postings`` and ``n_blocks``, observed on the blocks
    write (no extra job).

    ONE range shuffle on (term, docid) replaces the reference's
    partial-index spill + K-way heap merge (`Indexer.java:173-177,
    307-362,439-469`): Spark's shuffle IS the merge. Each partition is then
    sorted on (term, docid), so every file is term-range-clustered (parquet
    row-group min/max stats prune a query's term filter to a few row
    groups) and each term's docids ascend (the within-block order invariant
    of `Index.java:114-130`). The range sampling pass runs against the
    caller's (persisted) frame, so a build's Python tokenizer still runs
    once per document.

    ``posting_blocks`` is block-max WAND's per-block bounds, ``(term,
    block_id, df, max_tf, min_dl)`` with ``block_id = docid DIV
    block_size``: one GROUP BY, written term-sorted. A head term with 10^9
    postings has ~10^9/block_size rows there; the postings themselves are
    never grouped.

    Both tables are written by the Parquet v2 writer with dictionary
    encoding off (session-scoped around the writes, so it reaches every
    table-IO backend), which stores the integer columns as
    ``DELTA_BINARY_PACKED``: deltas plus bit-packed frame-of-reference
    miniblocks, written by the JVM. This is the delta-gap + block
    compression of the paper's design, not a LEB128 varint."""
    from pyspark.sql import Observation

    postings = (
        rows.select("term", "docid", "tf", "dl")
        .repartitionByRange("term", "docid")
        .sortWithinPartitions("term", "docid")
    )
    obs = Observation("postings_totals")
    blocks = (
        rows.groupBy(
            "term", (F.col("docid") / F.lit(block_size)).cast("long").alias("block_id")
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("df"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("df").alias("n_postings"),
        )
        .sortWithinPartitions("term", "block_id")
    )
    with scoped_conf(spark, _POSTINGS_PARQUET_CONF):
        write(postings, "postings")
        write(blocks, "posting_blocks")
    got = obs.get
    return {"n_postings": int(got["n_postings"] or 0), "n_blocks": got["n_blocks"]}


def vocabulary_table(posting_blocks: DataFrame) -> DataFrame:
    """(term, df): Σ df over a term's posting blocks."""
    return posting_blocks.groupBy("term").agg(F.sum("df").alias("df"))


def doc_stats_table(
    rows: DataFrame, n_docs: int, vocabulary: DataFrame
) -> DataFrame:
    """(docid, token_count, max_tf, vsm_weight) — DOCUMENTS_META rebuild,
    from any ``(term, docid, tf, dl)`` frame holding every posting of each
    of its docs: the build's and an ingest batch's token frame, or
    compaction's re-sorted postings.

    vsm_weight is the index-time VSM norm (`Indexer.updateVSMWeights:570-623`):
    sqrt(Σ_t (TF_t · ln(N/DF_t))²) / maxTF — one DF join against
    ``vocabulary`` (term, df) and one docid aggregation, all closed-form
    column math. The join carries no hint: the session's broadcast
    threshold (and AQE's runtime sizes) broadcast the vocabulary whenever
    it fits, and pick a shuffle join for a vocabulary that does not."""
    return (
        rows.join(vocabulary.withColumnRenamed("df", "term_df"), "term")
        .groupBy("docid")
        .agg(
            F.first("dl").alias("token_count"),
            F.max("tf").alias("max_tf"),
            (
                F.sqrt(
                    F.sum(
                        F.pow(
                            F.col("tf")
                            * F.log(F.lit(float(n_docs)) / F.col("term_df")),
                            F.lit(2.0),
                        )
                    )
                )
                / F.max("tf")
            ).alias("vsm_weight"),
        )
    )


def build_index(
    spark: SparkSession,
    webtext: DataFrame,
    index_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    resume: bool = False,
    table_io=None,
) -> IndexTables:
    """Full index build with per-stage checkpointing + metrics manifest.

    Each stage is an idempotent table overwrite through the ``table_io`` seam
    (`sources/table_io.py`: parquet dirs by default, Iceberg ``writeTo``
    snapshot commits on a configured catalog); ``resume=True`` skips stages
    the manifest records as complete (the rebuild of the north rule's
    "resumable from per-partition checkpoints" — Spark's unit of recovery is
    the stage output; within a stage, task retry gives per-partition recovery
    natively; on Iceberg each completed stage is additionally a catalog
    snapshot).
    """
    # scan-split floor, scoped to THIS build: a bench-sized corpus (one
    # parquet file < maxPartitionBytes) must not collapse to 3-4 scan tasks
    # and serialize the Python tokenizer. Session-wide this knob taxed every
    # sub-second scan with ~100 task launches (round-2 bench regressions);
    # at 100 TB the 128m byte cap dominates and the floor is moot.
    # The floor is also DATA-bounded: 3×cores splits of a 5k-doc corpus are
    # ~100 near-empty Python-worker round-trips (~half the bench build).
    # ~2 MB of input per split ≈ 0.5-2 s of tokenizer work — enough to
    # amortize a task launch; the cores floor only engages once the corpus
    # is big enough to feed every core that much.
    floor = max(spark.sparkContext.defaultParallelism * 3, 8)
    try:
        est = int(
            webtext.select("url", "text")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
        if 0 < est < (1 << 50):
            floor = max(8, min(floor, est // (2 << 20) + 1))
    except Exception:
        pass  # non-file-backed plan: keep the cores floor
    with scoped_conf(
        spark, {"spark.sql.files.minPartitionNum": str(floor)}
    ):
        return _build_index_impl(
            spark, webtext, index_dir, config, resume, table_io
        )


def _build_index_impl(
    spark: SparkSession,
    webtext: DataFrame,
    index_dir: str,
    config: EngineConfig,
    resume: bool,
    table_io,
) -> IndexTables:
    os.makedirs(index_dir, exist_ok=True)
    tables = IndexTables(index_dir, config, io=table_io)
    io = tables._io()
    manifest = tables.manifest() if resume else {"stages": {}, "config": None}
    manifest["config"] = {
        "use_stemmer": config.use_stemmer,
        "use_stopwords": config.use_stopwords,
        "bm25_k1": config.bm25_k1,
        "bm25_b": config.bm25_b,
        "postings_block_size": config.postings_block_size,
    }

    def done(stage: str) -> bool:
        # the postings stage writes two tables; an index whose postings
        # stage predates posting_blocks (varint-block postings) rebuilds it
        names = ("postings", "posting_blocks") if stage == "postings" else (stage,)
        return (
            resume
            and manifest["stages"].get(stage, {}).get("status") == "ok"
            and all(io.exists(spark, n) for n in names)
        )

    def record(stage: str, t0: float, rows: int | None = None, **extra) -> None:
        manifest["stages"][stage] = {
            "status": "ok",
            "seconds": round(time.time() - t0, 3),
            "rows": rows,
            **extra,
        }
        with open(tables.manifest_path, "w") as f:
            json.dump(manifest, f, indent=1)

    def write(df: DataFrame, name: str) -> None:
        io.overwrite(df, name)

    # ---- stage 1: docid assignment (DOCUMENTS_ID rebuild) -----------------
    # `docs` (docid attached via a broadcast/shuffle join of the tiny ids
    # map) is NOT persisted: caching 100 TB of text in the heap is pure GC
    # pressure — the only consumer that re-reads it is the token frame
    # materialization, which caches its own (much smaller) output.
    # Only (url, text) survive past the scan: every other webtext column
    # (html binary, warc_ts, lang) is dead weight downstream — at web scale
    # html is the BULK of the row.
    webtext = webtext.select("url", "text")
    if not done("doc_ids"):
        t0 = time.time()
        # the doc_ids table IS the (url, docid) map — write it straight from
        # the url-only rank computation; the corpus is scanned exactly once
        # (in the tokenize materialization below), never for this stage.
        # n_input_rows rides url_rank_ids' counts job — no second scan.
        ids, n_docs_assigned, n_input_rows = url_rank_ids(webtext)
        write(ids.select("docid", "url"), "doc_ids")
        record(
            "doc_ids",
            t0,
            rows=n_docs_assigned,
            docs_per_sec=round(n_docs_assigned / max(time.time() - t0, 1e-9), 1),
        )
    else:
        n_docs_assigned = n_input_rows = None
    ids_back = tables._read(spark, "doc_ids")
    if n_docs_assigned is None:
        n_docs_assigned = ids_back.count()
    if n_docs_assigned <= _IDS_BROADCAST_MAX_ROWS:
        ids_back = F.broadcast(ids_back)
    docs = webtext.join(ids_back, "url")
    # duplicate urls in the corpus would attach the same docid to >1 row and
    # double that doc's TFs — dedup to one row per docid, but only pay the
    # window shuffle when duplicates actually exist (url-column-pruned count;
    # on resume the doc_ids rows are the distinct count to compare against)
    if n_input_rows is None:
        n_input_rows = webtext.filter(F.col("url").isNotNull()).count()
    if n_input_rows != n_docs_assigned:
        docs = _dedup_by_docid(docs)

    # ---- stage 2: tokenize → postings + posting_blocks (POSTINGS rebuild) --
    # ONE term-shuffle for the whole build: vocabulary and doc_stats reuse
    # the token frame and the (small) posting_blocks table instead of
    # re-shuffling tokens by term. The tokens cache fills during the range
    # sampling pass, so the Python analyzer runs exactly once per document.
    tokens = tokenize(docs, config).persist()
    if not done("postings"):
        t0 = time.time()
        # stage metrics (north rule: postings/sec + bytes compressed per
        # partition, logged per stage) ride the writes as observed metrics —
        # no read-back aggregation job
        got = write_postings(spark, tokens, config.postings_block_size, write)
        record(
            "postings",
            t0,
            rows=got["n_postings"],
            **got,
            postings_per_sec=round(
                got["n_postings"] / max(time.time() - t0, 1e-9), 1
            ),
            bytes_compressed_per_partition=_partition_file_bytes(
                tables.path, "postings"
            ),
        )

    # ---- stage 3: vocabulary (VOCABULARY rebuild) --------------------------
    # NOTE: build-time reads use _read (uncached) — a persist here would pin
    # this build's file listing in the session CacheManager, and Spark
    # substitutes cached relations by plan into ANY later read of the same
    # path, turning out-of-band appends (streaming ingest) invisible.
    if not done("vocabulary"):
        t0 = time.time()
        write(vocabulary_table(tables._read(spark, "posting_blocks")), "vocabulary")
        record("vocabulary", t0)

    # ---- stage 4+5: doc_stats + collection_stats ---------------------------
    if not (done("doc_stats") and done("collection_stats")):
        t0 = time.time()
        # N counts every parsed doc, including zero-token ones
        # (`Indexer.java:195-196`: N = docs parsed, avgdl = totalTokens / N)
        n_docs = n_docs_assigned
        stats = doc_stats_table(
            tokens, n_docs, tables._read(spark, "vocabulary")
        )
        # total tokens rides the doc_stats WRITE as an observed metric — no
        # separate read-back aggregation job (at 100 TB that job re-scans the
        # whole doc_stats table for one scalar)
        from pyspark.sql import Observation

        obs = Observation("doc_stats_totals")
        write(stats.observe(obs, F.sum("token_count").alias("tt")), "doc_stats")
        total_tokens = obs.get["tt"] or 0
        cs = local_rows_df(
            spark,
            [
                (
                    n_docs,
                    total_tokens / n_docs if n_docs else 0.0,
                    config.use_stemmer,
                    config.use_stopwords,
                )
            ],
            "n_docs long NOT NULL, avgdl double NOT NULL,"
            " use_stemmer boolean NOT NULL, use_stopwords boolean NOT NULL",
        )
        write(cs, "collection_stats")
        dt = time.time() - t0
        record("doc_stats", t0, rows=n_docs)
        record(
            "collection_stats",
            time.time(),
            rows=1,
            docs_per_sec=round(n_docs / dt, 1),
        )

    tokens.unpersist()
    return tables
