"""Query-time retrieval — the Spark rebuild of `Search.search()` →
`Retrieval.getRankedResults()` (SURVEY.md §3.2).

One planner: each single-query model renders ONE SQL statement over a
posting relation (term, docid, tf, dl),

  SELECT docid, <raw> AS raw FROM <posting view> WHERE term IN (:t0, ...)
  GROUP BY docid [HAVING ...]

  * posting view: the handle's decoded-postings cache (decoded once per
    handle by one mapInArrow pass; MEMORY_ONLY, term-sorted, size-gated —
    `IndexTables`), so the IN filter prunes in-memory batches on the term
    stats and a query runs no Python. Over the size gate, and for block-max
    WAND's seed/survivors, the query's own decoded frame is registered as a
    temp view instead and the same statement runs over it.
  * query terms are bound as named parameter markers and never formatted
    into the text, so no term needs escaping; per-term weights/idfs are
    ``map(:t0, w0, ...)[term]`` lookups with bit-exact ``repr`` double
    literals, constant-folded inside the scoring stage's codegen (no join,
    no broadcast, no extra job per query).
  * GROUP BY docid: sparse hash agg — replaces the reference's dense
    double[N] arrays (`OkapiBM25P.java:28-29,40-43`), impossible at 10^12
    docs.
  * bounded k, no blend: ``ORDER BY raw DESC, docid ASC LIMIT k`` in the
    same statement (TakeOrderedAndProject = per-partition bounded heap +
    driver merge; the docid tie-break is rank-critical), max-normalized on
    the k collected rows. k=None and the PageRank blend hand the
    statement's frame to `_finalize` (`Retrieval.sort:71-116`).

Each scoring formula is written once, as a SQL fragment
(:func:`_bm25_contrib`, :func:`_vsm_contrib`): the single-query statements
inline it over per-term lookups, block-max WAND's block bound applies it
to (max_tf, min_dl), and the batch operators apply it with ``F.expr`` over
their broadcast query frame's columns.

The batch operators and the Boolean AND have one plan each, over the same
posting relation: a batch is one shared scan of the union of its terms,
scored per (qid, docid); the AND is the ``HAVING count(1) = n`` statement.

BM25+ (`OkapiBM25P.java:36-106`): every doc matching ≥1 term gets the constant
Σ_j idf_j (the δ=1 term for ALL query terms), plus idf_j·f_j(k1+1)/(f_j+B) for
matched terms. The constant is a driver-side scalar — no per-term work for
unmatched terms, exactly matching the reference's math.
"""

from __future__ import annotations

import contextlib
import math
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.expansion import expand_query
from ..config import EngineConfig
from ..oracle.engine import merge_terms
from ..session import local_rows_df as _local_df
from ..session import sql_double
from .index_build import IndexTables, _in_session, decode_blocks

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


@dataclass
class PreparedQuery:
    """Analyzed query + vocabulary lookups (J1) — all driver-side, tiny."""

    terms: list[tuple[str, float]]  # merged (term, weight), first-occurrence order
    dfs: list[int]
    idfs: list[float]
    n_docs: int
    avgdl: float


def prepare_query(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    config: EngineConfig,
    expander=None,
) -> PreparedQuery:
    """Driver-side analyze (+ optional E1-E3 expansion) + vocabulary lookups."""
    stats = tables.collection_stats(spark)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    terms = merge_terms(
        expand_query(query, expander, config.use_stemmer, config.use_stopwords)
    )
    dfs_found: dict[str, int] = {}
    if terms:
        # J1: query terms ⋈ vocabulary. Fast path: the per-handle driver
        # vocab map (the reference's query-time HashMap) — zero Spark jobs
        # per query. Fallback (vocabulary too big for the driver): pushed IN
        # filter on the cached table; misses get DF=0
        # (`Indexer.getDFs:991-1005`).
        vm = tables.vocab_map(spark)
        if vm is not None:
            dfs_found = {t: vm[t] for t, _ in terms if t in vm}
        else:
            rows = (
                tables.vocabulary(spark)
                .filter(F.col("term").isin([t for t, _ in terms]))
                .collect()
            )
            dfs_found = {r["term"]: r["df"] for r in rows}
    dfs = [int(dfs_found.get(t, 0)) for t, _ in terms]
    idfs = [math.log(n_docs / (1.0 + df)) for df in dfs]
    return PreparedQuery(terms, dfs, idfs, n_docs, avgdl)


def matched_postings(
    spark: SparkSession, tables: IndexTables, terms: list[str]
) -> DataFrame:
    """J2: the query terms' postings as (term, docid, tf, dl) rows — a
    ``term IN`` filter over the handle's decoded-postings cache, or, when
    that cache is over its size gate, a decode of the matching compressed
    blocks."""
    decoded = tables.decoded_postings(spark)
    if decoded is None:
        return decode_blocks(tables.postings(spark).filter(F.col("term").isin(terms)))
    return decoded.filter(F.col("term").isin(terms))


# ---------------------------------------------------------------------------
# Scoring formulas, each written once as a SQL fragment over column
# expressions. Doubles render bit-exactly and the operation order is fixed
# here, so every path that applies one scores identically.
# ---------------------------------------------------------------------------


def _bm25_contrib(
    tf: str, dl: str, weight: str, idf: str, config: EngineConfig, avgdl: float
) -> str:
    """One posting's BM25+ term (`OkapiBM25P.java:67-88`):
    idf·(f·(k1+1)/(f+B)), f = tf·weight, B = k1·(1−b+b·dl/avgdl)."""
    k1, b = config.bm25_k1, config.bm25_b
    f = f"({tf} * {weight})"
    norm = (
        f"({sql_double(k1)} * ({sql_double(1.0 - b)}"
        f" + {sql_double(b)} * {dl} / {sql_double(avgdl)}))"
    )
    return f"{idf} * ({f} * {sql_double(k1 + 1.0)} / ({f} + {norm}))"


def _bm25_block_bound(
    weight: str, idf: str, config: EngineConfig, avgdl: float
) -> str:
    """Block-max WAND's bound on any posting's BM25 term in a block: the term
    is monotone ↑ in tf and ↓ in dl, so it is :func:`_bm25_contrib` at the
    block's stored (max_tf, min_dl). idf<0 ⇒ every contribution < 0, so 0
    is a safe bound."""
    contrib = _bm25_contrib("max_tf", "min_dl", weight, idf, config, avgdl)
    return f"greatest({contrib}, {sql_double(0.0)})"


def _vsm_contrib(weight: str, idf: str, q_weight: str) -> str:
    """One posting's VSM dot-product term: the doc-side weight
    (tf·weight/maxTF)·idf times the query-side weight. Reads the posting's
    ``tf`` and the doc's ``max_tf``."""
    return f"{q_weight} * ((tf * {weight} / max_tf) * {idf})"


def _vsm_query_weights(pq: PreparedQuery) -> tuple[list[float], float]:
    """Query-side VSM weights (weight/max weight)·idf and their norm."""
    max_q_freq = max(w for _, w in pq.terms)
    q_weights = [(w / max_q_freq) * idf for (_, w), idf in zip(pq.terms, pq.idfs)]
    return q_weights, math.sqrt(sum(w * w for w in q_weights))


# ---------------------------------------------------------------------------
# Single-query statements
# ---------------------------------------------------------------------------


def _term_args(pq: PreparedQuery) -> dict[str, str]:
    """Bindings of a statement's term markers ``:t0, :t1, ...``."""
    return {f"t{i}": t for i, (t, _) in enumerate(pq.terms)}


def _term_filter(pq: PreparedQuery) -> str:
    return "term IN (%s)" % ", ".join(f":t{i}" for i in range(len(pq.terms)))


def _per_term(values: list[float]) -> str:
    """The posting's query-constant per-term double: a literal map keyed by
    the term markers (``values`` in ``pq.terms`` order)."""
    return "map(%s)[term]" % ", ".join(
        f":t{i}, {sql_double(v)}" for i, v in enumerate(values)
    )


def _bm25_sql(view: str, pq: PreparedQuery, config: EngineConfig) -> str:
    contrib = _bm25_contrib(
        "tf",
        "dl",
        _per_term([w for _, w in pq.terms]),
        _per_term(pq.idfs),
        config,
        pq.avgdl,
    )
    return (
        f"SELECT docid, sum({contrib}) + {sql_double(sum(pq.idfs))} AS raw"
        f" FROM {view} WHERE {_term_filter(pq)} GROUP BY docid"
    )


def _vsm_sql(view: str, stats_view: str, pq: PreparedQuery) -> str:
    q_weights, q_norm = _vsm_query_weights(pq)
    contrib = _vsm_contrib(
        _per_term([w for _, w in pq.terms]), _per_term(pq.idfs), _per_term(q_weights)
    )
    return (
        f"SELECT p.docid AS docid,"
        f" sum({contrib}) / (first(s.vsm_weight) * {sql_double(q_norm)}) AS raw"
        f" FROM {view} p JOIN {stats_view} s ON p.docid = s.docid"
        f" WHERE {_term_filter(pq)} GROUP BY p.docid"
    )


def _set_sql(view: str, pq: PreparedQuery, every_term: bool) -> str:
    """Existential (any term) or conjunctive (``every_term``): raw ≡ 1.0.
    A plain count suffices for the AND because (term, docid) is unique by
    postings construction and the query's terms are merged; count_distinct
    would compile to TWO exchanges (the expand + re-agg distinct rewrite)."""
    having = f" HAVING count(1) = {len(pq.terms)}" if every_term else ""
    return (
        f"SELECT docid, {sql_double(1.0)} AS raw FROM {view}"
        f" WHERE {_term_filter(pq)} GROUP BY docid{having}"
    )


@contextlib.contextmanager
def _posting_view(
    spark: SparkSession,
    tables: IndexTables,
    pq: PreparedQuery,
    frame: DataFrame | None = None,
):
    """Name of the (term, docid, tf, dl) relation a statement reads: the
    handle's decoded-postings view, or ``frame`` (by default, when that
    cache is over its size gate, the query's matched blocks decoded)
    registered as a temp view of the live session for the block. ``frame``
    must not be a cached relation: dropping a temp view uncaches the plan
    it names."""
    if frame is None:
        view = tables.table_view(spark, "decoded_postings")
        if view is not None:
            yield view
            return
        frame = matched_postings(spark, tables, [t for t, _ in pq.terms])
    name = f"__themis_query_{uuid.uuid4().hex}"
    _in_session(frame, spark).createOrReplaceTempView(name)
    try:
        yield name
    finally:
        spark.catalog.dropTempView(name)


def _topk_rows(spark: SparkSession, sql: str, pq: PreparedQuery, k: int) -> list:
    """A statement's top-k (docid, raw) rows: one Spark job."""
    return spark.sql(
        f"{sql} ORDER BY raw DESC, docid ASC LIMIT {int(k)}", args=_term_args(pq)
    ).collect()


def _rank(
    spark: SparkSession,
    tables: IndexTables,
    pq: PreparedQuery,
    render,
    k: int | None,
    pagerank_weight: float = 0.0,
    frame: DataFrame | None = None,
    const_one: bool = False,
) -> DataFrame:
    """Run a model's statement ``render(view)`` to a ranked (docid, score)
    frame. ``const_one``: the raw score is the constant 1.0 (the set
    models)."""
    with _posting_view(spark, tables, pq, frame) as view:
        sql = render(view)
        if k is not None and pagerank_weight == 0.0:
            return _normalized_rows_df(spark, _topk_rows(spark, sql, pq, k))
        raw = spark.sql(sql, args=_term_args(pq))
        if const_one:
            return _finalize_const_one(raw)
        return _finalize(spark, tables, raw, k, pagerank_weight)


def _normalized_rows_df(spark: SparkSession, rows: list) -> DataFrame:
    """(docid, raw) top-k rows → max-normalized TOPK frame. Normalization is
    monotone, so the top-k order is the final order and the global max is
    the first row; the reference forces max→1 when ≤ 0
    (`OkapiBM25P.java:91-94` / `VSM.java:113-116`)."""
    if not rows:
        return _local_df(spark, [], TOPK_SCHEMA)
    max_raw = rows[0]["raw"]
    if max_raw <= 0.0:
        max_raw = 1.0
    return _local_df(
        spark, [(r["docid"], r["raw"] / max_raw) for r in rows], TOPK_SCHEMA
    )


def _finalize(
    spark: SparkSession,
    tables: IndexTables,
    raw_scores: DataFrame,  # (docid, raw)
    k: int | None,
    pagerank_weight: float,
) -> DataFrame:
    """Max-normalize, optional PageRank blend, tie-broken ranking
    (`Retrieval.sort:71-116`) for the cases the bounded-k statement does not
    cover. No path ever collects an unbounded result set on the driver (a
    head term at web scale matches 10^9 docs):

    * k=None (the reference's k=∞ evaluation path), no blend: scalar max agg
      (one job), then the division is applied DISTRIBUTEDLY and the sorted
      result is returned unmaterialized — the caller's action re-runs the
      (term-pruned) scoring scan; two distributed passes, zero driver
      materialization (`OkapiBM25P.java:90-99` is also two passes).
    * blend: result-set pagerank max forces the persisted two-pass plan;
      bounded k collects k rows, k=None localCheckpoints (distributed
      materialization) so the persisted parents can be released."""
    if pagerank_weight == 0.0:
        max_raw = raw_scores.agg(F.max("raw")).head()[0]
        if max_raw is None:
            return _local_df(spark, [], TOPK_SCHEMA)
        if max_raw <= 0.0:
            max_raw = 1.0
        return (
            raw_scores.select(
                "docid", (F.col("raw") / F.lit(max_raw)).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("docid"))
        )

    raw_scores = raw_scores.persist()
    scored = None
    try:
        max_raw = raw_scores.agg(F.max("raw")).head()[0]
        if max_raw is None:
            return _local_df(spark, [], TOPK_SCHEMA)
        if max_raw <= 0.0:
            max_raw = 1.0

        pr = tables.pagerank(spark)
        scored = (
            raw_scores.withColumn("score", F.col("raw") / F.lit(max_raw))
            .join(pr, "docid", "left")
            .withColumn("pagerank", F.coalesce(F.col("pagerank"), F.lit(0.0)))
            .persist()
        )
        max_pr = scored.agg(F.max("pagerank")).head()[0]
        if not max_pr or max_pr == 0.0:
            max_pr = 1.0
        final = (
            scored.withColumn(
                "score",
                F.col("score") * F.lit(1.0 - pagerank_weight)
                + (F.col("pagerank") / F.lit(max_pr)) * F.lit(pagerank_weight),
            )
            .select("docid", "score")
            .orderBy(F.desc("score"), F.asc("docid"))
        )
        if k is not None:
            return _local_df(spark, final.limit(k).collect(), TOPK_SCHEMA)
        # k=None: distributed materialization, then parents can be released
        return final.localCheckpoint()
    finally:
        if scored is not None:
            scored.unpersist()
        raw_scores.unpersist()


def _finalize_const_one(raw: DataFrame) -> DataFrame:
    """k=None `_finalize` of the set models, whose raw score is the CONSTANT
    1.0: max-normalization is the identity there (max of a constant-1
    column is 1 when any row exists; the empty result is empty either way),
    so the scalar max-agg job `_finalize` would run is skipped."""
    return raw.select("docid", F.lit(1.0).alias("score")).orderBy(
        F.desc("score"), F.asc("docid")
    )


def bm25_topk(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
) -> DataFrame:
    """Okapi BM25+ top-k → (docid, score), scores max-normalized to [0,1]."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pq = prepare_query(spark, tables, query, config, expander=expander)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)
    return _rank(
        spark, tables, pq, lambda v: _bm25_sql(v, pq, config), k, pagerank_weight
    )


# WAND's selectivity condition. Volume alone cannot make pruning pay: the
# crossover bench (BENCH/wand_crossover.json) shows all-common-term queries
# at Σ DF up to 6M LOSING under WAND (every block's UB stays above θ;
# 1956/1956 groups survive). So the query's rare terms (DF ≤ n_docs /
# WAND_RARE_DF_DIVISOR, i.e. idf ≳ ln(divisor)) must together cover ≥ k
# docs, otherwise θ is anchored by common-term docs and no group prunes (a
# single hapax term cannot lift the k-th best).
WAND_RARE_DF_DIVISOR = 1000


def _wand_pays(
    spark: SparkSession,
    tables: IndexTables,
    pq: PreparedQuery,
    k: int,
    config: EngineConfig,
) -> bool:
    """Routing of :func:`bm25_topk_wand`. ``wand_min_postings == 0`` always
    runs WAND (tests, gate). With the decoded-postings cache open it never
    does: the cached plan is one job with no decode. Otherwise (measured,
    BENCH/wand_crossover.json) pruning pays only when BOTH the decode
    volume clears the crossover AND the query is selective — its rare terms
    (df ≤ N/divisor) must cover ≥ k docs so θ can rise above common-only
    blocks' UB. Driver arithmetic on pq.dfs."""
    if config.wand_min_postings == 0:
        return True
    if tables.decoded_postings(spark) is not None:
        return False
    rare_df_max = max(1, pq.n_docs // WAND_RARE_DF_DIVISOR)
    rare_cover = sum(df for df in pq.dfs if df <= rare_df_max)
    return sum(pq.dfs) >= config.wand_min_postings and rare_cover >= k


BATCH_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.IntegerType(), False),
        T.StructField("docid", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def bm25_topk_batch(
    spark: SparkSession,
    tables: IndexTables,
    queries: list[tuple[int, str]],
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
) -> DataFrame:
    """N queries → ONE distributed pass: (qid, docid, score), rank-identical
    per qid to :func:`bm25_topk` run query-by-query.

    The reference's evaluation workload runs 635 queries sequentially
    (`ThemisEval.java:136-180`, one full ranking each). On a cluster that
    leaves the executors idle between driver round-trips; this operator
    amortizes the whole batch over a single plan:

      * one postings scan pruned to the UNION of all query terms (the
        pushed-IN filter covers the batch, so shared head terms are read
        once), whatever each query's selectivity;
      * per-query weights/idfs ride a broadcast (qid, term, weight, idf)
        frame — at batch size a real broadcast join beats N literal-map
        plans, inverting the single-query design choice (`_per_term`);
      * scoring aggregates by (qid, docid) — one shuffle for the batch; the
        per-query additive Σidf constant (`OkapiBM25P.java:40-43` δ-term)
        joins back on qid from a second driver-sized broadcast;
      * max-normalization and tie-broken top-k are per-qid WINDOW functions
        over the same qid-partitioned exchange — no per-query jobs at all.

    Queries whose analyzed term list is empty, or whose terms match no
    postings, contribute no output rows (the per-query path returns an empty
    frame for them). With ``pagerank_weight > 0`` the blend normalizes
    PageRank by each query's own result-set maximum, exactly like
    `_finalize`. Output is not globally sorted; sort or window per qid at
    the call site if presentation order matters.
    """
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pqs = _prepare_batch(spark, tables, queries, config, expander)
    if not pqs:
        return _local_df(spark, [], BATCH_TOPK_SCHEMA)
    raw = _bm25_batch_raw_exhaustive(spark, tables, pqs, config)
    return _finalize_batch(spark, tables, raw, k, pagerank_weight)


def _prepare_batch(
    spark: SparkSession,
    tables: IndexTables,
    queries: list[tuple[int, str]],
    config: EngineConfig,
    expander,
) -> dict[int, PreparedQuery]:
    """qid → prepared query, for the queries with at least one term."""
    pqs = {}
    for qid, text in queries:
        pq = prepare_query(spark, tables, text, config, expander=expander)
        if pq.terms:
            pqs[qid] = pq
    return pqs


def _bm25_batch_raw_exhaustive(
    spark: SparkSession,
    tables: IndexTables,
    pqs: dict[int, PreparedQuery],
    config: EngineConfig,
) -> DataFrame:
    """Shared-scan exhaustive batch scoring → (qid, docid, raw): the union
    of the batch's terms is scanned once, and each posting fans out JVM-side
    to the qids holding its term. Per-query weights/idfs and Σidf ride
    driver-sized frames, the batch equivalents of the single-query literal
    maps, attached as broadcast joins (at batch size a real broadcast beats
    N literal plans)."""
    union_terms = sorted({t for pq in pqs.values() for t, _ in pq.terms})
    posting = matched_postings(spark, tables, union_terms)
    qt = _local_df(
        spark,
        [
            (qid, t, float(w), float(idf))
            for qid, pq in pqs.items()
            for (t, w), idf in zip(pq.terms, pq.idfs)
        ],
        "qid int, term string, weight double, idf double",
    )
    qsum = _local_df(
        spark,
        [(qid, float(sum(pq.idfs))) for qid, pq in pqs.items()],
        "qid int, sum_idf double",
    )
    avgdl = next(iter(pqs.values())).avgdl
    contrib = _bm25_contrib("tf", "dl", "weight", "idf", config, avgdl)
    return (
        posting.join(F.broadcast(qt), "term")
        .withColumn("contrib", F.expr(contrib))
        .groupBy("qid", "docid")
        .agg(F.sum("contrib").alias("contrib"))
        .join(F.broadcast(qsum), "qid")
        .select("qid", "docid", (F.col("contrib") + F.col("sum_idf")).alias("raw"))
    )


def _finalize_batch(
    spark: SparkSession,
    tables: IndexTables,
    raw: DataFrame,  # (qid, docid, raw)
    k: int | None,
    pagerank_weight: float,
) -> DataFrame:
    """Per-qid `_finalize`: max-normalize, optional PageRank blend (each
    query's blend normalizes by its OWN result-set pagerank max), tie-broken
    top-k — all as windows over one qid-partitioned exchange."""
    wq = Window.partitionBy("qid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the reference forces max to 1.0 when nothing beats 0
    # (OkapiBM25P.java:91-94)
    mx = F.max("raw").over(wq)
    mx = F.when(mx <= 0.0, F.lit(1.0)).otherwise(mx)
    scored = raw.withColumn("score", F.col("raw") / mx)

    if pagerank_weight != 0.0:
        pr = tables.pagerank(spark)
        scored = (
            scored.join(pr, "docid", "left")
            .withColumn("pagerank", F.coalesce(F.col("pagerank"), F.lit(0.0)))
        )
        max_pr = F.max("pagerank").over(wq)
        max_pr = F.when(
            max_pr.isNull() | (max_pr == 0.0), F.lit(1.0)
        ).otherwise(max_pr)
        scored = scored.withColumn(
            "score",
            F.col("score") * F.lit(1.0 - pagerank_weight)
            + (F.col("pagerank") / max_pr) * F.lit(pagerank_weight),
        )

    if k is not None:
        rn = F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        )
        scored = scored.withColumn("__rn", rn).filter(F.col("__rn") <= k)
    return scored.select("qid", "docid", "score")


def bm25_topk_wand(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int = 10,
    config: EngineConfig | None = None,
    stats: dict | None = None,
    pagerank_weight: float | None = None,
) -> DataFrame:
    """Block-max WAND BM25+ top-k — rank-identical to :func:`bm25_topk`, but
    prunes posting blocks by metadata before any decode work.

    The reference scores every posting exhaustively (`OkapiBM25P.java:51-88`);
    this is the scale extension from SURVEY.md §4 / the north rule. Spark-first
    shape (no per-posting driver work, three tiny collects):

      1. **Metadata pass (JVM only).** For each (term, block_id) block of the
         query terms, an upper bound on the per-doc BM25 contribution from the
         stored `max_tf` / `min_dl` (:func:`_bm25_block_bound`). Summing over
         terms per block_id gives UB(group) ≥ best possible raw score of any
         doc in that docid range. Pure column math on the compressed-postings
         view — the gaps/tfs/dls binaries are never touched.
      2. **Seed.** Decode only the top groups by UB (enough to cover ≥ k docs),
         score exactly, take the k-th raw score as threshold θ.
      3. **Prune + exact.** Keep groups with UB ≥ θ (distributed filter on the
         metadata), decode + score only those with the bm25 statement
         (`ORDER BY raw DESC, docid ASC LIMIT k`: TakeOrderedAndProject =
         bounded per-partition min-heap + driver merge).

    Any pruned doc scores ≤ UB(group) < θ ≤ true k-th score, so the result —
    including the max-normalization constant, whose argmax doc always survives
    — is identical to the exhaustive path (property-tested).

    WAND pruning is only sound for the PURE BM25 score: a PageRank blend
    re-ranks by a quantity the block-max bound does not dominate. With a
    non-zero ``pagerank_weight`` (explicit or from config) this routes to the
    exhaustive plan, keeping results identical to :func:`bm25_topk`."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pq = prepare_query(spark, tables, query, config)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)

    def bm25(view: str) -> str:
        return _bm25_sql(view, pq, config)

    if pagerank_weight != 0.0 or not _wand_pays(spark, tables, pq, k, config):
        if stats is not None:
            stats["fallback"] = (
                "exhaustive" if pagerank_weight == 0.0 else "exhaustive_pagerank_blend"
            )
        return _rank(spark, tables, pq, bm25, k, pagerank_weight)

    blocks = tables.postings(spark).filter(F.col("term").isin([t for t, _ in pq.terms]))
    bound = _bm25_block_bound(
        _per_term([w for _, w in pq.terms]), _per_term(pq.idfs), config, pq.avgdl
    )
    group_ub = spark.sql(
        f"SELECT block_id, sum({bound}) + {sql_double(sum(pq.idfs))} AS group_ub,"
        # ≥ distinct docs reachable via one term
        f" max(df) AS min_docs FROM {tables.table_view(spark, 'postings')}"
        f" WHERE {_term_filter(pq)} GROUP BY block_id",
        args=_term_args(pq),
    ).persist()
    try:
        # seed: prefix of groups (by UB desc) holding ≥ 4k docs AND spanning
        # ≥ min(k, available) groups. Both floors matter: overshooting k docs
        # keeps a coarse block's common-term crowd from dominating θ, and the
        # ≥ k-groups floor keeps one common-heavy group from terminating the
        # seed early — with selective queries the true top-k is spread over k
        # different high-UB groups (one rare doc each), and a θ taken from a
        # single group sits at common-doc level, pruning nothing (measured:
        # 381/381 groups survived on 12-rare-term queries before this floor).
        # Seed decode stays O(k) groups regardless of corpus size.
        seed_rows = (
            group_ub.orderBy(F.desc("group_ub"), F.asc("block_id"))
            .select("block_id", "min_docs")
            .limit(max(4 * k, 64))  # bounded driver transfer
            .collect()
        )
        min_groups = min(k, len(seed_rows))
        seed_ids, covered = [], 0
        for r in seed_rows:
            seed_ids.append(r["block_id"])
            covered += r["min_docs"]
            if covered >= 4 * k and len(seed_ids) >= min_groups:
                break
        seed = decode_blocks(blocks.filter(F.col("block_id").isin(seed_ids)))
        with _posting_view(spark, tables, pq, seed) as view:
            seed_top = _topk_rows(spark, bm25(view), pq, k)
        theta = seed_top[-1]["raw"] if seed_top else None

        if theta is None or len(seed_top) < k:
            survivors = blocks  # not enough docs to fill k: no safe pruning
        else:
            keep = group_ub.filter(F.col("group_ub") >= F.lit(theta)).select(
                "block_id"
            )
            survivors = blocks.join(F.broadcast(keep), "block_id", "left_semi")

        if stats is not None:
            stats["theta"] = theta
            stats["n_blocks_total"] = blocks.count()
            stats["n_blocks_survived"] = survivors.count()
            stats["n_seed_groups"] = len(seed_ids)

        return _rank(spark, tables, pq, bm25, k, frame=decode_blocks(survivors))
    finally:
        group_ub.unpersist()


def vsm_topk(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
) -> DataFrame:
    """VSM top-k (`VSM.java:33-129`): query idf = ln(N/(1+DF)); the per-doc norm
    is the index-time vsm_weight (ln(N/DF)) — the reference's inconsistency,
    replicated. Joins doc_stats for (max_tf, vsm_weight) (J3)."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pq = prepare_query(spark, tables, query, config, expander=expander)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)
    stats_view = tables.table_view(spark, "doc_stats")
    return _rank(
        spark, tables, pq, lambda v: _vsm_sql(v, stats_view, pq), k, pagerank_weight
    )


def vsm_topk_batch(
    spark: SparkSession,
    tables: IndexTables,
    queries: list[tuple[int, str]],
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
) -> DataFrame:
    """VSM twin of :func:`bm25_topk_batch`: N queries, one plan, per-qid
    rank/score-identical to :func:`vsm_topk`. Per-query weights/idfs/cosine
    q-weights ride one broadcast frame; the per-query norm joins back on qid
    after the (qid, docid) aggregation; doc-side (max_tf, vsm_weight) joins
    from doc_stats exactly as the sequential path (J3)."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pqs = _prepare_batch(spark, tables, queries, config, expander)
    if not pqs:
        return _local_df(spark, [], BATCH_TOPK_SCHEMA)

    qt_rows, qn_rows = [], []
    for qid, pq in pqs.items():
        q_weights, q_norm = _vsm_query_weights(pq)
        qn_rows.append((qid, q_norm))
        qt_rows += [
            (qid, t, float(w), float(idf), float(qw))
            for ((t, w), idf, qw) in zip(pq.terms, pq.idfs, q_weights)
        ]
    qt = _local_df(
        spark, qt_rows, "qid int, term string, weight double, idf double, q_weight double"
    )
    qn = _local_df(spark, qn_rows, "qid int, q_norm double")

    union_terms = sorted({t for pq in pqs.values() for t, _ in pq.terms})
    posting = matched_postings(spark, tables, union_terms)
    stats = tables.doc_stats(spark).select("docid", "max_tf", "vsm_weight")
    raw = (
        posting.join(F.broadcast(qt), "term")
        .join(stats, "docid")
        .withColumn("contrib", F.expr(_vsm_contrib("weight", "idf", "q_weight")))
        .groupBy("qid", "docid")
        .agg((F.sum("contrib") / F.first("vsm_weight")).alias("dot"))
        .join(F.broadcast(qn), "qid")
        .select("qid", "docid", (F.col("dot") / F.col("q_norm")).alias("raw"))
    )
    return _finalize_batch(spark, tables, raw, k, pagerank_weight)


def existential(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = None,
    config: EngineConfig | None = None,
) -> DataFrame:
    """Existential model (`Existential.java:28-59`): docs containing ANY query
    term, score ≡ 1.0 — one GROUP BY docid over the term-filtered postings
    (J7)."""
    config = config or tables.config
    pq = prepare_query(spark, tables, query, config)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)
    return _rank(
        spark, tables, pq, lambda v: _set_sql(v, pq, every_term=False), k,
        const_one=True,
    )


def conjunctive(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = None,
    config: EngineConfig | None = None,
) -> DataFrame:
    """Boolean AND — docs containing EVERY distinct query term, score ≡ 1.0.

    Extension: the reference brands a "Boolean model" but implements only the
    OR half (`Existential.java:14-18`, SURVEY §2.7); this is the missing
    intersection. An OOV term (DF=0) empties the result without touching the
    cluster.

    Plan: ONE term-pruned postings scan → `GROUP BY docid HAVING count = n`
    — a single shuffle with map-side partial agg (:func:`_set_sql`). The
    naive alternative (a k-way chain of per-term semi-joins) is k shuffles
    of the same postings; the most selective term bounds the output exactly
    as in the reference's heap-merge engines.
    """
    config = config or tables.config
    pq = prepare_query(spark, tables, query, config)
    if not pq.terms or any(df == 0 for df in pq.dfs):
        return _local_df(spark, [], TOPK_SCHEMA)
    return _rank(
        spark, tables, pq, lambda v: _set_sql(v, pq, every_term=True), k,
        const_one=True,
    )


def result_window(topk: DataFrame, start: int, end: int) -> DataFrame:
    """O5 — result page slice [start, end] (1-based, inclusive): the
    `Search.printResults` paging (`Search.java:330-361`). Applies to an
    already-ranked result frame; offset+limit keep the parent ordering."""
    return topk.offset(start - 1).limit(end - start + 1)


def topk_with_docs(
    spark: SparkSession, tables: IndexTables, topk: DataFrame
) -> DataFrame:
    """F4/J4: project display fields onto a (small) top-k.

    The k-row result is the BROADCAST side and doc_ids the streamed side —
    the only direction that works at 10^12 docs. Inner join: every docid in
    a result frame exists in doc_ids by construction (doc_ids IS the docid
    assignment; postings are built from it), and a left-outer here would
    forbid building the broadcast (outer) side, silently downgrading the
    hint (observed as HintErrorLogger warnings in gate runs)."""
    doc_ids = tables.doc_ids(spark)
    extra = [c for c in doc_ids.columns if c != "docid"]
    return (
        doc_ids.join(F.broadcast(topk), "docid")
        .select(*topk.columns, *extra)
        .orderBy(F.desc("score"), F.asc("docid"))
    )
