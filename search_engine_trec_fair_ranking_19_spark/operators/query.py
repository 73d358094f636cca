"""Query-time retrieval — the Spark rebuild of `Search.search()` →
`Retrieval.getRankedResults()` (SURVEY.md §3.2).

Plan shape per query (all stock DataFrame ops, no Python per query):

  per-handle decoded-postings cache (block_id, term, docid, tf, dl)
      [decoded once per handle by one mapInArrow pass over the compressed
       blocks; MEMORY_ONLY, term-sorted, size-gated — `IndexTables`]
  → term IN (query terms)  (in-memory batch pruning on the term stats)
  → per-(term,doc) score expression with literal-map weights/idfs
      (whole-stage codegen)
  → groupBy(docid).agg(sum)  [sparse hash agg — replaces the reference's dense
      double[N] arrays, `OkapiBM25P.java:28-29,40-43`, impossible at 10^12 docs]
  → max-normalize → optional PageRank blend (`Retrieval.sort:71-116`)
  → orderBy(desc(score), asc(docid)).limit(k)   [TakeOrderedAndProject =
      per-partition bounded heap + driver merge; tie-break is rank-critical]

Block-max WAND and the block-pruned AND read the COMPRESSED blocks instead:
they prune on block metadata (max_tf, min_dl, block ids) before decoding the
surviving blocks with :func:`decode_blocks`. So do all paths when the decoded
cache is over its size gate (then the SQL fast paths return None and the
Column-API plans run).

BM25+ (`OkapiBM25P.java:36-106`): every doc matching ≥1 term gets the constant
Σ_j idf_j (the δ=1 term for ALL query terms), plus idf_j·f_j(k1+1)/(f_j+B) for
matched terms. The constant is a driver-side scalar — no per-term work for
unmatched terms, exactly matching the reference's math.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.expansion import expand_query
from ..config import EngineConfig
from ..oracle.engine import merge_terms
from ..session import local_rows_df as _local_df
from .index_build import IndexTables, decode_blocks

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# terms eligible for inlining into a SQL string literal: anything except
# quote/backslash/control chars (the parser's escape machinery). Query
# tokenization splits on both quote chars, so real queries always qualify;
# anything exotic just takes the Column-API path.
_SQL_SAFE_TERM = re.compile(r"[^'\"\\\x00-\x1f]+\Z")


def _sql_double(v: float) -> str:
    """Bit-exact double literal (repr → correctly-rounded decimal cast)."""
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        name = "NaN" if f != f else ("Infinity" if f > 0 else "-Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    return f"CAST({f!r} AS DOUBLE)"


def _bm25_topk_sql(
    spark: SparkSession,
    tables: IndexTables,
    pq: PreparedQuery,
    config: EngineConfig,
    k: int,
) -> list | None:
    """Single-statement SQL twin of matched_postings → _bm25_raw → top-k.

    The Column-API path spends ~0.2 s/query on ~260 Py4J round-trips of
    incremental plan construction — more than the sf0.1 EXECUTION time of
    the query. Building the identical logical plan as ONE SQL string is two
    round-trips (sql + collect). Expression tree mirrors `_bm25_raw`
    operation-for-operation (same literals via repr, same associativity),
    so scores are bit-identical — the bm25 gate entries pin that. Returns
    None when a term can't be safely inlined or the decoded-postings cache
    is over its size gate (→ caller falls back)."""
    terms = [t for t, _ in pq.terms]
    if not all(_SQL_SAFE_TERM.match(t) for t in terms):
        return None
    view = tables.table_view(spark, "decoded_postings")
    if view is None:
        return None
    in_list = ", ".join(f"'{t}'" for t in terms)
    wmap = "map(%s)" % ", ".join(
        f"'{t}', {_sql_double(w)}" for t, w in pq.terms
    )
    imap = "map(%s)" % ", ".join(
        f"'{t}', {_sql_double(i)}" for (t, _), i in zip(pq.terms, pq.idfs)
    )
    k1, b = config.bm25_k1, config.bm25_b
    f_expr = f"(tf * {wmap}[term])"
    b_expr = (
        f"({_sql_double(k1)} * ({_sql_double(1.0 - b)}"
        f" + {_sql_double(b)} * dl / {_sql_double(pq.avgdl)}))"
    )
    contrib = f"{imap}[term] * ({f_expr} * {_sql_double(k1 + 1.0)} / ({f_expr} + {b_expr}))"
    sql = f"""{_posting_cte(view, in_list)}
        SELECT docid, sum({contrib}) + {_sql_double(sum(pq.idfs))} AS raw
        FROM posting GROUP BY docid
        ORDER BY raw DESC, docid ASC LIMIT {int(k)}
    """
    return spark.sql(sql).collect()


def _posting_cte(view: str, in_list: str) -> str:
    """Shared postings CTE of the single-statement SQL query paths: a term
    filter over the decoded-postings view (unused columns are pruned)."""
    return f"""
        WITH posting AS (
          SELECT term, docid, tf, dl FROM {view} WHERE term IN ({in_list})
        )"""


def _vsm_topk_sql(
    spark: SparkSession,
    tables: IndexTables,
    pq: PreparedQuery,
    k: int,
    q_weights: list[float],
    q_norm: float,
) -> list | None:
    """Single-statement SQL twin of vsm_topk's posting ⋈ doc_stats scoring —
    same rationale and same bit-exactness contract as :func:`_bm25_topk_sql`
    (expression tree mirrors the Column plan operation-for-operation)."""
    terms = [t for t, _ in pq.terms]
    if not all(_SQL_SAFE_TERM.match(t) for t in terms):
        return None
    pview = tables.table_view(spark, "decoded_postings")
    if pview is None:
        return None
    sview = tables.table_view(spark, "doc_stats")
    in_list = ", ".join(f"'{t}'" for t in terms)
    wmap = "map(%s)" % ", ".join(
        f"'{t}', {_sql_double(w)}" for t, w in pq.terms
    )
    imap = "map(%s)" % ", ".join(
        f"'{t}', {_sql_double(i)}" for (t, _), i in zip(pq.terms, pq.idfs)
    )
    qwmap = "map(%s)" % ", ".join(
        f"'{t}', {_sql_double(qw)}" for (t, _), qw in zip(pq.terms, q_weights)
    )
    contrib = (
        f"{qwmap}[posting.term] * ((posting.tf * {wmap}[posting.term]"
        f" / s.max_tf) * {imap}[posting.term])"
    )
    sql = f"""{_posting_cte(pview, in_list)}
        SELECT posting.docid AS docid,
               sum({contrib}) / (first(s.vsm_weight) * {_sql_double(q_norm)}) AS raw
        FROM posting JOIN {sview} s ON posting.docid = s.docid
        GROUP BY posting.docid
        ORDER BY raw DESC, docid ASC LIMIT {int(k)}
    """
    return spark.sql(sql).collect()


def _normalized_rows_df(spark: SparkSession, rows: list) -> DataFrame:
    """(docid, raw) top-k rows → max-normalized TOPK frame, exactly like
    _finalize's bounded-k branch (reference forces max→1 when ≤ 0,
    `OkapiBM25P.java:91-94` / `VSM.java:113-116`)."""
    if not rows:
        return _local_df(spark, [], TOPK_SCHEMA)
    max_raw = rows[0]["raw"]
    if max_raw <= 0.0:
        max_raw = 1.0
    return _local_df(
        spark, [(r["docid"], r["raw"] / max_raw) for r in rows], TOPK_SCHEMA
    )


def _bm25_exhaustive(
    spark: SparkSession,
    tables: IndexTables,
    pq: PreparedQuery,
    config: EngineConfig,
    k: int | None,
    pagerank_weight: float,
) -> DataFrame:
    """Exhaustive BM25+ scoring shared by bm25_topk and the WAND router's
    fallbacks: SQL single-statement fast path when eligible (bounded k, no
    blend), else the Column-API plan + _finalize."""
    if k is not None and pagerank_weight == 0.0:
        rows = _bm25_topk_sql(spark, tables, pq, config, k)
        if rows is not None:
            return _normalized_rows_df(spark, rows)
    posting = matched_postings(spark, tables, [t for t, _ in pq.terms])
    return _finalize(
        spark, tables, _bm25_raw(spark, posting, pq, config), k, pagerank_weight
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
    return decoded.filter(F.col("term").isin(terms)).select(
        "term", "docid", "tf", "dl"
    )


def _lit_map(pairs) -> Column:
    """[(key, value)] → constant map literal column.

    Query weights/idfs are attached to postings as LITERAL map lookups, not a
    broadcast-DF join: a query has a handful of terms, so the lookup is a
    short constant-folded chain inside the scoring stage's codegen — no
    broadcast exchange, no extra Spark job per query (round-2 bench: ~4 jobs
    per query, one of which was exactly this build-and-broadcast)."""
    return F.create_map(*[F.lit(x) for kv in pairs for x in kv])


def _weight_idf_cols(pq: PreparedQuery) -> tuple[Column, Column]:
    term = F.col("term")
    weight = _lit_map(pq.terms)[term]
    idf = _lit_map(zip((t for t, _ in pq.terms), pq.idfs))[term]
    return weight, idf


def _finalize(
    spark: SparkSession,
    tables: IndexTables,
    raw_scores: DataFrame,  # (docid, raw)
    k: int | None,
    pagerank_weight: float,
) -> DataFrame:
    """Max-normalize, optional PageRank blend, tie-broken top-k
    (`Retrieval.sort:71-116`).

    Plan by case — no path ever collects an unbounded result set on the
    driver (a head term at web scale matches 10^9 docs):

    * bounded k, no blend: normalization is monotone, so the top-k ORDER
      (desc raw, asc docid) is the final order and max(raw) is the first
      collected row — ONE Spark job (TakeOrderedAndProject), division done on
      the k collected rows.
    * k=None (the reference's k=∞ evaluation path), no blend: scalar max agg
      (one job), then the division is applied DISTRIBUTEDLY and the sorted
      result is returned unmaterialized — the caller's action re-runs the
      (term-pruned) scoring scan; two distributed passes, zero driver
      materialization (`OkapiBM25P.java:90-99` is also two passes).
    * blend: result-set pagerank max forces the persisted two-pass plan;
      bounded k collects k rows, k=None localCheckpoints (distributed
      materialization) so the persisted parents can be released."""
    if pagerank_weight == 0.0:
        if k is not None:
            rows = (
                raw_scores.orderBy(F.desc("raw"), F.asc("docid"))
                .limit(k)
                .collect()
            )
            if not rows:
                return _local_df(spark, [], TOPK_SCHEMA)
            max_raw = rows[0]["raw"]  # global max: sort desc, row 1 survives
            if max_raw <= 0.0:
                # the reference's running max starts at 0 and is forced to 1
                # when nothing exceeds it (OkapiBM25P.java:91-94, VSM.java:113-116)
                max_raw = 1.0
            return _local_df(
                spark, [(r["docid"], r["raw"] / max_raw) for r in rows], TOPK_SCHEMA
            )
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
            rows = final.limit(k).collect()
            return (
                _local_df(spark, rows, TOPK_SCHEMA)
                if rows
                else _local_df(spark, [], TOPK_SCHEMA)
            )
        # k=None: distributed materialization, then parents can be released
        return final.localCheckpoint()
    finally:
        if scored is not None:
            scored.unpersist()
        raw_scores.unpersist()


def _finalize_const_one(
    spark: SparkSession, docs: DataFrame, k: int | None
) -> DataFrame:
    """_finalize for the set-model paths whose raw score is the CONSTANT
    1.0 (existential / conjunctive): max-normalization is the identity
    there (max of a constant-1 column is 1 when any row exists; the empty
    result is empty either way), so the scalar max-agg job _finalize
    would run per query is pure overhead — skip it. Ordering and schema
    are identical to _finalize's k=None / bounded-k branches."""
    out = docs.select("docid", F.lit(1.0).alias("score")).orderBy(
        F.desc("score"), F.asc("docid")
    )
    if k is None:
        return out
    return _local_df(
        spark,
        [(r["docid"], r["score"]) for r in out.limit(k).collect()],
        TOPK_SCHEMA,
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
    return _bm25_exhaustive(spark, tables, pq, config, k, pagerank_weight)


def _bm25_raw(
    spark: SparkSession, posting: DataFrame, pq: PreparedQuery, config: EngineConfig
) -> DataFrame:
    """(term, docid, tf, dl) → (docid, raw) BM25+ scores (`OkapiBM25P.java:67-88`).

    Postings arrive pre-filtered to the query terms (`matched_postings`), so
    weight/idf attach as literal-map lookups — the whole scoring is one
    codegen stage with no join."""
    k1, b = config.bm25_k1, config.bm25_b
    weight, idf = _weight_idf_cols(pq)
    f = F.col("tf") * weight
    B = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(pq.avgdl)
    )
    contrib = idf * (f * F.lit(k1 + 1.0) / (f + B))
    return (
        posting.withColumn("contrib", contrib)
        .groupBy("docid")
        .agg((F.sum("contrib") + F.lit(sum(pq.idfs))).alias("raw"))
    )


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
    stats: dict | None = None,
) -> DataFrame:
    """N queries → ONE distributed pass: (qid, docid, score), rank-identical
    per qid to :func:`bm25_topk` run query-by-query.

    The reference's evaluation workload runs 635 queries sequentially
    (`ThemisEval.java:136-180`, one full ranking each). On a cluster that
    leaves the executors idle between driver round-trips; this operator
    amortizes the whole batch over a single plan:

      * one postings scan pruned to the UNION of all query terms (the
        pushed-IN filter covers the batch, so shared head terms decode once);
      * per-query weights/idfs ride a broadcast (qid, term, weight, idf)
        frame — at batch size a real broadcast join beats N literal-map
        plans, inverting the single-query design choice (`_lit_map`);
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

    **WAND routing.** Each qid is routed by the same driver arithmetic as
    :func:`bm25_topk_wand` (Σ DF ≥ ``wand_min_postings`` AND rare-term
    coverage ≥ k; only with bounded ``k`` and no PageRank blend — pruning is
    unsound otherwise). Qualifying qids share ONE batched block-max WAND
    pass (:func:`_bm25_batch_raw_wand`: one metadata aggregation, one seed
    decode, one survivor decode — each block decoded at most once for the
    whole sub-batch); the rest share the exhaustive scan. Results are
    rank-identical either way; ``stats['paths']`` records the per-qid route.
    """
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pqs: dict[int, PreparedQuery] = {}
    for qid, text in queries:
        pq = prepare_query(spark, tables, text, config, expander=expander)
        if pq.terms:
            pqs[qid] = pq
    if not pqs:
        return _local_df(spark, [], BATCH_TOPK_SCHEMA)

    # per-qid routing — identical arithmetic to the single-query entry
    # point (see bm25_topk_wand): decode volume must clear the measured
    # crossover AND the query must be selective enough for θ to rise
    wand_pqs: dict[int, PreparedQuery] = {}
    exh_pqs: dict[int, PreparedQuery] = dict(pqs)
    if k is not None and pagerank_weight == 0.0:
        forced = config.wand_min_postings == 0
        for qid, pq in pqs.items():
            rare_df_max = max(
                1, pq.n_docs // max(config.wand_rare_df_divisor, 1)
            )
            rare_cover = sum(df for df in pq.dfs if df <= rare_df_max)
            if forced or (
                sum(pq.dfs) >= config.wand_min_postings and rare_cover >= k
            ):
                wand_pqs[qid] = exh_pqs.pop(qid)
    if stats is not None:
        stats["paths"] = {
            qid: ("wand" if qid in wand_pqs else "exhaustive")
            for qid in pqs
        }

    parts = []
    if exh_pqs:
        parts.append(_bm25_batch_raw_exhaustive(spark, tables, exh_pqs, config))
    if wand_pqs:
        parts.append(
            _bm25_batch_raw_wand(spark, tables, wand_pqs, k, config, stats)
        )
    raw = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return _finalize_batch(spark, tables, raw, k, pagerank_weight)


def _batch_query_frames(
    spark: SparkSession, pqs: dict[int, PreparedQuery]
) -> tuple[DataFrame, DataFrame]:
    """Driver-sized (qid, term, weight, idf) and (qid, sum_idf) frames —
    the batch equivalents of the single-query literal maps, attached as
    broadcast joins (at batch size a real broadcast beats N literal plans)."""
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
    return qt, qsum


def _bm25_batch_raw_exhaustive(
    spark: SparkSession,
    tables: IndexTables,
    pqs: dict[int, PreparedQuery],
    config: EngineConfig,
) -> DataFrame:
    """Shared-scan exhaustive batch scoring → (qid, docid, raw)."""
    union_terms = sorted({t for pq in pqs.values() for t, _ in pq.terms})
    posting = matched_postings(spark, tables, union_terms)
    qt, qsum = _batch_query_frames(spark, pqs)
    k1, b = config.bm25_k1, config.bm25_b
    avgdl = next(iter(pqs.values())).avgdl
    f = F.col("tf") * F.col("weight")
    B = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    return (
        posting.join(F.broadcast(qt), "term")
        .withColumn("contrib", F.col("idf") * (f * F.lit(k1 + 1.0) / (f + B)))
        .groupBy("qid", "docid")
        .agg(F.sum("contrib").alias("contrib"))
        .join(F.broadcast(qsum), "qid")
        .select("qid", "docid", (F.col("contrib") + F.col("sum_idf")).alias("raw"))
    )


def _batch_score_blocks(
    decoded: DataFrame,  # (block_id, term, docid, tf, dl)
    qt: DataFrame,
    qsum: DataFrame,
    pairs: DataFrame,  # (qid, block_id) — which blocks count for which qid
    k1: float,
    b: float,
    avgdl: float,
) -> DataFrame:
    """Score decoded postings per (qid, docid), restricted to each qid's
    admitted (qid, block_id) pairs. The decode upstream is SHARED across
    qids — a block decodes once however many queries admit it; the per-qid
    fan-out happens JVM-side on the already-decoded rows."""
    f = F.col("tf") * F.col("weight")
    B = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    return (
        decoded.join(F.broadcast(qt), "term")
        .join(F.broadcast(pairs), ["qid", "block_id"], "left_semi")
        .withColumn("contrib", F.col("idf") * (f * F.lit(k1 + 1.0) / (f + B)))
        .groupBy("qid", "docid")
        .agg(F.sum("contrib").alias("contrib"))
        .join(F.broadcast(qsum), "qid")
        .select("qid", "docid", (F.col("contrib") + F.col("sum_idf")).alias("raw"))
    )


def _bm25_batch_raw_wand(
    spark: SparkSession,
    tables: IndexTables,
    pqs: dict[int, PreparedQuery],
    k: int,
    config: EngineConfig,
    stats: dict | None = None,
) -> DataFrame:
    """Batched block-max WAND → (qid, docid, raw), rank-identical per qid to
    :func:`bm25_topk_wand`.

    Same three phases as the single-query operator, amortized over the
    sub-batch with two driver actions total (vs 2-3 PER query sequentially):

      1. metadata pass: per-(qid, block) upper bounds from max_tf/min_dl —
         one aggregation over blocks ⋈ broadcast query frame;
      2. seed: per-qid top groups by UB (window rank, bounded collect),
         cumulative-cover floors identical to the single-query seed; the
         UNION of seed blocks decodes once, θ_qid = k-th seed raw score
         (one collect for every qid's θ);
      3. prune + exact: groups with UB ≥ θ_qid survive per qid (qids whose
         seed couldn't fill k keep everything — no safe pruning); the union
         of surviving blocks decodes once, scores fan out per qid via the
         (qid, block_id) semi-join.

    Soundness per qid is the single-query argument verbatim: any pruned doc
    scores ≤ UB(group) < θ_qid ≤ true k-th score, and the argmax doc always
    survives, so max-normalization in `_finalize_batch` sees the true max."""
    union_terms = sorted({t for pq in pqs.values() for t, _ in pq.terms})
    blocks = (
        tables.postings(spark).filter(F.col("term").isin(union_terms)).persist()
    )
    qt, qsum = _batch_query_frames(spark, pqs)
    k1, b = config.bm25_k1, config.bm25_b
    avgdl = next(iter(pqs.values())).avgdl
    group_ub = None
    try:
        # --- 1. per-(qid, block) upper bounds (JVM-only column math) ------
        f_max = F.col("max_tf") * F.col("weight")
        b_min = F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("min_dl") / F.lit(avgdl)
        )
        ub_expr = F.greatest(
            F.col("idf") * (f_max * F.lit(k1 + 1.0) / (f_max + b_min)),
            F.lit(0.0),  # idf<0 ⇒ contribution < 0; 0 is a safe upper bound
        )
        group_ub = (
            blocks.join(F.broadcast(qt), "term")
            .withColumn("ub", ub_expr)
            .groupBy("qid", "block_id")
            .agg(F.sum("ub").alias("ub_sum"), F.max("df").alias("min_docs"))
            .join(F.broadcast(qsum), "qid")
            .select(
                "qid",
                "block_id",
                (F.col("ub_sum") + F.col("sum_idf")).alias("group_ub"),
                "min_docs",
            )
            .persist()
        )

        # --- 2. seed: per-qid UB-ranked prefix, same floors as single ----
        lim = max(4 * k, 64)
        rn = F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.desc("group_ub"), F.asc("block_id")
            )
        )
        seed_rows = (
            group_ub.withColumn("rn", rn)
            .filter(F.col("rn") <= lim)  # bounded driver transfer: Nq·lim
            .select("qid", "block_id", "min_docs", "rn")
            .collect()
        )
        per_qid: dict[int, list] = {}
        for r in sorted(seed_rows, key=lambda r: (r["qid"], r["rn"])):
            per_qid.setdefault(r["qid"], []).append(r)
        seed_pairs: list[tuple[int, int]] = []
        for qid, rows in per_qid.items():
            min_groups = min(k, len(rows))
            covered = taken = 0
            for r in rows:
                seed_pairs.append((qid, r["block_id"]))
                covered += r["min_docs"]
                taken += 1
                if covered >= 4 * k and taken >= min_groups:
                    break
        seed_pair_df = _local_df(
            spark, seed_pairs, "qid int, block_id long"
        )
        seed_ids = sorted({bid for _, bid in seed_pairs})
        dec_seed = decode_blocks(
            blocks.filter(F.col("block_id").isin(seed_ids)),
            keep=("block_id",),
        )
        raw_seed = _batch_score_blocks(
            dec_seed, qt, qsum, seed_pair_df, k1, b, avgdl
        )
        kth_rows = (
            raw_seed.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.desc("raw"), F.asc("docid")
                    )
                ),
            )
            .filter(F.col("rn") <= k)
            .groupBy("qid")
            .agg(
                F.min("raw").alias("theta"),
                F.count(F.lit(1)).alias("n_seed"),
            )
            .collect()
        )
        # qids whose seed filled k get a θ; everyone else keeps all blocks
        thetas = {
            r["qid"]: float(r["theta"])
            for r in kth_rows
            if r["n_seed"] >= k and r["theta"] is not None
        }
        # --- 3. prune + exact: shared decode of the survivor union -------
        theta_df = _local_df(
            spark,
            [(qid, t) for qid, t in thetas.items()],
            "qid int, theta double",
        )
        surv = (
            group_ub.join(F.broadcast(theta_df), "qid", "left")
            .filter(
                F.col("theta").isNull()
                | (F.col("group_ub") >= F.col("theta"))
            )
            .select("qid", "block_id")
        )
        if stats is not None:
            stats["batch_theta"] = thetas
            stats["batch_seed_groups"] = len(seed_pairs)
            stats["batch_pairs_total"] = group_ub.count()
            stats["batch_pairs_survived"] = surv.count()
        dec = decode_blocks(
            blocks.join(
                F.broadcast(surv.select("block_id").distinct()),
                "block_id",
                "left_semi",
            ),
            keep=("block_id",),
        )
        return _batch_score_blocks(dec, qt, qsum, surv, k1, b, avgdl)
    finally:
        blocks.unpersist()
        if group_ub is not None:
            group_ub.unpersist()


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
    shape (no per-posting driver work, three tiny scalar collects):

      1. **Metadata pass (JVM only).** For each (term, block_id) block of the
         query terms, an upper bound on the per-doc BM25 contribution from the
         stored `max_tf` / `min_dl` — the BM25 tf-term is monotone ↑ in tf and
         ↓ in dl, so ub = idf·(f_max·(k1+1)/(f_max+B_min)) (0 when idf<0).
         Summing over terms per block_id gives UB(group) ≥ best possible raw
         score of any doc in that docid range. Pure column math on the blocks
         table — the gaps/tfs/dls binaries are never touched.
      2. **Seed.** Decode only the top groups by UB (enough to cover ≥ k docs),
         score exactly, take the k-th raw score as threshold θ.
      3. **Prune + exact.** Keep groups with UB ≥ θ (distributed filter on the
         metadata), decode + score only those, and take the final
         `orderBy(desc, asc docid).limit(k)` (TakeOrderedAndProject = bounded
         per-partition min-heap + driver merge).

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
    if pagerank_weight != 0.0:
        if stats is not None:
            stats["fallback"] = "exhaustive_pagerank_blend"
        return _bm25_exhaustive(spark, tables, pq, config, k, pagerank_weight)
    # routing (measured, BENCH/wand_crossover.json): pruning pays only when
    # BOTH the decode volume clears the crossover AND the query is selective
    # — its rare terms (df ≤ N/divisor) must cover ≥ k docs so θ can rise
    # above common-only blocks' UB. Pure driver arithmetic on pq.dfs.
    rare_df_max = max(1, pq.n_docs // max(config.wand_rare_df_divisor, 1))
    rare_cover = sum(df for df in pq.dfs if df <= rare_df_max)
    forced = config.wand_min_postings == 0  # tests/gate: always run real WAND
    if not forced and (
        sum(pq.dfs) < config.wand_min_postings or rare_cover < k
    ):
        # pruning overhead > decode cost, or θ cannot rise — exhaustive
        if stats is not None:
            stats["fallback"] = "exhaustive"
        return _bm25_exhaustive(spark, tables, pq, config, k, 0.0)
    k1, b = config.bm25_k1, config.bm25_b
    sum_idf = sum(pq.idfs)
    terms = [t for t, _ in pq.terms]

    blocks = (
        tables.postings(spark)
        .filter(F.col("term").isin(terms))
        .persist()
    )
    try:
        weight, idf = _weight_idf_cols(pq)
        f_max = F.col("max_tf") * weight
        b_min = F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("min_dl") / F.lit(pq.avgdl)
        )
        ub_expr = F.greatest(
            idf * (f_max * F.lit(k1 + 1.0) / (f_max + b_min)),
            F.lit(0.0),  # idf<0 ⇒ contribution < 0; 0 is a safe upper bound
        )
        group_ub = (
            blocks.withColumn("ub", ub_expr)
            .groupBy("block_id")
            .agg(
                (F.sum("ub") + F.lit(sum_idf)).alias("group_ub"),
                F.max("df").alias("min_docs"),  # ≥ distinct docs via one term
            )
        ).persist()

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
        seed_raw = _bm25_raw(
            spark,
            decode_blocks(blocks.filter(F.col("block_id").isin(seed_ids))),
            pq,
            config,
        )
        kth = (
            seed_raw.orderBy(F.desc("raw"), F.asc("docid"))
            .limit(k)
            .agg(F.min("raw"), F.count(F.lit(1)))
            .head()
        )
        theta, n_seed = kth[0], kth[1]

        if theta is None or n_seed < k:
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

        raw = _bm25_raw(spark, decode_blocks(survivors), pq, config)
        return _finalize(spark, tables, raw, k, 0.0)
    finally:
        blocks.unpersist()
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

    max_q_freq = max(w for _, w in pq.terms)
    q_weights = [
        (w / max_q_freq) * idf for (_, w), idf in zip(pq.terms, pq.idfs)
    ]
    q_norm = math.sqrt(sum(w * w for w in q_weights))

    if k is not None and pagerank_weight == 0.0:
        rows = _vsm_topk_sql(spark, tables, pq, k, q_weights, q_norm)
        if rows is not None:
            return _normalized_rows_df(spark, rows)

    posting = matched_postings(spark, tables, [t for t, _ in pq.terms])
    weight, idf = _weight_idf_cols(pq)
    q_weight = _lit_map(
        zip((t for t, _ in pq.terms), q_weights)
    )[F.col("term")]
    stats = tables.doc_stats(spark).select("docid", "max_tf", "vsm_weight")
    # doc-side weight per (term, doc): (tf*weight/maxTF)·idf, dotted with q_weight
    raw = (
        posting.join(stats, "docid")
        .withColumn(
            "contrib",
            q_weight
            * ((F.col("tf") * weight / F.col("max_tf")) * idf),
        )
        .groupBy("docid")
        .agg(
            (
                F.sum("contrib")
                / (F.first("vsm_weight") * F.lit(q_norm))
            ).alias("raw")
        )
    )
    return _finalize(spark, tables, raw, k, pagerank_weight)


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
    pqs: dict[int, PreparedQuery] = {}
    for qid, text in queries:
        pq = prepare_query(spark, tables, text, config, expander=expander)
        if pq.terms:
            pqs[qid] = pq
    if not pqs:
        return _local_df(spark, [], BATCH_TOPK_SCHEMA)

    qt_rows, qn_rows = [], []
    for qid, pq in pqs.items():
        max_q_freq = max(w for _, w in pq.terms)
        q_weights = [
            (w / max_q_freq) * idf for (_, w), idf in zip(pq.terms, pq.idfs)
        ]
        qn_rows.append(
            (qid, float(math.sqrt(sum(w * w for w in q_weights))))
        )
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
        .withColumn(
            "contrib",
            F.col("q_weight")
            * ((F.col("tf") * F.col("weight") / F.col("max_tf")) * F.col("idf")),
        )
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
    term, score ≡ 1.0 — semi-join + distinct (J7)."""
    config = config or tables.config
    pq = prepare_query(spark, tables, query, config)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)
    docs = (
        matched_postings(spark, tables, [t for t, _ in pq.terms])
        .select("docid")
        .distinct()
    )
    return _finalize_const_one(spark, docs, k)


# rarest-term DF bound for conjunctive block pruning: a term occupies at
# most DF blocks, so this also caps the pushed IN-list size. Above it the
# metadata collect grows while the decode saving shrinks (the rarest term
# is no longer selective) — the same reasoning as WAND's routing floor.
CONJ_PRUNE_MAX_BLOCKS = 4096

# minimum decode volume the pruning must stand to save (≈ Σ DF − DF_min,
# the other terms' postings) before the metadata job pays. Set just under
# the smallest measured win, WAND-convention (BENCH/conjunctive_prune.json,
# 2M-doc hapax corpus: saved ≈ 1.65M postings won 1.8x; an all-rare AND
# with saved ≈ 2 LOST 0.2s — the collect job — to the exhaustive plan).
CONJ_PRUNE_MIN_SAVED_DF = 1_500_000


def conjunctive(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = None,
    config: EngineConfig | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Boolean AND — docs containing EVERY distinct query term, score ≡ 1.0.

    Extension: the reference brands a "Boolean model" but implements only the
    OR half (`Existential.java:14-18`, SURVEY §2.7); this is the missing
    intersection. An OOV term (DF=0) empties the result without touching the
    cluster.

    Plan: ONE term-pruned postings scan → decode → `groupBy(docid)` counting
    matched terms == n — a single shuffle with map-side partial agg. A plain
    `count` suffices because (term, docid) is unique by postings
    construction (A4 aggregates per term; the query's term set is deduped),
    and `count_distinct` here would compile to TWO exchanges (the expand +
    re-agg distinct rewrite). The naive alternative (a k-way chain of
    per-term semi-joins) is k shuffles of the same postings; the most
    selective term bounds the output exactly as in the reference's
    heap-merge engines.

    Block-intersection pruning (the AND twin of WAND): ``block_id =
    docid // block_size`` is a GLOBAL docid bucketing, so a doc can
    satisfy the AND only in blocks where EVERY term has a postings row —
    a subset of the RAREST term's block list. When the rarest DF is
    bounded (≤ ``CONJ_PRUNE_MAX_BLOCKS``, which also bounds the list: a
    term has at most DF blocks), one tiny metadata job collects that
    term's block ids and pushes ``block_id IN (...)`` into the scan, so
    head terms decode only candidate blocks instead of their full
    posting lists — at web scale the decode volume drops from Σ DF to
    ~n·DF_min. Selectivity-gated like WAND's router, from measurement
    (`BENCH/conjunctive_prune.json`): the rarest DF must be bounded (an
    all-head AND gains nothing and skips the metadata job) AND the
    decode volume stood to be saved (Σ DF − DF_min) must clear the
    measured floor (an all-rare AND decodes almost nothing either way
    and loses the metadata job's latency). ``stats['conjunctive']``
    reports which path ran.
    """
    config = config or tables.config
    pq = prepare_query(spark, tables, query, config)
    terms = sorted({t for t, _ in pq.terms})
    if not terms or any(df == 0 for df in pq.dfs):
        if stats is not None:
            stats["conjunctive"] = "empty"
        return _local_df(spark, [], TOPK_SCHEMA)
    df_by_term = dict(zip((t for t, _ in pq.terms), pq.dfs))
    min_df = min(df_by_term[t] for t in terms)
    saved_df = sum(df_by_term[t] for t in terms) - min_df
    blk: list | None = None
    if (
        len(terms) > 1
        and min_df <= CONJ_PRUNE_MAX_BLOCKS
        and saved_df >= CONJ_PRUNE_MIN_SAVED_DF
    ):
        rarest = min(terms, key=lambda t: (df_by_term[t], t))
        blk = [
            r["block_id"]
            for r in tables.postings(spark)
            .filter(F.col("term") == rarest)
            .select("block_id")
            .collect()
        ]
        # post-collect fallback: at small corpora (or for a rare-but-
        # spread term) the candidate list can cover most of the docid
        # space — the IN filter then prunes nothing and only bloats the
        # predicate. DF bounds block count, so this is knowable only
        # after the (tiny) metadata job; its cost is all we wasted.
        total_blocks = -(-pq.n_docs // config.postings_block_size)
        if len(blk) * 2 > total_blocks:
            blk = None
    if blk is not None:
        posting = decode_blocks(
            tables.postings(spark).filter(
                F.col("term").isin(terms) & F.col("block_id").isin(blk)
            )
        )
        if stats is not None:
            stats["conjunctive"] = "block_pruned"
            stats["n_candidate_blocks"] = len(blk)
    else:
        posting = matched_postings(spark, tables, terms)
        if stats is not None:
            stats["conjunctive"] = "exhaustive"
    docs = (
        posting.groupBy("docid")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("docid")
    )
    return _finalize_const_one(spark, docs, k)


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
