"""Evaluation harness — rebuild of `T/metrics/ThemisEval.java:73-371` (V1-V3).

Loops queries on the driver (reference: 635 queries) against the loaded index
and computes AP / nDCG per query with the reference's judged-only semantics —
DISTRIBUTED: the full ranking is never collected. Per query, the (tiny)
judged-docid set is broadcast-joined onto the ranked frame, judged ranks come
from a window over the judged rows only (≤ |judgments| rows, so the
single-partition window is trivially safe), and only two scalars (AP
numerator, DCG) plus the result count ever reach the driver. At 47M docs ×
k=∞ (`ThemisEval.java:136` ranks the whole collection) a per-query
full-ranking collect is a driver OOM; this shape is O(|judged|) driver-side.

Emits the same summary shape (avg/min/max AP, nDCG, timing) as the
reference's ``evaluation_*.txt`` files, as a small DataFrame + dict.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_rows_df
from .index_build import IndexTables
from .query import bm25_topk, bm25_topk_batch, vsm_topk


def read_judgments(
    spark: SparkSession, path: str
) -> tuple[list[tuple[int, str]], dict[int, dict[str, int]]]:
    """S9 judgments scan — rebuild of the eval-file reader
    (`ThemisEval.java:113-130`): JSONL ``{qid, query, documents: [{doc_id,
    relevance}]}`` → (queries list, qid → {doc_id: relevance}).

    `spark.read.json` replaces the hand parser; the result is driver-sized
    (hundreds of queries), so collect is correct here."""
    df = spark.read.json(path)
    queries: list[tuple[int, str]] = []
    judgments: dict[int, dict[str, int]] = {}
    for row in df.collect():
        qid = int(row["qid"])
        queries.append((qid, row["query"]))
        judgments[qid] = {
            d["doc_id"]: int(d["relevance"]) for d in (row["documents"] or [])
        }
    return queries, judgments


def _resolve_judged_docids(
    spark: SparkSession,
    tables: IndexTables,
    judgments: dict[int, dict[str, int]],
) -> dict[int, list[tuple[int, int]]]:
    """qid → [(docid, rel)] — one broadcast join of ALL judged urls against
    doc_ids (J5). Judgments are driver-sized by definition (they were read
    onto the driver), so collecting the resolved pairs back is O(|judged|).
    Urls absent from the collection resolve to nothing (they could never be
    retrieved; they still count in AP/nDCG denominators via the rel map)."""
    all_j = [
        (qid, url, int(rel))
        for qid, m in judgments.items()
        for url, rel in m.items()
    ]
    out: dict[int, list[tuple[int, int]]] = {}
    if not all_j:
        return out
    jdf = local_rows_df(spark, all_j, "qid int, url string, rel int")
    resolved = F.broadcast(jdf).join(
        tables.doc_ids(spark).select("url", "docid"), "url"
    )
    for r in resolved.collect():
        out.setdefault(r["qid"], []).append((int(r["docid"]), int(r["rel"])))
    return out


def evaluate(
    spark: SparkSession,
    tables: IndexTables,
    queries: list[tuple[int, str]],
    judgments: dict[int, dict[str, int]],  # qid -> {url: relevance}
    model: str = "bm25",
    k: int | None = None,
    pagerank_weight: float = 0.0,
) -> tuple[DataFrame, dict]:
    """Run every query, score vs judgments. Returns (per-query DF, summary).

    AP (V1): Σ_{judged hits with rel=1} (#rel so far / judged rank) / #rel,
    nDCG (V2): Σ_{rel=1} ln2/ln(judged_rank+1) / IDCG — both over JUDGED rows
    only, ranks counted among judged rows, exactly `ThemisEval.java:220-280`.
    """
    runner: Callable = {"bm25": bm25_topk, "vsm": vsm_topk}[model]
    jmap = _resolve_judged_docids(spark, tables, judgments)
    rows = []
    for qid, qtext in queries:
        t0 = time.time()
        topk = runner(
            spark, tables, qtext, k=k, pagerank_weight=pagerank_weight
        ).persist()
        try:
            n_results = topk.count()
            rel_map = judgments.get(qid, {})
            total_rel = sum(1 for v in rel_map.values() if v == 1)
            pairs = jmap.get(qid, [])
            agg = None
            if total_rel > 0 and pairs:
                pj = local_rows_df(spark, pairs, "docid long, rel int")
                agg = _judged_sums(topk, pj, []).head()
            ap, nd = _ap_ndcg(agg, rel_map, bool(pairs))
        finally:
            topk.unpersist()
        dt = time.time() - t0
        rows.append((qid, qtext, float(ap), float(nd), n_results, dt))
    return _per_query_df_and_summary(spark, rows)


def _per_query_df_and_summary(
    spark: SparkSession, rows: list[tuple]
) -> tuple[DataFrame, dict]:
    per_query = local_rows_df(
        spark,
        rows, "qid int, query string, avep double, ndcg double, n_results int, seconds double"
    )
    valid_ap = [r[2] for r in rows if not math.isnan(r[2])]
    valid_nd = [r[3] for r in rows if not math.isnan(r[3])]
    times = [r[5] for r in rows]
    summary = {
        "n_queries": len(rows),
        "avg_avep": sum(valid_ap) / len(valid_ap) if valid_ap else float("nan"),
        "min_avep": min(valid_ap) if valid_ap else float("nan"),
        "max_avep": max(valid_ap) if valid_ap else float("nan"),
        "avg_ndcg": sum(valid_nd) / len(valid_nd) if valid_nd else float("nan"),
        "min_ndcg": min(valid_nd) if valid_nd else float("nan"),
        "max_ndcg": max(valid_nd) if valid_nd else float("nan"),
        "avg_seconds": sum(times) / len(times) if times else 0.0,
        "min_seconds": min(times) if times else 0.0,
        "max_seconds": max(times) if times else 0.0,
    }
    # "Average per <rate> results" (`ThemisEval.java:169-199`): normalize the
    # total search time to a fixed result count so runs over different corpus
    # sizes are comparable — rate = min(total results, 1M), time scaled by
    # rate/total (total time verbatim when no query returned anything).
    total_results = sum(r[4] for r in rows)
    total_seconds = sum(times)
    results_rate = min(total_results, 1_000_000)
    summary["total_seconds"] = total_seconds
    summary["total_results"] = total_results
    summary["results_rate"] = results_rate
    summary["avg_seconds_per_rate_results"] = (
        total_seconds
        if total_results == 0
        else total_seconds / total_results * results_rate
    )
    return per_query, summary


def _judged_sums(
    ranked: DataFrame, judged_pairs: DataFrame, keys: list[str]
) -> DataFrame:
    """Per ``keys`` group (``[]``: one query; ``["qid"]``: a batch), the
    (ap_num, dcg) sums over the judged rows of a ranked (keys..., docid,
    score) frame, ranks counted among judged rows only
    (`ThemisEval.java:220-280`). ``judged_pairs`` is the driver-sized
    (keys..., docid, rel) frame, broadcast."""
    order = (F.desc("score"), F.asc("docid"))  # O4 tie order (query._finalize)
    w_rank = Window.partitionBy(*keys).orderBy(*order)
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    judged = ranked.join(F.broadcast(judged_pairs), [*keys, "docid"]).select(
        *keys,
        "rel",
        F.row_number().over(w_rank).alias("judged_rank"),
        F.sum(F.when(F.col("rel") == 1, 1).otherwise(0))
        .over(w_run)
        .alias("rel_so_far"),
    )
    return judged.groupBy(*keys).agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.col("rel_so_far") / F.col("judged_rank").cast("double"),
            )
        ).alias("ap_num"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.log(F.lit(2.0)) / F.log(F.col("judged_rank") + F.lit(1.0)),
            )
        ).alias("dcg"),
    )


def _ap_ndcg(
    agg_row, rel_map: dict, has_pairs: bool
) -> tuple[float, float]:
    """Driver-side AP/nDCG from the distributed (ap_num, dcg) scalars —
    shared by the sequential and batch paths (`ThemisEval.java:220-280`)."""
    total_rel = sum(1 for v in rel_map.values() if v == 1)
    if total_rel == 0:
        return float("nan"), float("nan")
    if not has_pairs or agg_row is None:
        return 0.0, 0.0
    ap = float(agg_row["ap_num"] or 0.0) / total_rel
    idcg = sum(
        math.log(2) / math.log(i + 1) for i in range(1, total_rel + 1)
    )
    nd = float(agg_row["dcg"] or 0.0) / idcg
    return ap, nd


def evaluate_batch(
    spark: SparkSession,
    tables: IndexTables,
    queries: list[tuple[int, str]],
    judgments: dict[int, dict[str, int]],
    k: int | None = None,
    pagerank_weight: float = 0.0,
) -> tuple[DataFrame, dict]:
    """`evaluate()` semantics over ONE distributed plan for the whole query
    set (BM25 model): rankings come from :func:`bm25_topk_batch` (one
    postings pass for all queries), judged ranks from a qid-partitioned
    window, and exactly TWO scalars-per-query actions run regardless of
    query count — per-qid result counts and per-qid (AP numerator, DCG).

    The reference loops 635 queries sequentially (`ThemisEval.java:136-180`);
    on a cluster that serializes 635 job round-trips. This is the amortized
    shape: identical AP/nDCG per query (pytest-pinned against `evaluate`),
    with the `seconds` column reporting the batch wall-clock split evenly —
    per-query timing is not observable inside a shared plan (use
    ``evaluate`` when per-query latency is the measurement).
    """
    t0 = time.time()
    jmap = _resolve_judged_docids(spark, tables, judgments)
    ranked = bm25_topk_batch(
        spark, tables, queries, k=k, pagerank_weight=pagerank_weight
    ).persist()
    try:
        counts = {
            r["qid"]: int(r["n"])
            for r in ranked.groupBy("qid").agg(F.count("*").alias("n")).collect()
        }
        agg_map: dict[int, object] = {}
        pair_rows = [
            (qid, docid, rel)
            for qid, prs in jmap.items()
            for docid, rel in prs
        ]
        if pair_rows:
            pj = local_rows_df(
                spark, pair_rows, "qid int, docid long, rel int"
            )
            for r in _judged_sums(ranked, pj, ["qid"]).collect():
                agg_map[int(r["qid"])] = r
    finally:
        ranked.unpersist()
    dt = time.time() - t0
    per = dt / len(queries) if queries else 0.0
    rows = []
    for qid, qtext in queries:
        ap, nd = _ap_ndcg(
            agg_map.get(qid), judgments.get(qid, {}), bool(jmap.get(qid))
        )
        rows.append((qid, qtext, float(ap), float(nd), counts.get(qid, 0), per))
    return _per_query_df_and_summary(spark, rows)
