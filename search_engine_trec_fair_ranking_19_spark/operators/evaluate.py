"""Evaluation harness — rebuild of `T/metrics/ThemisEval.java:73-371` (V1-V3).

Loops queries on the driver (reference: 635 queries) against the loaded index
and computes AP / nDCG per query with the reference's judged-only semantics —
DISTRIBUTED: the full ranking is never collected. The (tiny) judged
(docid, rel) pairs are broadcast and LEFT-joined onto the ranked frame, and
ONE aggregation per call returns, per query, the result count and the
(score, docid, rel) rows of the judged hits (≤ |judgments| rows). AP and
nDCG are then the reference's sequential loop over those rows on the driver
(:func:`_ap_ndcg`). At 47M docs × k=∞ (`ThemisEval.java:136` ranks the whole
collection) a per-query full-ranking collect is a driver OOM; this shape is
O(|judged|) driver-side, and the judgments are on the driver already.

Emits the same summary shape (avg/min/max AP, nDCG, timing) as the
reference's ``evaluation_*.txt`` files, as a small DataFrame + dict.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
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
        topk = runner(spark, tables, qtext, k=k, pagerank_weight=pagerank_weight)
        pj = local_rows_df(spark, jmap.get(qid, []), "docid long, rel int")
        (r,) = _counts_and_judged(topk, pj, [])
        ap, nd = _ap_ndcg(r["judged"], judgments.get(qid, {}))
        dt = time.time() - t0
        rows.append((qid, qtext, ap, nd, int(r["n"]), dt))
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


def _counts_and_judged(
    ranked: DataFrame, judged_pairs: DataFrame, keys: list[str]
) -> list:
    """Per ``keys`` group (``[]``: one query; ``["qid"]``: a batch) of a
    ranked (keys..., docid, score) frame, ONE collect of the result count
    ``n`` and the ``judged`` list of (score, docid, rel) structs of its rows
    that are judged. ``judged_pairs`` is the driver-sized (keys..., docid,
    rel) frame, broadcast and LEFT-joined: a (qid, url) judgment is unique
    and so is a url's docid, so the join adds no rows. Groups with no
    ranked rows are absent (``[]``: one row with ``n`` 0)."""
    judged = F.when(
        F.col("rel").isNotNull(), F.struct("score", "docid", "rel")
    )
    return (
        ranked.join(F.broadcast(judged_pairs), [*keys, "docid"], "left")
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.collect_list(judged).alias("judged"),  # skips the nulls
        )
        .collect()
    )


def _ap_ndcg(judged: list, rel_map: dict[str, int]) -> tuple[float, float]:
    """AP and nDCG of one query from its judged (score, docid, rel) hits —
    the reference's sequential loop (`ThemisEval.java:220-280`) over them in
    rank order (score desc, docid asc: the O4 tie order of
    ``query._finalize``), ranks counted among judged rows only. Written
    term for term as ``oracle.engine.average_precision``/``ndcg``, so the
    values are bit-identical to the oracle's on the same ranking. NaN for
    both when the query has no relevant judgment; judged urls absent from
    the collection count only in the denominators."""
    total_rel = sum(1 for v in rel_map.values() if v == 1)
    if total_rel == 0:
        return float("nan"), float("nan")
    avep, dcg, found, n_judged = 0.0, 0.0, 0, 0
    for _, _, rel in sorted(judged, key=lambda r: (-r[0], r[1])):
        n_judged += 1
        if rel == 1:
            found += 1
            avep += found / n_judged
            dcg += math.log(2) / math.log(n_judged + 1)
    idcg = sum(math.log(2) / math.log(i + 1) for i in range(1, total_rel + 1))
    return avep / total_rel, dcg / idcg


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
    postings pass for all queries), and ONE aggregation per call, whatever
    the query count, returns per qid the result count and the judged hits
    (:func:`_counts_and_judged`); AP/nDCG are computed from those on the
    driver (:func:`_ap_ndcg`).

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
    )
    pj = local_rows_df(
        spark,
        [(qid, docid, rel) for qid, prs in jmap.items() for docid, rel in prs],
        "qid int, docid long, rel int",
    )
    by_qid = {r["qid"]: r for r in _counts_and_judged(ranked, pj, ["qid"])}
    dt = time.time() - t0
    per = dt / len(queries) if queries else 0.0
    rows = []
    for qid, qtext in queries:
        r = by_qid.get(qid)
        ap, nd = _ap_ndcg(r["judged"] if r else [], judgments.get(qid, {}))
        rows.append((qid, qtext, ap, nd, int(r["n"]) if r else 0, per))
    return _per_query_df_and_summary(spark, rows)
