"""Evaluation harness (V1-V3 + S9): judgments loader + end-to-end evaluate()
against oracle AP/nDCG on a small corpus."""

import json
import math

import pytest

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.operators.evaluate import (
    evaluate,
    evaluate_batch,
    read_judgments,
)
from search_engine_trec_fair_ranking_19_spark.operators.index_build import build_index
from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle
from search_engine_trec_fair_ranking_19_spark.sources.webtext import (
    corpus_pandas,
    corpus_spark,
)

CFG = EngineConfig(postings_block_size=64)


def test_read_judgments_jsonl(spark, tmp_path):
    path = tmp_path / "judgments.jsonl"
    rows = [
        {
            "qid": 1,
            "query": "web search",
            "documents": [
                {"doc_id": "u1", "relevance": 1},
                {"doc_id": "u2", "relevance": 0},
            ],
        },
        {"qid": 2, "query": "page rank", "documents": []},
    ]
    path.write_text("\n".join(json.dumps(r) for r in rows))
    queries, judgments = read_judgments(spark, str(path))
    assert sorted(queries) == [(1, "web search"), (2, "page rank")]
    assert judgments == {1: {"u1": 1, "u2": 0}, 2: {}}


def test_evaluate_matches_oracle_metrics(spark, tmp_path):
    n = 200
    pdf = corpus_pandas(n, seed=31)
    docs = list(zip(pdf["url"], pdf["text"]))
    oidx = oracle.build_index(docs, CFG)
    webtext = corpus_spark(spark, n, seed=31, n_partitions=3)
    t = build_index(spark, webtext, str(tmp_path / "evalidx"), CFG)

    urls = sorted(pdf["url"])
    rel = {u: (1 if i % 4 == 0 else 0) for i, u in enumerate(urls) if i % 2 == 0}
    queries = [(1, "web search"), (2, "w00000"), (3, "zzznotfound")]
    judgments = {qid: rel for qid, _ in queries}

    per_query, summary = evaluate(spark, t, queries, judgments, model="bm25", k=None)
    got = {r["qid"]: r for r in per_query.collect()}

    inv = {d: u for u, d in oidx.doc_id_of_url.items()}
    for qid, qtext in queries:
        ranked = [inv[d] for d, _ in oracle.bm25_topk(oidx, qtext, k=None)]
        exp_ap = oracle.average_precision(ranked, rel)
        exp_nd = oracle.ndcg(ranked, rel)
        if math.isnan(exp_ap):
            assert math.isnan(got[qid]["avep"])
        else:
            assert got[qid]["avep"] == pytest.approx(exp_ap, abs=1e-9)
            assert got[qid]["ndcg"] == pytest.approx(exp_nd, abs=1e-9)

    assert summary["n_queries"] == 3
    assert 0.0 <= summary["avg_avep"] <= 1.0

    # "Average per <rate> results" summary (`ThemisEval.java:169-199`):
    # rate = min(total results, 1M); time = total * rate / total_results
    total_results = sum(r["n_results"] for r in got.values())
    assert summary["total_results"] == total_results
    assert summary["results_rate"] == min(total_results, 1_000_000)
    assert summary["avg_seconds_per_rate_results"] == pytest.approx(
        summary["total_seconds"] / total_results * summary["results_rate"]
    )
    assert summary["total_seconds"] == pytest.approx(
        summary["avg_seconds"] * summary["n_queries"]
    )


def test_evaluate_batch_matches_sequential(spark, tmp_path):
    n = 200
    pdf = corpus_pandas(n, seed=31)
    webtext = corpus_spark(spark, n, seed=31, n_partitions=3)
    t = build_index(spark, webtext, str(tmp_path / "evalbidx"), CFG)

    urls = sorted(pdf["url"])
    rel = {u: (1 if i % 4 == 0 else 0) for i, u in enumerate(urls) if i % 2 == 0}
    queries = [
        (1, "web search"),
        (2, "w00000"),
        (3, "zzznotfound"),       # OOV: empty result set
        (4, "the and of"),        # stopword-only: no terms at all
    ]
    judgments = {1: rel, 2: rel, 3: rel, 4: {}}

    seq, seq_sum = evaluate(spark, t, queries, judgments, model="bm25", k=None)
    bat, bat_sum = evaluate_batch(spark, t, queries, judgments, k=None)
    s = {r["qid"]: r for r in seq.collect()}
    b = {r["qid"]: r for r in bat.collect()}
    assert set(s) == set(b) == {1, 2, 3, 4}
    for qid in s:
        assert b[qid]["n_results"] == s[qid]["n_results"], f"qid {qid}"
        for col in ("avep", "ndcg"):
            if math.isnan(s[qid][col]):
                assert math.isnan(b[qid][col]), f"qid {qid} {col}"
            else:
                assert b[qid][col] == pytest.approx(s[qid][col], abs=1e-9), (
                    f"qid {qid} {col}"
                )
    for key in ("avg_avep", "avg_ndcg", "min_avep", "max_ndcg"):
        if math.isnan(seq_sum[key]):
            assert math.isnan(bat_sum[key])
        else:
            assert bat_sum[key] == pytest.approx(seq_sum[key], abs=1e-9)


def test_ap_ndcg_equal_oracle_on_tied_corpus(spark, tmp_path):
    """A corpus of five repeated texts, so most scores tie and judged ranks
    hang on the (score desc, docid asc) order. Per qid, AP and nDCG of both
    `evaluate` and `evaluate_batch` EQUAL `oracle.average_precision`/`ndcg`
    on the oracle's ranking (no tolerance), at k=None and k=5: a judged url
    absent from the collection, an OOV query, a stopword-only query, and
    queries with no relevant judgment (NaN). With a PageRank blend the
    batch equals the sequential path."""
    from search_engine_trec_fair_ranking_19_spark.operators.pagerank import (
        pagerank_table,
    )

    texts = [
        "alpha beta gamma filler",
        "alpha alpha delta filler",
        "beta gamma gamma filler",
        "delta epsilon filler filler",
        "alpha beta",
    ]
    docs = [(f"u{i:03d}", texts[i % len(texts)]) for i in range(60)]
    oidx = oracle.build_index(docs, CFG)
    webtext = spark.createDataFrame(
        [
            (u, text, [f"u{(i * 7 + 3) % 60:03d}", f"u{i // 2:03d}"])
            for i, (u, text) in enumerate(docs)
        ],
        "url string, text string, out_links array<string>",
    )
    t = build_index(spark, webtext, str(tmp_path / "tieidx"), CFG)
    pagerank_table(spark, t, webtext.select("url", "out_links"))

    absent = "https://example.org/absent"
    rel_a = {"u000": 1, "u001": 0, "u004": 1, "u005": 0, "u009": 1,
             "u010": 1, "u003": 0, "u014": 1, absent: 1}
    queries = [
        (1, "alpha beta"),
        (2, "zzznotfound"),      # OOV: no results, AP = nDCG = 0
        (3, "the and of"),       # stopword-only: no terms at all
        (4, "gamma"),            # no relevant judgment: NaN
        (5, "delta alpha"),
        (6, "beta"),             # no judgments at all: NaN
    ]
    judgments = {
        1: rel_a,
        2: rel_a,
        3: rel_a,
        4: {"u000": 0, "u002": 0},
        5: {"u001": 1, "u003": 1, "u006": 0, "u008": 1, absent: 1},
        6: {},
    }

    def by_qid(frame):
        return {
            r["qid"]: (r["avep"], r["ndcg"], r["n_results"])
            for r in frame.collect()
        }

    def same(a, b):
        return a == b or (math.isnan(a) and math.isnan(b))

    for k in (None, 5):
        seq = by_qid(evaluate(spark, t, queries, judgments, k=k)[0])
        bat = by_qid(evaluate_batch(spark, t, queries, judgments, k=k)[0])
        for qid, qtext in queries:
            ranked = [oidx.urls[d - 1] for d, _ in oracle.bm25_topk(oidx, qtext, k=k)]
            want = (
                oracle.average_precision(ranked, judgments[qid]),
                oracle.ndcg(ranked, judgments[qid]),
            )
            for got in (seq[qid], bat[qid]):
                assert same(got[0], want[0]) and same(got[1], want[1]), (
                    k, qid, got, want,
                )
                assert got[2] == len(ranked), (k, qid)
        assert math.isnan(seq[4][0]) and math.isnan(seq[6][1])
        assert seq[2][:2] == (0.0, 0.0)

    seq = by_qid(evaluate(spark, t, queries, judgments, pagerank_weight=0.25)[0])
    bat = by_qid(evaluate_batch(spark, t, queries, judgments, pagerank_weight=0.25)[0])
    for qid in seq:
        assert all(same(a, b) for a, b in zip(seq[qid], bat[qid])), qid


def test_evaluate_batch_jobs(spark, tmp_path):
    """Perf contract: a warm `evaluate_batch` of a 100-query set shaped like
    the benchmark's (``perfbench.inputs.make_eval_set``: 13 judged urls per
    query, one of them outside the collection) runs ≤ 6 Spark jobs — the
    judged-url resolution, the broadcasts of the driver-built frames and
    ONE ranking + counts + judged-rows aggregation — with no job for
    building a driver frame."""
    from perfbench import inputs as pin

    size = pin.Size(
        n_docs=600, ingest_docs=1, ingest_batches=1, stream_len=1,
        eval_queries=100, warmup=False,
    )
    docs = pin.make_docs(41, 0, size.n_docs, 0)
    queries, judgments = pin.make_eval_set(41, size, docs)
    webtext = spark.createDataFrame(docs, "url string, text string")
    t = build_index(spark, webtext, str(tmp_path / "jobsidx"), EngineConfig())
    evaluate_batch(spark, t, queries, judgments)  # handle state loaded first
    jst = spark.sparkContext._jsc.sc().statusTracker()
    last = max(jst.getJobIdsForGroup(None), default=-1)
    per_query, _ = evaluate_batch(spark, t, queries, judgments)
    rows = per_query.collect()
    jobs = [j for j in jst.getJobIdsForGroup(None) if j > last]
    assert len(rows) == 100 and any(r["n_results"] for r in rows)
    assert len(jobs) <= 6, jobs
