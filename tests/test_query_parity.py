"""Query-engine parity: Spark BM25+/VSM/Existential vs the oracle.

The gate from SURVEY.md §5: rank-identical top-k docids and scores within 1e-9
after max-normalization, on a query set covering head/tail terms, stopword-only
queries, repeated terms (mergeTerms), unicode delimiters, OOV terms, and the
PageRank-blended configuration.
"""

import math

import pytest
from pyspark.sql import types as T

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.operators import query as q
from search_engine_trec_fair_ranking_19_spark.operators.index_build import build_index
from search_engine_trec_fair_ranking_19_spark.operators.pagerank import (
    pagerank_table,
)
from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle
from search_engine_trec_fair_ranking_19_spark.session import local_rows_df
from search_engine_trec_fair_ranking_19_spark.sources.webtext import (
    corpus_pandas,
    corpus_spark,
)

N_DOCS = 400
CFG = EngineConfig(postings_block_size=64, wand_min_postings=0)

QUERIES = [
    "web search engine",                  # common terms
    "w00001 w00002",                      # head zipf terms
    "w19998 w19999 web",                  # tail + head mix
    "the and of",                         # stopword-only -> empty
    "web web web search",                 # repeated terms (mergeTerms)
    "computing computers computation",    # stemming collisions
    "zzzznotfound web",                   # OOV + valid (DF=0 path)
    "Apple banana ORANGE",                # case + stem-before-lowercase
    "running—jumped，quickly",            # query delimiters (— and ， split)
    "nationalization happiness",
    "w00000",                             # the single heaviest head term
    "page",
]


@pytest.fixture(scope="module")
def corpus_pdf():
    return corpus_pandas(N_DOCS, seed=11, with_links=True)


@pytest.fixture(scope="module")
def oracle_index(corpus_pdf):
    docs = list(zip(corpus_pdf["url"], corpus_pdf["text"]))
    links = dict(zip(corpus_pdf["url"], corpus_pdf["out_links"]))
    return oracle.build_index(docs, CFG, out_links=links)


@pytest.fixture(scope="module")
def tables(spark, corpus_pdf, tmp_path_factory):
    webtext = corpus_spark(spark, N_DOCS, seed=11, n_partitions=5, with_links=True)
    index_dir = str(tmp_path_factory.mktemp("qindex"))
    t = build_index(spark, webtext, index_dir, CFG)
    pagerank_table(spark, t, webtext.select("url", "out_links"))
    return t


def _assert_matches(got_df, expected, k=None):
    got = [(r["docid"], r["score"]) for r in got_df.collect()]
    exp = expected if k is None else expected[:k]
    assert [d for d, _ in got] == [d for d, _ in exp], (
        f"rank mismatch: got {got[:12]} want {exp[:12]}"
    )
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(es, abs=1e-9), f"score mismatch at doc {gd}"


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_parity(spark, tables, oracle_index, query):
    exp = oracle.bm25_topk(oracle_index, query, k=20)
    got = q.bm25_topk(spark, tables, query, k=20)
    _assert_matches(got, exp)


@pytest.mark.parametrize("query", QUERIES[:6])
def test_vsm_parity(spark, tables, oracle_index, query):
    exp = oracle.vsm_topk(oracle_index, query, k=20)
    got = q.vsm_topk(spark, tables, query, k=20)
    _assert_matches(got, exp)


@pytest.mark.parametrize("query", QUERIES[:4])
def test_existential_parity(spark, tables, oracle_index, query):
    exp = oracle.existential(oracle_index, query)
    got = q.existential(spark, tables, query)
    _assert_matches(got, exp)


@pytest.mark.parametrize(
    "query",
    [
        "web search engine",   # common terms — nonempty intersection
        "w19998 web",          # tail + head: tail term bounds the result
        "the and of",          # stopword-only -> empty
        "zzzznotfound web",    # OOV term -> empty intersection, zero jobs
        "web web web search",  # duplicates collapse before the distinct count
    ],
)
def test_conjunctive_parity(spark, tables, oracle_index, query):
    exp = oracle.conjunctive(oracle_index, query)
    got = q.conjunctive(spark, tables, query)
    _assert_matches(got, exp)


def test_conjunctive_small_blocks_match_oracle(spark, tmp_path):
    """The AND over 8-doc blocks: a hapax term in one block ANDed with a
    term every doc holds, and two terms every doc holds."""
    cfg = EngineConfig(postings_block_size=8)
    docs = [
        (
            f"doc{i:08d}",
            "web search " + ("zqvxterm " if i == 50 else "") + f"filler{i}",
        )
        for i in range(100)
    ]
    webtext = spark.createDataFrame(docs, "url string, text string")
    t = build_index(spark, webtext, str(tmp_path / "conj_idx"), cfg)
    oidx = oracle.build_index(docs, cfg)
    for query in ("zqvxterm web", "web search"):
        exp = oracle.conjunctive(oidx, query)
        assert exp
        _assert_matches(q.conjunctive(spark, t, query, k=None), exp)


def test_conjunctive_subset_of_existential(spark, tables, oracle_index):
    """AND ⊆ OR on the same query, and every AND doc holds every term."""
    and_ids = {r["docid"] for r in q.conjunctive(spark, tables, "web page").collect()}
    or_ids = {r["docid"] for r in q.existential(spark, tables, "web page").collect()}
    assert and_ids and and_ids <= or_ids
    exp = {d for d, _ in oracle.conjunctive(oracle_index, "web page")}
    assert and_ids == exp


@pytest.mark.parametrize("query", ["web search engine", "w00000", "page rank"])
def test_bm25_pagerank_blend_parity(spark, tables, oracle_index, query):
    exp = oracle.bm25_topk(oracle_index, query, k=20, pagerank_weight=0.25)
    got = q.bm25_topk(spark, tables, query, k=20, pagerank_weight=0.25)
    _assert_matches(got, exp)


def test_full_ranking_no_limit(spark, tables, oracle_index):
    exp = oracle.bm25_topk(oracle_index, "web page", k=None)
    got = q.bm25_topk(spark, tables, "web page", k=None)
    _assert_matches(got, exp)


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_wand_parity(spark, tables, oracle_index, query):
    """Block-max WAND must be rank- AND score-identical to the oracle
    (hence to the exhaustive path) — including the normalization constant."""
    exp = oracle.bm25_topk(oracle_index, query, k=10)
    got = q.bm25_topk_wand(spark, tables, query, k=10)
    _assert_matches(got, exp)


def test_bm25_wand_k_larger_than_matches(spark, tables, oracle_index):
    exp = oracle.bm25_topk(oracle_index, "w19999", k=500)
    got = q.bm25_topk_wand(spark, tables, "w19999", k=500)
    _assert_matches(got, exp)


def test_bm25_wand_actually_prunes(spark, tmp_path):
    """On a corpus with block-level score heterogeneity (a few high-TF docs in
    one docid range, scattered TF=1 elsewhere), WAND must prune blocks whose
    metadata upper bound can't reach the top-k threshold — while staying
    rank-identical to the oracle."""
    cfg = EngineConfig(postings_block_size=16, wand_min_postings=0)
    filler = " ".join(f"filler{i:02d}" for i in range(19))
    docs = []
    for i in range(200):
        # docid order = url rank; docs 0-9 (block 0) get TF=8 "hotword",
        # every 10th later doc gets TF=1 — same doc length everywhere
        if i < 10:
            body = "hotword " * 8 + " ".join(f"filler{j:02d}" for j in range(12))
        elif i % 10 == 0:
            body = "hotword " + filler[: len(filler)]
        else:
            body = filler + " tail"
        docs.append((f"u{i:05d}", body))
    webtext = spark.createDataFrame(docs, "url string, text string")
    t = build_index(spark, webtext, str(tmp_path / "wandidx"), cfg)
    oidx = oracle.build_index(docs, cfg)

    stats: dict = {}
    got = q.bm25_topk_wand(spark, t, "hotword", k=5, stats=stats)
    exp = oracle.bm25_topk(oidx, "hotword", k=5)
    _assert_matches(got, exp)
    assert stats["n_blocks_total"] > 3
    assert stats["n_blocks_survived"] < stats["n_blocks_total"], stats


def test_topk_with_docs_projection(spark, tables, oracle_index):
    topk = q.bm25_topk(spark, tables, "web search", k=5)
    rows = q.topk_with_docs(spark, tables, topk).collect()
    assert len(rows) == 5
    inv = {d: u for u, d in oracle_index.doc_id_of_url.items()}
    for r in rows:
        assert r["url"] == inv[r["docid"]]


def test_wand_threshold_routes_small_queries_to_exhaustive(
    spark, tables, oracle_index, monkeypatch
):
    """Routing pins of bm25_topk_wand, each returning the oracle's ranking:
    below the production wand_min_postings (Σ DF of the query terms under
    the measured crossover, BENCH/wand_crossover.json) it takes the
    exhaustive fallback; with the decoded-postings cache open it takes it
    for ANY nonzero threshold (WAND over the cache was measured 6× slower
    than the cached plan); with the size gate closed, a selective query
    that clears the threshold runs the pruned path; threshold 0 forces it."""
    from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
        IndexTables,
    )

    def route(handle, query, k, config):
        stats = {}
        got = q.bm25_topk_wand(spark, handle, query, k=k, config=config, stats=stats)
        _assert_matches(got, oracle.bm25_topk(oracle_index, query, k=k))
        return stats

    production = CFG.with_(wand_min_postings=EngineConfig().wand_min_postings)
    assert route(tables, "web search", 10, production)["fallback"] == "exhaustive"

    # one hapax term (df 1 ≤ n_docs/1000) covers k=1: selective, and Σ DF ≥ 1
    hapax = min(
        t for t, df in oracle_index.df.items() if df == 1 and t[1:].isdigit()
    )
    selective, cfg1 = f"{hapax} web", CFG.with_(wand_min_postings=1)
    assert tables.decoded_postings(spark) is not None
    assert route(tables, selective, 1, cfg1)["fallback"] == "exhaustive"

    # forced WAND (threshold 0) runs the real pruned path with the cache open
    stats = route(tables, "web search", 10, CFG)
    assert "fallback" not in stats and "theta" in stats

    monkeypatch.setattr(IndexTables, "_decoded_fits", lambda self, spark: False)
    closed = IndexTables(tables.path, tables.config)
    try:
        assert closed.decoded_postings(spark) is None
        stats = route(closed, selective, 1, cfg1)
        assert "fallback" not in stats and "theta" in stats
    finally:
        closed.refresh()


def test_topk_result_is_driver_local(spark, tables):
    """Perf contract: a bounded top-k result is a driver-built LocalRelation.
    Collecting it must launch ZERO Spark jobs (executeCollect on
    LocalTableScan — it used to be 1 of the 3 jobs of every bm25 query), and
    distributed reuse must have no empty slices — createDataFrame(list)'s
    default of defaultParallelism slices made every caller collect()
    schedule ~n_cores empty tasks (measured: 32 of 33 tasks of a bench
    bm25 query)."""
    jst = spark.sparkContext._jsc.sc().statusTracker()
    for df in (
        q.bm25_topk(spark, tables, "web search", k=5),
        q.bm25_topk(spark, tables, "zzz-no-such-term", k=5),  # empty frame
    ):
        n0 = len(jst.getJobIdsForGroup(None))
        rows = df.collect()
        assert len(jst.getJobIdsForGroup(None)) - n0 == 0, "collect ran a job"
        # every slice non-empty (0 slices for the empty frame)
        assert df.rdd.getNumPartitions() <= max(1, len(rows))

    # every driver frame (judgments, batch query terms, per-query results,
    # stats rows) has the same shape: job-free, and exact
    schema = "qid int, url string, rel int"
    odd = ["", "plain", "it's", 'say "hi"', "back\\slash", "naïve 検索 ✓", "a\nb\tc"]
    for rows in (
        [],
        [(1, None, None)],
        [(i, s, i % 3) for i, s in enumerate(odd)],
        [(i, f"https://example.org/{i}/'\"\\", i % 2) for i in range(5000)],
    ):
        df = local_rows_df(spark, rows, schema)
        last = max(jst.getJobIdsForGroup(None), default=-1)
        got = [tuple(r) for r in df.collect()]
        assert [j for j in jst.getJobIdsForGroup(None) if j > last] == []
        assert got == rows
        assert df.rdd.getNumPartitions() <= len(rows)
    floats = [0.1 + 0.2, -0.0, 5e-324, float("inf"), float("nan"), None]
    rows = [(i, f, i % 2 == 0) for i, f in enumerate(floats)]
    df = local_rows_df(spark, rows, "docid long, score double, flag boolean")
    last = max(jst.getJobIdsForGroup(None), default=-1)
    got = df.collect()
    assert [j for j in jst.getJobIdsForGroup(None) if j > last] == []
    assert [tuple(map(repr, r)) for r in got] == [tuple(map(repr, r)) for r in rows]
    with pytest.raises(ValueError, match="non-nullable"):
        local_rows_df(spark, [(None,)], T.StructType(
            [T.StructField("url", T.StringType(), False)]
        ))


@pytest.mark.parametrize(
    "model, max_jobs",
    [("bm25", 1), ("vsm", 2), ("existential", 1), ("conjunctive", 1)],
)
def test_bounded_k_query_jobs(spark, tables, model, max_jobs):
    """Perf contract: a bounded-k query is one SQL statement, so it runs one
    Spark job (vsm: two, the first broadcasts doc_stats for the join)."""
    fn = {
        "bm25": q.bm25_topk,
        "vsm": q.vsm_topk,
        "existential": q.existential,
        "conjunctive": q.conjunctive,
    }[model]
    fn(spark, tables, "web search", k=10)  # handle state loaded first
    jst = spark.sparkContext._jsc.sc().statusTracker()
    last = max(jst.getJobIdsForGroup(None), default=-1)
    rows = fn(spark, tables, "web search", k=10).collect()
    jobs = [j for j in jst.getJobIdsForGroup(None) if j > last]
    assert rows and len(jobs) <= max_jobs, (len(rows), jobs)


# ---------------------------------------------------------------------------
# Batch retrieval: one distributed pass over N queries, rank-identical per
# qid to the sequential path
# ---------------------------------------------------------------------------


def _batch_by_qid(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    for qid in out:
        out[qid].sort(key=lambda p: (-p[1], p[0]))
    return out


def _assert_batch_matches_sequential(spark, tables, qs, k):
    batch = _batch_by_qid(q.bm25_topk_batch(spark, tables, qs, k=k))
    for qid, query in qs:
        exp = [
            (r["docid"], r["score"])
            for r in q.bm25_topk(spark, tables, query, k=k).collect()
        ]
        got = batch.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in exp], (
            f"qid {qid} ({query!r}): got {got[:5]} want {exp[:5]}"
        )
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-9), f"qid {qid} doc {gd}"
    return batch


def test_bm25_batch_matches_sequential(spark, tables):
    batch = _assert_batch_matches_sequential(
        spark, tables, list(enumerate(QUERIES)), k=10
    )
    # stopword-only query contributes no rows at all
    assert 3 not in batch


def test_bm25_batch_wand_routing_mixed(spark, tables):
    """A batch mixing query shapes that would route differently under a
    production-style WAND threshold (common terms only, rare + head, one
    head term) at small k: the batch runs one shared plan for all of them
    and every qid stays rank-identical to its sequential bm25_topk."""
    _assert_batch_matches_sequential(
        spark,
        tables,
        [(0, "web search page"), (1, "w00483 w00590 w00000"), (2, "w00000")],
        k=2,
    )


def test_bm25_batch_full_ranking_and_blend(spark, tables):
    qs = [(7, "web page"), (9, "w00000 search")]
    batch = _batch_by_qid(q.bm25_topk_batch(spark, tables, qs, k=None))
    for qid, query in qs:
        exp = [
            (r["docid"], r["score"])
            for r in q.bm25_topk(spark, tables, query, k=None).collect()
        ]
        assert batch[qid] == [
            (d, pytest.approx(s, abs=1e-9)) for d, s in exp
        ], f"qid {qid} full ranking diverged"
    blended = _batch_by_qid(
        q.bm25_topk_batch(spark, tables, qs, k=15, pagerank_weight=0.25)
    )
    for qid, query in qs:
        exp = [
            (r["docid"], r["score"])
            for r in q.bm25_topk(
                spark, tables, query, k=15, pagerank_weight=0.25
            ).collect()
        ]
        got = blended[qid]
        assert [d for d, _ in got] == [d for d, _ in exp]
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-9), f"qid {qid} doc {gd}"


def test_bm25_batch_all_empty_queries(spark, tables):
    out = q.bm25_topk_batch(spark, tables, [(0, "the and of")], k=10)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["qid", "docid", "score"]


def test_vsm_batch_matches_sequential(spark, tables):
    qs = list(enumerate(QUERIES[:6]))
    batch = _batch_by_qid(q.vsm_topk_batch(spark, tables, qs, k=10))
    for qid, query in qs:
        exp = [
            (r["docid"], r["score"])
            for r in q.vsm_topk(spark, tables, query, k=10).collect()
        ]
        got = batch.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in exp], (
            f"qid {qid} ({query!r}): got {got[:5]} want {exp[:5]}"
        )
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-9), f"qid {qid} doc {gd}"


def test_bm25_batch_heterogeneous_blocks_match_oracle(spark, tmp_path):
    """Batch BM25 on a corpus with block-level score heterogeneity (a few
    high-TF docs in one docid range, scattered TF=1 elsewhere) ranks every
    qid exactly like the oracle."""
    cfg = EngineConfig(postings_block_size=16, wand_min_postings=0)
    filler = " ".join(f"filler{i:02d}" for i in range(19))
    docs = []
    for i in range(200):
        if i < 10:
            body = "hotword " * 8 + " ".join(f"filler{j:02d}" for j in range(12))
        elif i % 10 == 0:
            body = "hotword " + filler[: len(filler)]
        else:
            body = filler + " tail"
        docs.append((f"u{i:05d}", body))
    webtext = spark.createDataFrame(docs, "url string, text string")
    t = build_index(spark, webtext, str(tmp_path / "wandbidx"), cfg)
    oidx = oracle.build_index(docs, cfg)

    qs = [(0, "hotword"), (1, "hotword tail")]
    batch = _batch_by_qid(q.bm25_topk_batch(spark, t, qs, k=5))
    for qid, query in qs:
        exp = oracle.bm25_topk(oidx, query, k=5)
        got = batch[qid]
        assert [d for d, _ in got] == [d for d, _ in exp], f"qid {qid}"
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-9), f"qid {qid} doc {gd}"


# ---------------------------------------------------------------------------
# Decoded-postings cache: the size gate, empty decodes, other sessions
# ---------------------------------------------------------------------------


def test_decode_blocks_empty_input(spark, tables):
    """decode_blocks of an empty frame, and of a frame filtered to zero
    rows, is 0 rows with the decoded schema (never one row per empty
    Arrow batch)."""
    from pyspark.sql import functions as F

    blocks = tables.postings(spark)
    for frame in (
        spark.createDataFrame([], blocks.schema),
        blocks.filter(F.col("term") == "zzzznotfound"),
    ):
        out = q.decode_blocks(frame)
        assert out.collect() == []
        assert out.columns == ["term", "docid", "tf", "dl"]


def test_closed_size_gate_matches_decoded_cache(spark, tables, monkeypatch):
    """With the decoded-postings size gate closed, every model decodes the
    compressed blocks it matches per query instead — and returns
    BIT-identical (docid, score) lists to the decoded-cache path."""
    from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
        IndexTables,
    )

    # filled before the patch
    assert tables.decoded_postings(spark).columns == ["term", "docid", "tf", "dl"]
    monkeypatch.setattr(IndexTables, "_decoded_fits", lambda self, spark: False)
    closed = IndexTables(tables.path, tables.config)
    assert closed.decoded_postings(spark) is None
    matched = 0
    for fn in (q.bm25_topk, q.vsm_topk, q.existential, q.conjunctive):
        for query in QUERIES:
            want = [(r["docid"], r["score"]) for r in fn(spark, tables, query, k=25).collect()]
            got = [(r["docid"], r["score"]) for r in fn(spark, closed, query, k=25).collect()]
            assert got == want, f"{fn.__name__} diverged on {query!r}"
            matched += len(got)
    assert matched > 0
    closed.refresh()


def test_bounded_k_in_new_session(spark, tables):
    """Temp views are per session: bounded-k bm25 and vsm (the SQL fast
    paths over the handle's views) run through a newSession() on the same
    handle and return the same rows."""
    other = spark.newSession()
    for fn in (q.bm25_topk, q.vsm_topk):
        for query in ("web search engine", "w19998 w19999 web"):
            want = fn(spark, tables, query, k=10).collect()
            assert fn(other, tables, query, k=10).collect() == want
    # and back in the first session, whose views are still registered
    assert q.bm25_topk(spark, tables, "page", k=5).collect()


def test_refresh_recaches_other_handle_on_same_path(spark, tables):
    """Two handles on one index path share Spark's cache entries (their
    plans are identical), so a refresh() of either drops them for both: the
    other handle's next queries refill its caches and run over cached
    relations again, with the same results."""
    from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
        IndexTables,
    )

    def run(handle):
        return (
            q.bm25_topk(spark, handle, "web search engine", k=10).collect(),
            q.bm25_topk_wand(spark, handle, "web search engine", k=10).collect(),
        )

    want = run(tables)
    other = IndexTables(tables.path, tables.config)
    assert run(other) == want
    other.refresh()
    assert run(tables) == want
    for df in (tables.postings(spark), tables.decoded_postings(spark)):
        assert df.storageLevel.useMemory, df.storageLevel
    assert run(other) == want  # and the refreshed handle refills too


def test_vocabulary_fallback_matches_driver_map(spark, tables, monkeypatch):
    """With the driver vocabulary cap at 0, prepare_query looks the query
    terms up with a pushed IN filter on the cached vocabulary table instead
    of the driver map, and bm25/vsm rank bit-identically to the map path."""
    from search_engine_trec_fair_ranking_19_spark.operators import index_build as ib

    assert tables.vocab_map(spark) is not None
    monkeypatch.setattr(ib, "VOCAB_DRIVER_CACHE_MAX_TERMS", 0)
    pushed = ib.IndexTables(tables.path, tables.config)
    assert pushed.vocab_map(spark) is None
    for query in QUERIES:
        assert q.prepare_query(spark, pushed, query, CFG) == q.prepare_query(
            spark, tables, query, CFG
        )
        for fn in (q.bm25_topk, q.vsm_topk):
            for k in (10, None):
                want = [(r["docid"], r["score"]) for r in fn(spark, tables, query, k=k).collect()]
                got = [(r["docid"], r["score"]) for r in fn(spark, pushed, query, k=k).collect()]
                assert got == want, f"{fn.__name__} k={k} diverged on {query!r}"


EXOTIC_QUERIES = [
    "web zero\x00byte",                    # NUL: a delimiter on neither side
    "web it's \"quoted\"",                 # quotes (query delimiters)
    "web back\\slash",                     # backslash: kept whole by the query split
    "web new\nline tab\tbed",              # control characters
    "web ' OR 1=1 --",                     # injection-shaped
    "web café naïve 東京",                  # non-ASCII
    "zero\x00byte café back\\slash ' OR 1=1 -- web",
]


def test_exotic_terms_match_oracle(spark, tmp_path, monkeypatch):
    """Query terms are bound as parameter markers, never formatted into SQL
    text: terms holding quotes, backslashes, NUL, newlines, SQL-injection
    shapes or non-ASCII text rank exactly like the oracle in every model, at
    k=10 and k=None, with the decoded-postings cache open and closed. One
    corpus doc holds a NUL-bearing token, so that term matches a posting."""
    from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
        IndexTables,
    )

    cfg = EngineConfig(postings_block_size=16, wand_min_postings=0)
    docs = [
        (f"u{i:03d}", f"web page{i % 7} " + extra)
        for i, extra in enumerate(
            ["zero\x00byte café", "naïve 東京 web", "tab bed line", "zero\x00byte"]
            + [f"filler{j} new" for j in range(36)]
        )
    ]
    webtext = spark.createDataFrame(docs, "url string, text string")
    opened = build_index(spark, webtext, str(tmp_path / "exotic"), cfg)
    oidx = oracle.build_index(docs, cfg)
    assert opened.decoded_postings(spark) is not None
    monkeypatch.setattr(IndexTables, "_decoded_fits", lambda self, spark: False)
    closed = IndexTables(opened.path, opened.config)
    assert closed.decoded_postings(spark) is None

    models = [
        (q.bm25_topk, oracle.bm25_topk),
        (q.vsm_topk, oracle.vsm_topk),
        (q.existential, oracle.existential),
        (q.conjunctive, oracle.conjunctive),
    ]
    nul_hits = 0
    for handle in (opened, closed):
        for fn, ofn in models:
            for query in EXOTIC_QUERIES:
                for k in (10, None):
                    exp = ofn(oidx, query, k=k)
                    _assert_matches(fn(spark, handle, query, k=k), exp, k)
        nul_hits += len(q.conjunctive(spark, handle, "web zero\x00byte").collect())
    assert nul_hits == 4  # docs 0 and 3, through both handles
    closed.refresh()
