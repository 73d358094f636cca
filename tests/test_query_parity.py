"""Query-engine parity: Spark BM25+/VSM/Existential vs the oracle.

The gate from SURVEY.md §5: rank-identical top-k docids and scores within 1e-9
after max-normalization, on a query set covering head/tail terms, stopword-only
queries, repeated terms (mergeTerms), unicode delimiters, OOV terms, and the
PageRank-blended configuration.
"""

import math

import pytest

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.operators import query as q
from search_engine_trec_fair_ranking_19_spark.operators.index_build import build_index
from search_engine_trec_fair_ranking_19_spark.operators.pagerank import (
    pagerank_table,
)
from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle
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


def test_wand_threshold_routes_small_queries_to_exhaustive(spark, tables, oracle_index):
    """Crossover behavior pin (BENCH/wand_crossover.json): below the
    production wand_min_postings (Σ DF of the query terms under the measured
    ~10M-posting crossover) bm25_topk_wand must take the exhaustive fallback
    — and still return the identical ranking."""
    stats = {}
    got = q.bm25_topk_wand(
        spark, tables, "web search", k=10,
        config=CFG.with_(wand_min_postings=EngineConfig().wand_min_postings),
        stats=stats,
    )
    assert stats.get("fallback") == "exhaustive"
    want = oracle.bm25_topk(oracle_index, "web search", k=10)
    _assert_matches(got, want)

    # forced WAND (threshold 0) runs the real pruned path on the same query
    stats = {}
    q.bm25_topk_wand(spark, tables, "web search", k=10, config=CFG, stats=stats)
    assert "fallback" not in stats and "theta" in stats


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


def test_bm25_batch_matches_sequential(spark, tables):
    batch = _batch_by_qid(
        q.bm25_topk_batch(spark, tables, list(enumerate(QUERIES)), k=10)
    )
    for qid, query in enumerate(QUERIES):
        exp = [
            (r["docid"], r["score"])
            for r in q.bm25_topk(spark, tables, query, k=10).collect()
        ]
        got = batch.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in exp], (
            f"qid {qid} ({query!r}): got {got[:5]} want {exp[:5]}"
        )
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-9), f"qid {qid} doc {gd}"
    # stopword-only query contributes no rows at all
    assert 3 not in batch


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


def test_bm25_batch_wand_routing_mixed(spark, tables):
    """Per-qid WAND routing inside the batch: with a production-style
    threshold, selective queries take the batched pruned path while
    common-only queries stay on the shared exhaustive scan — and every qid
    remains rank-identical to its sequential bm25_topk ranking."""
    cfg = CFG.with_(wand_min_postings=50, wand_rare_df_divisor=40)
    qs = [
        (0, "web search page"),       # common terms only: rare_cover < k
        (1, "w00483 w00590 w00000"),  # rare (df 1,1) + head: WAND-routed
        (2, "w00000"),                # head term, rare_cover=0: exhaustive
    ]
    stats: dict = {}
    batch = _batch_by_qid(
        q.bm25_topk_batch(spark, tables, qs, k=2, config=cfg, stats=stats)
    )
    assert set(stats["paths"].values()) == {"wand", "exhaustive"}, (
        f"routing not mixed at this corpus: {stats['paths']}"
    )
    for qid, query in qs:
        exp = [
            (r["docid"], r["score"])
            for r in q.bm25_topk(spark, tables, query, k=2, config=cfg).collect()
        ]
        got = batch.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in exp], (
            f"qid {qid} ({query!r}) [{stats['paths'][qid]}]: "
            f"got {got} want {exp}"
        )
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-9), f"qid {qid} doc {gd}"


def test_bm25_batch_wand_actually_prunes(spark, tmp_path):
    """Batched WAND must drop (qid, block) pairs whose metadata bound can't
    reach that qid's θ — on the same heterogeneous corpus the single-query
    pruning test uses — while every qid stays oracle-identical."""
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
    stats: dict = {}
    batch = _batch_by_qid(
        q.bm25_topk_batch(spark, t, qs, k=5, stats=stats)
    )
    assert set(stats["paths"].values()) == {"wand"}
    assert stats["batch_pairs_survived"] < stats["batch_pairs_total"], stats
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
        out = q.decode_blocks(frame, keep=("block_id",))
        assert out.collect() == []
        assert out.columns == ["block_id", "term", "docid", "tf", "dl"]


def test_closed_size_gate_matches_decoded_cache(spark, tables, monkeypatch):
    """With the decoded-postings size gate closed, every model decodes the
    compressed blocks it matches per query instead — and returns
    BIT-identical (docid, score) lists to the decoded-cache path."""
    from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
        IndexTables,
    )

    assert tables.decoded_postings(spark) is not None  # filled before the patch
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
