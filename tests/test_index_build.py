"""Spark index build vs the pure-Python oracle (SURVEY.md §5).

Builds the index over the deterministic synthetic webtext corpus and asserts
every derived table matches the oracle exactly: docids, vocabulary DFs,
doc_stats, collection stats, decoded posting blocks, per-row text invariant.
A property test checks doc_stats on degenerate documents (no tokens, only
stopwords, one token, one repeated term, unicode, a repeated url) through a
build, an ingest and a compaction.
"""

import numpy as np
import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.functions.codec import decode_block
from search_engine_trec_fair_ranking_19_spark.operators.index_build import build_index
from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle
from search_engine_trec_fair_ranking_19_spark.sources.webtext import (
    corpus_pandas,
    corpus_spark,
    extract_text,
)
from search_engine_trec_fair_ranking_19_spark.streaming.incremental import (
    compact_index,
    ingest_batch,
)

N_DOCS = 400
CFG = EngineConfig(postings_block_size=64)  # small blocks -> exercise blocking


@pytest.fixture(scope="module")
def corpus_pdf():
    return corpus_pandas(N_DOCS, seed=7)


@pytest.fixture(scope="module")
def oracle_index(corpus_pdf):
    docs = list(zip(corpus_pdf["url"], corpus_pdf["text"]))
    return oracle.build_index(docs, CFG)


@pytest.fixture(scope="module")
def tables(spark, corpus_pdf, tmp_path_factory):
    webtext = corpus_spark(spark, N_DOCS, seed=7, n_partitions=7)
    index_dir = str(tmp_path_factory.mktemp("index"))
    return build_index(spark, webtext, index_dir, CFG)


def test_per_row_invariant(corpus_pdf):
    # byte-identical extracted text per url (BASELINE.json input_hint)
    for html, text in zip(corpus_pdf["html"], corpus_pdf["text"]):
        assert extract_text(html) == text


def test_doc_ids_match_oracle(spark, tables, oracle_index):
    got = {
        r["url"]: r["docid"] for r in tables.doc_ids(spark).collect()
    }
    assert got == oracle_index.doc_id_of_url


def test_collection_stats(spark, tables, oracle_index):
    stats = tables.collection_stats(spark)
    assert stats["n_docs"] == oracle_index.n_docs
    assert stats["avgdl"] == pytest.approx(oracle_index.avgdl, abs=1e-9)
    assert stats["use_stemmer"] is True and stats["use_stopwords"] is True


def test_vocabulary_matches_oracle(spark, tables, oracle_index):
    got = {r["term"]: r["df"] for r in tables.vocabulary(spark).collect()}
    assert got == oracle_index.df


def test_doc_stats_match_oracle(spark, tables, oracle_index):
    rows = tables.doc_stats(spark).collect()
    assert len(rows) == sum(1 for v in oracle_index.token_count.values() if v > 0)
    for r in rows:
        d = r["docid"]
        assert r["token_count"] == oracle_index.token_count[d]
        assert r["max_tf"] == oracle_index.max_tf[d]
        assert r["vsm_weight"] == pytest.approx(
            oracle_index.vsm_weight[d], rel=1e-12
        )


def test_postings_blocks_match_oracle(spark, tables, oracle_index):
    blocks = tables.postings(spark).collect()
    got: dict[str, list[tuple[int, int]]] = {}
    dls_by_doc: dict[int, int] = {}
    for b in blocks:
        docids, tfs, dls = decode_block(
            bytes(b["gaps"]), bytes(b["tfs"]), bytes(b["dls"])
        )
        # block invariants
        assert b["df"] == docids.size
        assert np.all(np.diff(docids) > 0)  # strictly ascending in block
        assert b["max_tf"] == tfs.max()
        assert b["min_dl"] == dls.min()
        assert np.all(docids // CFG.postings_block_size == b["block_id"])
        got.setdefault(b["term"], []).extend(zip(docids.tolist(), tfs.tolist()))
        for d, dl in zip(docids.tolist(), dls.tolist()):
            dls_by_doc[d] = dl
    for term in got:
        got[term].sort()
    assert got == oracle_index.postings
    assert dls_by_doc == {
        d: v for d, v in oracle_index.token_count.items() if v > 0
    }


def test_resume_skips_completed_stages(spark, tables, oracle_index):
    # re-run with resume=True over the same dir: manifest says all stages ok,
    # outputs unchanged
    manifest = tables.manifest()
    assert set(manifest["stages"]) == {
        "doc_ids", "doc_stats", "collection_stats", "postings", "vocabulary",
    }
    assert all(s["status"] == "ok" for s in manifest["stages"].values())
    before = {r["term"]: r["df"] for r in tables.vocabulary(spark).collect()}
    webtext = corpus_spark(spark, N_DOCS, seed=7)
    t2 = build_index(spark, webtext, tables.path, CFG, resume=True)
    after = {r["term"]: r["df"] for r in t2.vocabulary(spark).collect()}
    assert before == after == oracle_index.df


# ---------------------------------------------------------------------------
# doc_stats on degenerate documents: build, ingest and compaction
# ---------------------------------------------------------------------------

_WORDS = ["web", "search", "engine", "running", "runs", "Apple", "apple",
          "naïve", "café", "Straße", "кириллица", "漢字"]
_STOP = ["the", "a", "and", "of", "is", "it"]
_BLANK = ["", " ", " ,.; ", "\t!?"]
_DEGENERATE_CFG = EngineConfig(postings_block_size=4)


@st.composite
def _tiny_corpus(draw, host):
    """(url, text) rows: a zero-token doc, an all-stopword doc, a one-token
    doc, a doc repeating one term (max_tf == dl), a unicode doc, up to three
    mixed docs, and a second row for one of those urls."""
    word = st.sampled_from(_WORDS)
    mixed = st.lists(st.sampled_from(_WORDS + _STOP), max_size=8).map(" ".join)
    texts = [
        draw(st.sampled_from(_BLANK)),
        " ".join(draw(st.lists(st.sampled_from(_STOP), min_size=1, max_size=4))),
        draw(word),
        " ".join([draw(word)] * draw(st.integers(2, 5))),
        draw(st.text(alphabet="äöüßéñλ漢字кир ", min_size=1, max_size=12)),
        *draw(st.lists(mixed, max_size=3)),
    ]
    rows = [(f"http://{host}{i}.test/", t) for i, t in enumerate(texts)]
    dup = draw(st.sampled_from(rows))[0]
    return rows + [(dup, draw(mixed))]


def _oracle(rows):
    """Oracle index over ``rows`` with one row per url: the max text, as
    the engine's duplicate-url dedup keeps."""
    best: dict[str, str] = {}
    for url, text in rows:
        best[url] = max(best.get(url, text), text)
    return oracle.build_index(list(best.items()), _DEGENERATE_CFG)


def _assert_doc_stats(spark, tables, want, urls):
    """doc_stats rows of ``urls`` equal the oracle's: exact token_count and
    max_tf, vsm_weight within 1e-9; zero-token docs have no row."""
    got = {
        r["url"]: r
        for r in tables.doc_stats(spark).join(tables.doc_ids(spark), "docid").collect()
        if r["url"] in urls
    }
    ids = want.doc_id_of_url
    assert set(got) == {u for u in urls if want.token_count[ids[u]] > 0}
    for u, r in got.items():
        d = ids[u]
        assert r["token_count"] == want.token_count[d]
        assert r["max_tf"] == want.max_tf[d]
        assert r["vsm_weight"] == pytest.approx(want.vsm_weight[d], rel=1e-9)


# no shrink phase: every example writes three indexes, so shrinking a
# failure would take many minutes; the failing corpus is reported as drawn
@settings(
    max_examples=3,
    deadline=None,
    phases=(Phase.explicit, Phase.reuse, Phase.generate),
)
@given(first=_tiny_corpus("a"), second=_tiny_corpus("b"))
def test_doc_stats_degenerate_docs_match_oracle(
    spark, tmp_path_factory, first, second
):
    """Build, then ingest a second batch (re-delivering one url of the
    first, which the ingest skips), then compact: doc_stats equals the
    oracle's at each step, and N counts the zero-token docs."""
    index_dir = str(tmp_path_factory.mktemp("degenerate"))

    def frame(rows):
        return spark.createDataFrame(rows, "url string, text string")

    want1 = _oracle(first)
    tables = build_index(spark, frame(first), index_dir, _DEGENERATE_CFG)
    assert tables.collection_stats(spark)["n_docs"] == want1.n_docs
    _assert_doc_stats(spark, tables, want1, set(want1.urls))

    second = second + [(first[0][0], "web web web")]
    old = set(want1.urls)
    want = _oracle(first + [r for r in second if r[0] not in old])
    tables = ingest_batch(spark, frame(second), index_dir, _DEGENERATE_CFG)
    assert tables.collection_stats(spark)["n_docs"] == want.n_docs
    # earlier docs keep their ingest-time weights until compaction
    _assert_doc_stats(spark, tables, want1, old)
    _assert_doc_stats(spark, tables, want, set(want.urls) - old)

    tables = compact_index(spark, index_dir, _DEGENERATE_CFG)
    assert tables.collection_stats(spark)["n_docs"] == want.n_docs
    _assert_doc_stats(spark, tables, want, set(want.urls))
