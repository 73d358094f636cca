"""Spark index build vs the pure-Python oracle (SURVEY.md §5).

Builds the index over the deterministic synthetic webtext corpus and asserts
every derived table matches the oracle exactly: docids, vocabulary DFs,
doc_stats, collection stats, decoded posting blocks, per-row text invariant.
"""

import numpy as np
import pytest

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.functions.codec import decode_block
from search_engine_trec_fair_ranking_19_spark.operators import index_build as ib
from search_engine_trec_fair_ranking_19_spark.operators.index_build import build_index
from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle
from search_engine_trec_fair_ranking_19_spark.sources.webtext import (
    corpus_pandas,
    corpus_spark,
    extract_text,
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


def test_doc_stats_blocks_path_matches_oracle(
    spark, corpus_pdf, oracle_index, tmp_path, monkeypatch
):
    """The web-scale doc_stats path (DF joined onto the encoded blocks table,
    doc_stats_from_postings — selected when the vocabulary exceeds the
    broadcast budget) must produce the same table as the broadcast path,
    checked against the oracle with FP tolerance (summation order differs)."""
    webtext = corpus_spark(spark, N_DOCS, seed=7, n_partitions=7)
    monkeypatch.setattr(ib, "DOC_STATS_BROADCAST_MAX_TERMS", 0)  # force the blocks path
    tables2 = build_index(spark, webtext, str(tmp_path / "blkidx"), CFG)
    rows = tables2.doc_stats(spark).collect()
    assert len(rows) == sum(
        1 for v in oracle_index.token_count.values() if v > 0
    )
    for r in rows:
        d = r["docid"]
        assert r["token_count"] == oracle_index.token_count[d]
        assert r["max_tf"] == oracle_index.max_tf[d]
        assert r["vsm_weight"] == pytest.approx(
            oracle_index.vsm_weight[d], rel=1e-9
        )
