"""Engine configuration.

Defaults mirror the reference's `src/main/resources/themis.config` and the
hard-coded model constants (`OkapiBM25P.java:18-19`, `Config.java:163-172`).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class EngineConfig:
    # lexical analysis (themis.config:4-5)
    use_stemmer: bool = True
    use_stopwords: bool = True

    # BM25+ constants (OkapiBM25P.java:18-19); delta=1 is the "+1" in the score sum
    bm25_k1: float = 2.0
    bm25_b: float = 0.75

    # retrieval blending (themis.config:22-23, Retrieval.java:73-99)
    pagerank_weight: float = 0.0

    # PageRank (themis.config:15-16)
    pagerank_damping: float = 0.85
    pagerank_threshold: float = 1e-8
    pagerank_max_iters: int = 200

    # block-max WAND's metadata granularity: the posting_blocks table keeps
    # (df, max_tf, min_dl) per (term, docid DIV this) block. The postings
    # themselves are one row per posting at any block size.
    postings_block_size: int = 4096

    # NOTE on skew: head-term work needs no explicit salt column — the
    # postings shuffle is a range partition on (term, docid), which splits a
    # head term's postings across partitions (see ARCHITECTURE.md §1). AQE
    # skew-join handling covers the remaining join-side skew.

    # below this many candidate postings (Σ DF over query terms) the WAND
    # metadata/seed/prune passes cost more than scoring everything — fall
    # back to the exhaustive plan (0 = always run real WAND; used by tests
    # and the correctness gate). Measured (BENCH/wand_crossover.json): WAND
    # first beats exhaustive at a 2M-doc hapax-enriched corpus, Σ DF ≈ 3.4M,
    # on SELECTIVE queries (rare-term set covering ≥ k docs anchors θ above
    # common-only blocks' UB — 48 of 1479 block groups survive, 1.3-1.5× net
    # wall-clock win). The default sits just under that smallest measured
    # winning Σ DF. The second routing condition, selectivity, is
    # ``query.WAND_RARE_DF_DIVISOR``. While the postings relation is
    # cached, any nonzero value routes to the cached plan.
    wand_min_postings: int = 3_000_000

    def with_(self, **kw) -> "EngineConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = EngineConfig()
