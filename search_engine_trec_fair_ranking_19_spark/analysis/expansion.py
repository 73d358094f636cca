"""Query expansion — rebuild of `T/queryExpansion/` (E1-E3, SURVEY.md §2.10).

The reference ships two expanders backed by external artifacts:
  * GloVe nearest-neighbour (`T/queryExpansion/model/GloVe.java:52-80`):
    3 nearest terms per query token via dl4j ``wordsNearest``;
  * WordNet synsets (`T/queryExpansion/model/WordNet.java:52-105`):
    POS-tagged synonym lookup via extjwnl.

Those model files are external data (not available here, and out of scope per
the build rules). Each has a real in-repo path that needs no artifact:

  * E1 (GloVe): `mine_synonym_table` below mines synonym candidates from the
    corpus itself (document co-occurrence PMI) — gate-tested end-to-end;
  * E2 (WordNet): `analysis/wordnet.py` implements the reference's exact
    POS-routed synset semantics over any standard WordNet ``dict/`` read
    directly in the public wndb(5) format, with a deterministic rule tagger
    standing in for the (non-redistributable) Maxent model — pytest-pinned
    against a synthetic mini-database in the same format.

The `GloVeExpander` class itself stays a stub (dl4j ``wordsNearest`` needs
the embeddings file), and the expansion **pipeline semantics**
(`Search.java:241-269`, E3) are fully implemented and tested against a
deterministic table-driven expander:

  * every candidate list is generated per ORIGINAL query token (pre-
    normalization — the reference expands raw tokens, `Search.java:243`);
  * a stopword original is skipped ENTIRELY, expansions included — the
    expanders `continue` before emitting the token's list
    (`GloVe.java:60-62`, `WordNet.java:72-74`);
  * only content-word tokens are expanded: the reference POS-tags the query
    and admits N/V/ADJ/ADV classes only (`WordNet.java:81-99,115-137`);
    without the external tagger this is approximated by the lexical
    `is_content_word` guard (alphabetic-only tokens) — null-POS tokens keep
    their original with no expansions, same as the reference;
  * per token the candidate list is [original(w=1.0), cand1(w=0.5), …] and at
    most TWO terms are kept INCLUDING the original (`termCount` counts the
    original and breaks at 2, `Search.java:249-266`) — i.e. ≤1 expansion per
    token survives;
  * stopword and multiword (`term.split(" ").length > 1`) candidates are
    dropped before counting (`Search.java:250-253`);
  * dedup is ONLY against the immediately preceding emitted term
    (`newQuery.get(size-1)`, `Search.java:260`), comparing the stored
    LOWERCASED term against the stemmed-but-not-yet-lowercased candidate —
    a case-sensitive quirk replicated verbatim;
  * originals carry weight 1.0, expansions ``EXPANSION_WEIGHT`` (=0.5)
    (`GloVe.java:55-56`, `Search.java:261`).

Expansion is driver-side work on a handful of tokens — it never touches the
distributed plan (the expanded (term, weight) list feeds the same broadcast
query DataFrame).
"""

from __future__ import annotations

from typing import Protocol

from .stopwords import STOPWORDS
from .tokenizer import normalize_token, split_query, stem

EXPANSION_WEIGHT = 0.5  # GloVe.java:55
MAX_TERMS_PER_TOKEN = 2  # incl. the original: Search.java:264-266


def is_content_word(token: str) -> bool:
    """Heuristic stand-in for the reference's POS gate (`WordNet.java:81-137`):
    a Maxent tagger assigns each token a Penn tag and `getPos()` admits only
    noun/verb/adjective/adverb classes to synset expansion — numbers (CD),
    symbols, and other null-POS tokens keep the original term with NO
    expansions. The external tagger model isn't available here, so the
    observable split is approximated lexically: purely-alphabetic tokens are
    treated as content words (in English text a non-stopword alphabetic token
    is overwhelmingly N/V/ADJ/ADV), while tokens containing digits or symbols
    — the null-POS classes — are not expanded. Stopword originals are handled
    upstream and drop the whole token (`GloVe.java:60-62`)."""
    return token.isalpha()


class QueryExpander(Protocol):
    """Per-token candidate generator. Implementations must be deterministic."""

    def expand(self, token: str) -> list[str]:  # pragma: no cover - protocol
        ...


class SynonymTableExpander:
    """Deterministic table-driven expander (the test/production stand-in for
    GloVe/WordNet: a user-supplied synonym table, e.g. mined from the corpus —
    no external artifacts)."""

    def __init__(self, table: dict[str, list[str]]):
        self.table = {k.lower(): list(v) for k, v in table.items()}

    def expand(self, token: str) -> list[str]:
        return list(self.table.get(token.lower(), []))


class GloVeExpander:
    """E1 with user-supplied vectors — the full reference semantics over any
    embeddings file in the public GloVe text format (``word v1 … vN`` per
    line, `GloVe.java:31-44` loads ``glove.6B.300d.txt`` the same way via
    dl4j): per query token, the ``top_k``(=3) nearest vocabulary words by
    cosine (dl4j ``wordsNearest``, `GloVe.java:52-80`), expansion weight 0.5
    applied downstream by :func:`expand_query`.

    Ingestion is symmetric to the WordNet ``dict/`` reader
    (`analysis/wordnet.py`): the model FILE is user data (none ships in this
    repo — "no external data"); everything else is implemented and
    pytest-pinned against a tiny synthetic vectors file
    (tests/test_expansion.py). The zero-artifact default for E1 remains the
    corpus-mined PMI table (:func:`mine_synonym_table`).

    Driver-side by design, like the reference: the model is a query-time
    lookup structure, not part of the distributed plan. Vectors are held as
    one float32 (V × d) unit matrix (~460 MB for the 400k × 300d public
    file) and each token's neighbours are one matrix-vector product over a
    handful of query tokens."""

    def __init__(self, vectors_path: str, top_k: int = 3):
        import numpy as np

        words: list[str] = []
        vecs: list[np.ndarray] = []
        with open(vectors_path, encoding="utf-8") as f:
            for line in f:
                parts = line.rstrip("\n").split(" ")
                if len(parts) < 3:
                    continue  # blank/word2vec-style header lines
                words.append(parts[0])
                vecs.append(np.asarray(parts[1:], dtype=np.float32))
        if not words:
            raise ValueError(f"no vectors found in {vectors_path}")
        dims = {v.shape[0] for v in vecs}
        if len(dims) != 1:
            raise ValueError(f"inconsistent vector dims in {vectors_path}: {dims}")
        mat = np.stack(vecs)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        self._unit = (mat / norms[:, None]).astype(np.float32)
        self._words = words
        self._index = {w: i for i, w in enumerate(words)}
        self.top_k = top_k

    def expand(self, token: str) -> list[str]:
        import numpy as np

        i = self._index.get(token.lower())
        if i is None:
            return []  # OOV token: original kept, no expansions
        sims = self._unit @ self._unit[i]
        sims[i] = -np.inf  # wordsNearest never returns the word itself
        # deterministic: cosine desc, then word asc on ties — select the
        # k-th value with argpartition, keep EVERYTHING tied with it so the
        # tie-break is applied over the full tie group, then sort that
        # bounded candidate set
        k = min(self.top_k, len(self._words) - 1)
        kth = sims[np.argpartition(-sims, k - 1)[:k]].min()
        cand = np.nonzero(sims >= kth)[0]
        order = sorted(
            (j for j in cand.tolist() if j != i),
            key=lambda j: (-float(sims[j]), self._words[j]),
        )
        return [self._words[j] for j in order[:k]]


# Real E2: POS-routed synset lookup over a user-supplied WordNet dict/
# directory, read directly in the public wndb(5) format (no extjwnl).
# See analysis/wordnet.py for the full semantics (WordNet.java:52-137).
from .wordnet import WordNetExpander  # noqa: E402,F401


def mine_synonym_table(
    tokens,
    vocabulary,
    n_docs: int,
    top_k: int = 3,
    min_pair_count: int = 2,
    max_terms_per_doc: int | None = None,
):
    """Corpus-mined synonym candidates — the E1 (GloVe) stand-in with ZERO
    external artifacts: document-level co-occurrence PMI over the engine's
    own token/vocabulary tables.

    ``tokens`` is a (docid, term) DataFrame (one row per distinct pair, e.g.
    the postings); ``vocabulary`` is (term, df). For each term the top_k
    partners by ``pmi = ln(pairs·N / (df_a·df_b))`` (ties broken by partner
    term asc — deterministic cross-engine) become its expansion candidates,
    PMI-descending, exactly what `SynonymTableExpander` consumes.

    Scale note: the per-document self-join is O(distinct-terms²) per doc —
    at web scale pass ``max_terms_per_doc`` to keep only each document's
    top-TF terms before pairing (the standard co-occurrence-mining cap), and
    raise ``min_pair_count`` so the pair aggregation's long tail dies in the
    partial agg.

    Returns (term, rank, synonym, pmi) with rank 1..top_k.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = tokens.select("docid", "term")
    if max_terms_per_doc is not None:
        w_doc = Window.partitionBy("docid").orderBy(
            F.desc("tf"), F.asc("term")
        )
        t = (
            tokens.withColumn("__r", F.row_number().over(w_doc))
            .filter(F.col("__r") <= max_terms_per_doc)
            .select("docid", "term")
        )
    pairs = (
        t.select("docid", F.col("term").alias("ta"))
        .join(t.select("docid", F.col("term").alias("tb")), "docid")
        .filter(F.col("ta") != F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_pair_count)
    )
    pmi = (
        pairs.join(
            vocabulary.select(F.col("term").alias("ta"), F.col("df").alias("dfa")),
            "ta",
        )
        .join(
            vocabulary.select(F.col("term").alias("tb"), F.col("df").alias("dfb")),
            "tb",
        )
        .withColumn(
            "pmi",
            F.log(
                F.col("c") * F.lit(float(n_docs)) / (F.col("dfa") * F.col("dfb"))
            ),
        )
    )
    w = Window.partitionBy("ta").orderBy(F.desc("pmi"), F.asc("tb"))
    return (
        pmi.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("ta").alias("term"),
            "rank",
            F.col("tb").alias("synonym"),
            "pmi",
        )
    )


def expander_from_mined(syn_df, terms: list[str]) -> "SynonymTableExpander":
    """Collect the mined candidates for the given (few) query tokens into a
    `SynonymTableExpander` — driver-side and bounded by len(terms)·top_k."""
    from pyspark.sql import functions as F

    rows = (
        syn_df.filter(F.col("term").isin(terms))
        .orderBy("term", "rank")
        .collect()
    )
    table: dict[str, list[str]] = {}
    for r in rows:
        table.setdefault(r["term"], []).append(r["synonym"])
    return SynonymTableExpander(table)


def expand_query(
    query: str,
    expander: QueryExpander | None,
    use_stemmer: bool = True,
    use_stopwords: bool = True,
) -> list[tuple[str, float]]:
    """query string → [(normalized term, weight)] with E3 filter semantics.

    With ``expander=None`` this reduces exactly to the unexpanded analyzer
    (every term weight 1.0, `Search.java:229-240`). Duplicate merged terms are
    NOT collapsed here — `merge_terms` (A9) does that downstream, matching the
    reference order of operations (`Retrieval.mergeTerms` runs inside the
    model)."""
    if expander is None:
        out = []
        for raw in split_query(query):
            norm = normalize_token(raw, use_stemmer, use_stopwords)
            if norm is not None:
                out.append((norm, 1.0))
        return out

    out: list[tuple[str, float]] = []
    for raw in split_query(query):
        # expander level: a stopword original drops the whole token, its
        # expansions included (GloVe.java:60-62, WordNet.java:72-74)
        if use_stopwords and raw.lower() in STOPWORDS:
            continue
        candidates = [(raw, 1.0)]
        # POS-class gate: only content words get candidates; null-POS tokens
        # (digits/symbols) keep the original unexpanded (WordNet.java:81-99)
        if is_content_word(raw):
            candidates += [(c, EXPANSION_WEIGHT) for c in expander.expand(raw)]
        term_count = 0
        for cand, weight in candidates:
            # Search.java:250-253: stopword + multiword dropped pre-count
            if use_stopwords and cand.lower() in STOPWORDS:
                continue
            if len(cand.split(" ")) > 1:
                continue
            t = stem(cand) if use_stemmer else cand
            # Search.java:260: dedup ONLY vs the last emitted term; stored
            # terms are lowercased, the candidate is not yet — replicated
            if term_count == 0 or not (out and out[-1][0] == t):
                out.append((t.lower(), weight))
                term_count += 1
            if term_count == MAX_TERMS_PER_TOKEN:
                break
    return out
