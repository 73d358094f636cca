"""Analyzer chain: split → stopword filter → guarded Porter stem → lowercase.

Pure-Python, dependency-free functions shared by BOTH the pure-Python oracle and
the Spark engine's vectorized pandas UDFs — so token parity between the two is
by construction, and the functions are unit-testable off-Spark.

Semantics cloned from the reference:
  * build-side split on the TITLE/ABSTRACT delimiter alphabet
    (`T/.../S2TextualEntryTokens.java:55-76`, tables `:79-105`) — our webtext
    ``text`` column plays the abstract's role;
  * query-side split on the (different, smaller) query alphabet
    (`T/ui/Search.java:36,185-193`);
  * pipeline ORDER is stopword-check (on lowercased copy) → guarded Porter stem
    (on ORIGINAL case) → lowercase (`S2TextualEntryTokens.java:62-68`,
    `Search.java:229-238`). The order is rank-critical: e.g. "Apple" stems
    differently from "apple".
"""

from __future__ import annotations

from collections import Counter

from functools import lru_cache

from .delimiters import QUERY_DELIMITERS, TEXT_DELIMITERS
from .porter import stem as _porter_stem
from .stopwords import STOPWORDS

# Zipf-distributed text means a tiny distinct-token set per worker: memoizing
# the (pure) Porter stem turns the analyzer's hottest call into a dict hit.
# 2^18 entries ≈ a few MB per Python worker, far above any real per-worker
# distinct-token working set.
stem = lru_cache(maxsize=1 << 18)(_porter_stem)

# str.translate is a C-level scan — the fastest pure-Python way to apply a
# 360-char delimiter *set* (StringTokenizer semantics) before a whitespace split.
_TEXT_TRANS = str.maketrans({c: " " for c in TEXT_DELIMITERS})
_QUERY_TRANS = str.maketrans({c: " " for c in QUERY_DELIMITERS})


def split_text(text: str) -> list[str]:
    """Build-side raw split (no normalization), empty tokens dropped."""
    return text.translate(_TEXT_TRANS).split()


def split_query(query: str) -> list[str]:
    """Query-side raw split (`Search.java:185-193`)."""
    return query.translate(_QUERY_TRANS).split()


def normalize_token(
    token: str, use_stemmer: bool = True, use_stopwords: bool = True
) -> str | None:
    """Apply stopword filter → guarded stem → lowercase to one raw token.

    Returns None when the token is dropped as a stopword.
    """
    if use_stopwords and token.lower() in STOPWORDS:
        return None
    if use_stemmer:
        token = stem(token)
    return token.lower()


def analyze_text(
    text: str, use_stemmer: bool = True, use_stopwords: bool = True
) -> list[str]:
    """Full build-side analyzer: text → normalized term sequence."""
    out = []
    for tok in split_text(text):
        t = normalize_token(tok, use_stemmer, use_stopwords)
        if t is not None:
            out.append(t)
    return out


def analyze_query(
    query: str, use_stemmer: bool = True, use_stopwords: bool = True
) -> list[str]:
    """Full query-side analyzer (`Search.java:226-238`): different split set."""
    out = []
    for tok in split_query(query):
        t = normalize_token(tok, use_stemmer, use_stopwords)
        if t is not None:
            out.append(t)
    return out


def tf_map(
    text: str, use_stemmer: bool = True, use_stopwords: bool = True
) -> dict[str, int]:
    """Per-document term→TF map (`S2TextualEntryTokens.createTFMap:29-76`)."""
    return dict(Counter(analyze_text(text, use_stemmer, use_stopwords)))


def tf_batch_coded(texts, use_stemmer: bool = True, use_stopwords: bool = True):
    """Vectorized batch analyzer, token-identical to per-doc :func:`tf_map`
    and dictionary-coded: returns (doc_idx, term_codes, terms, tf, dl) as
    numpy arrays, one row per (document, normalized term). ``doc_idx``
    indexes into ``texts``, ``terms`` is the per-batch distinct
    normalized-term dictionary and ``term_codes`` indexes into it (the shape
    Arrow wants, so the Spark tokenizer never materializes one Python string
    per output row), and ``dl`` is that document's token count, repeated per
    row.

    The raw split stays C-level (`str.translate` + `split`), and
    `normalize_token` runs once per DISTINCT raw token in the batch —
    Zipf-distributed text makes the distinct set tiny relative to the token
    stream."""
    import numpy as np
    import pandas as pd

    toks_per_doc = [
        (t.translate(_TEXT_TRANS).split() if t else []) for t in texts
    ]
    n_tok = np.array([len(x) for x in toks_per_doc], dtype=np.int64)
    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, object),
        np.empty(0, np.int64),
        np.empty(0, np.int64),
    )
    if int(n_tok.sum()) == 0:
        return empty
    flat = np.array(
        [tok for toks in toks_per_doc for tok in toks], dtype=object
    )
    # hash-based factorize (C): np.unique on object arrays falls back to
    # Python-level string comparisons and is ~10x slower
    inv, uniq = pd.factorize(flat)
    normed = np.array(
        [normalize_token(u, use_stemmer, use_stopwords) for u in uniq],
        dtype=object,
    )
    # factorize: None (stopword-dropped) → -1; distinct normalized terms coded
    codes, terms = pd.factorize(normed, use_na_sentinel=True)
    if len(terms) == 0:
        return empty
    tok_codes = codes[inv]
    doc_idx = np.repeat(np.arange(len(texts), dtype=np.int64), n_tok)
    mask = tok_codes >= 0
    if not mask.any():
        return empty
    key = doc_idx[mask] * np.int64(len(terms)) + tok_codes[mask]
    # hash-factorize + bincount beats sort-based np.unique; first-appearance
    # order keeps keys grouped by doc (doc_idx is nondecreasing), which the
    # reduceat below relies on
    kcodes, ukey = pd.factorize(key)
    tf = np.bincount(kcodes)
    out_doc = (ukey // len(terms)).astype(np.int64)
    out_code = (ukey % len(terms)).astype(np.int64)
    # per-doc dl over the doc-grouped runs of ukey
    starts = np.concatenate(([0], np.flatnonzero(np.diff(out_doc)) + 1))
    dl = np.repeat(np.add.reduceat(tf, starts), np.diff(starts, append=len(tf)))
    return (
        out_doc,
        out_code,
        np.asarray(terms, dtype=object),
        tf.astype(np.int64),
        dl.astype(np.int64),
    )
