"""Seeded workload generator, owned by the benchmark.

Everything the benchmark feeds the engine is made here from ``(seed, size)``:
the corpus, the disjoint ingest batches, the single-query stream with term
class labels, and the evaluation query set with judgments. The generator is
a copy of the corpus *shape* of ``sources/webtext.corpus_spark_distributed``
(``hapax=True``) and deliberately does not import it, so an edit to the
engine's fixture generator cannot shift the benchmark's inputs:

* a closed Zipf vocabulary (p(rank) ~ 1/rank^1.07) of 20k generated terms
  plus a few dozen real English words at the head;
* lognormal document lengths with mean ~124 tokens (sigma 0.6, floor 3);
* ~12% of tokens replaced by stopwords;
* two document-unique hapax tokens (``hxq<id>a``, ``hxq<id>b``) per doc.

Generated inputs are cached on disk under the work directory, keyed by
``(seed, size)``; ``meta.json`` records docs, text bytes, vocabulary size and
total postings, so a result can be tied to the exact input it ran on.
Vocabulary and postings are filled in from the oracle index, which every run
builds after its measurement to check the engine's answers.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

# bump when the generated inputs change for a fixed (seed, size)
GENERATOR_VERSION = 2

_COMMON = (
    "web page search index spark shuffle partition query token corpus rank "
    "score cluster data table column engine build merge block crawl text "
    "running jumped quickly nationalization happiness relational connection "
    "Apple Banana ORANGE computing computer computers computation"
).split()
_STOP = "the and of to a in is it that with for as on this".split()
N_TERMS = 20_000
AVGDL = 124.0
STOP_FRAC = 0.12

# query term classes, as vocabulary-rank ranges [lo, hi)
TERM_CLASSES = ("head", "mid", "rare", "hapax")
_CLASS_RANKS = {"head": (0, 40), "mid": (300, 3_000), "rare": (8_000, N_TERMS)}
MODELS = ("bm25", "vsm", "existential", "conjunctive")


@dataclass(frozen=True)
class Size:
    """Input sizes of one benchmark scale."""

    n_docs: int  # corpus documents
    ingest_docs: int  # documents per ingest batch
    ingest_batches: int  # disjoint batches generated (upper bound per run)
    stream_len: int  # single queries generated (upper bound per run)
    eval_queries: int  # queries in the evaluation set
    warmup: bool  # start each workload's loop with unmeasured operations

    @property
    def key(self) -> str:
        return (
            f"d{self.n_docs}-i{self.ingest_docs}x{self.ingest_batches}"
            f"-q{self.stream_len}-e{self.eval_queries}"
        )


SIZES = {
    "default": Size(
        n_docs=4_000, ingest_docs=200, ingest_batches=8, stream_len=400,
        eval_queries=100, warmup=True,
    ),
    # for the smoke test: every code path, a few seconds of engine work
    "tiny": Size(
        n_docs=300, ingest_docs=40, ingest_batches=3, stream_len=64,
        eval_queries=12, warmup=False,
    ),
}


def _vocab() -> np.ndarray:
    return np.array(_COMMON + [f"w{i:05d}" for i in range(N_TERMS)])


def _zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / (np.arange(n, dtype=np.float64) + 1.0) ** 1.07
    return p / p.sum()


def _url(seed: int, doc: int) -> str:
    return f"https://example.org/{seed}/{doc:010d}/page.html"


def make_docs(seed: int, first: int, n: int, stream: int) -> list[tuple[str, str]]:
    """``n`` documents with global ids ``first..first+n-1`` as (url, text).
    ``stream`` separates the random streams of the corpus and each batch."""
    rng = np.random.default_rng([seed, stream])
    vocab = _vocab()
    mu = np.log(AVGDL) - 0.5 * 0.6**2
    lengths = np.maximum(3, rng.lognormal(mu, 0.6, n).astype(np.int64))
    words = rng.choice(vocab, size=int(lengths.sum()), p=_zipf_probs(len(vocab)))
    stops = rng.random(len(words)) < STOP_FRAC
    words[stops] = np.array(_STOP)[rng.integers(0, len(_STOP), int(stops.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    docs = []
    for i in range(n):
        doc = first + i
        text = " ".join(words[bounds[i] : bounds[i + 1]])
        docs.append((_url(seed, doc), f"{text} hxq{doc}a hxq{doc}b"))
    return docs


def make_query(rng, cls: str, vocab: np.ndarray, n_docs: int, slot: int,
               head0: int) -> str:
    """The ``slot``-th query of class ``cls``: ``1 + slot % 3`` terms.

    Head terms cost most (each posting list covers a quarter to all of the
    corpus), so they are not drawn at random: slot ``j`` takes head ranks
    ``head0 + 2j, head0 + 2j + 1, ...`` (mod the class size), so every query
    set of a given length holds nearly the same head terms whatever the
    seed, which only moves ``head0``. With random head terms the work of an
    evaluation batch swung by a third between seeds. Other classes draw
    their terms at random. Hapax queries pair both tokens of one doc half
    the time, so conjunctive hapax queries have a non-empty answer."""
    n_terms = 1 + slot % 3
    if cls == "head":
        lo, hi = _CLASS_RANKS["head"]
        ranks = [lo + (head0 + 2 * slot + t) % (hi - lo) for t in range(n_terms)]
        return " ".join(str(vocab[r]) for r in ranks)
    if cls == "hapax":
        if rng.random() < 0.5:
            doc = int(rng.integers(0, n_docs))
            return f"hxq{doc}a hxq{doc}b"
        return " ".join(
            f"hxq{int(rng.integers(0, n_docs))}{'ab'[int(rng.integers(0, 2))]}"
            for _ in range(n_terms)
        )
    lo, hi = _CLASS_RANKS[cls]
    return " ".join(str(vocab[int(rng.integers(lo, hi))]) for _ in range(n_terms))


def make_stream(seed: int, size: Size) -> list[dict]:
    """The query_mix stream: every class crossed with every model, in a
    seeded order, so any 16 queries in a row cover nearly all 16 pairs."""
    rng = np.random.default_rng([seed, 1_000_001])
    vocab = _vocab()
    head0 = int(rng.integers(0, 1 << 16))
    pairs = [(c, m) for c in TERM_CLASSES for m in MODELS]
    slots = dict.fromkeys(pairs, 0)
    out = []
    while len(out) < size.stream_len:
        for j in rng.permutation(len(pairs)):
            cls, model = pairs[int(j)]
            text = make_query(rng, cls, vocab, size.n_docs, slots[cls, model], head0)
            slots[cls, model] += 1
            out.append({"cls": cls, "model": model, "query": text})
    return out[: size.stream_len]


def make_eval_set(
    seed: int, size: Size, corpus: list[tuple[str, str]]
) -> tuple[list[tuple[int, str]], dict[int, dict[str, int]]]:
    """(qid, query) list plus qid -> {url: relevance} judgments.

    Judged docs per query: up to 6 docs that contain the query's first term
    (half judged relevant), 6 random docs judged non-relevant, and one url
    outside the collection judged relevant (it counts in the denominators,
    as unretrievable judged docs do in TREC qrels)."""
    rng = np.random.default_rng([seed, 2_000_003])
    vocab = _vocab()
    head0 = int(rng.integers(0, 1 << 16))
    classes = ("head", "mid", "mid", "rare", "hapax")
    slots = dict.fromkeys(classes, 0)
    queries = []
    for qid in range(1, size.eval_queries + 1):
        cls = classes[qid % len(classes)]
        queries.append((qid, make_query(rng, cls, vocab, size.n_docs, slots[cls], head0)))
        slots[cls] += 1
    firsts = {text.split()[0] for _, text in queries}
    containing: dict[str, list[str]] = {t: [] for t in firsts}
    for url, text in corpus:
        for t in firsts.intersection(text.split()):
            if len(containing[t]) < 6:
                containing[t].append(url)
    judgments = {}
    for qid, text in queries:
        rel = {
            url: 1 - j % 2
            for j, url in enumerate(containing[text.split()[0]])
        }
        for d in rng.integers(0, len(corpus), 6):
            rel.setdefault(corpus[int(d)][0], 0)
        rel[f"https://example.org/absent/{qid}"] = 1
        judgments[qid] = rel
    return queries, judgments


@dataclass
class Inputs:
    """Paths and metadata of one generated workload input set."""

    dir: str
    meta: dict

    @property
    def corpus_path(self) -> str:
        return os.path.join(self.dir, "corpus.parquet")

    def batch_path(self, i: int) -> str:
        return os.path.join(self.dir, f"ingest_{i:03d}.parquet")

    def load_json(self, name: str):
        with open(os.path.join(self.dir, name)) as f:
            return json.load(f)

    def corpus(self) -> list[tuple[str, str]]:
        return _read_docs(self.corpus_path)

    def batch(self, i: int) -> list[tuple[str, str]]:
        return _read_docs(self.batch_path(i))


def _write_docs(path: str, docs: list[tuple[str, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {"url": [u for u, _ in docs], "text": [t for _, t in docs]}
    )
    pq.write_table(table, path)


def _read_docs(path: str) -> list[tuple[str, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return list(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def record_index_stats(inputs: Inputs, vocabulary: int, postings: int) -> None:
    """Add vocabulary size and total postings (known once the oracle index
    is built) to the cached metadata."""
    if inputs.meta.get("postings") == postings:
        return
    inputs.meta.update(vocabulary=vocabulary, postings=postings)
    with open(os.path.join(inputs.dir, "meta.json"), "w") as f:
        json.dump(inputs.meta, f)


def prepare(work_dir: str, seed: int, size: Size) -> Inputs:
    """Generate (or reuse the cached) inputs for ``(seed, size)``."""
    d = os.path.join(
        work_dir, "inputs", f"v{GENERATOR_VERSION}-s{seed}-{size.key}"
    )
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return Inputs(d, json.load(f))
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    corpus = make_docs(seed, 0, size.n_docs, stream=0)
    _write_docs(os.path.join(tmp, "corpus.parquet"), corpus)
    for i in range(size.ingest_batches):
        first = size.n_docs + i * size.ingest_docs
        _write_docs(
            os.path.join(tmp, f"ingest_{i:03d}.parquet"),
            make_docs(seed, first, size.ingest_docs, stream=i + 1),
        )
    queries, judgments = make_eval_set(seed, size, corpus)
    for name, obj in (
        ("stream.json", make_stream(seed, size)),
        ("eval.json", {"queries": queries,
                       "judgments": {str(k): v for k, v in judgments.items()}}),
    ):
        with open(os.path.join(tmp, name), "w") as f:
            json.dump(obj, f)
    meta = {
        "seed": seed,
        "size": size.key,
        "docs": len(corpus),
        "text_bytes": sum(len(t.encode("utf-8")) for _, t in corpus),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return Inputs(d, meta)
