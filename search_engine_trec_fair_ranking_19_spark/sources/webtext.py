"""Deterministic synthetic webtext corpus (FIXTURES.md §1).

Generates the engine's input table ``(url, warc_ts, html, text, lang)`` plus an
optional ``out_links`` column for the PageRank phase. ``text`` is generated
first and ``html`` deterministically wraps it; :func:`extract_text` inverts the
wrap, so the per-row invariant "byte-identical extracted text per url"
(BASELINE.json input_hint) is checkable end-to-end.

Properties (mirroring the reference corpus shape, `README.md:3`,
`results/stemming/index_meta.idx` avgdl≈124):
  * Zipf-distributed vocabulary → skewed head terms (exercises salting);
  * doc lengths ≈ lognormal around the target avgdl;
  * a sprinkle of stopwords, Capitalized and suffixed words (exercises the
    stopword filter and the guarded Porter stem), and unicode delimiters;
  * links with self-loops / duplicates / dangling targets (exercises the
    `Pagerank.java:156-178` cleaning semantics).

Everything is seeded — same (seed, n_docs) ⇒ byte-identical corpus.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

_HTML_PREFIX = "<html><head><title>synthetic</title></head><body><p>"
_HTML_SUFFIX = "</p></body></html>"

# small embedded word pools; the bulk of the vocabulary is generated wNNNN tokens
_COMMON = (
    "web page search index spark shuffle partition query token corpus rank "
    "score cluster data table column engine build merge block crawl text "
    "running jumped quickly nationalization happiness relational connection "
    "Apple Banana ORANGE computing computer computers computation"
).split()
_STOP = "the and of to a in is it that with for as on this".split()
_UNICODE_SPICE = ["—", "“", "”", "，", "­", "​"]


def _vocab(n_terms: int) -> list[str]:
    return _COMMON + [f"w{i:05d}" for i in range(n_terms)]


def generate_corpus(
    n_docs: int,
    seed: int = 42,
    avgdl: float = 124.0,
    n_terms: int = 20_000,
    with_links: bool = True,
    link_fanout: int = 5,
) -> list[dict]:
    """Returns a list of row dicts (url, warc_ts, html, text, lang, out_links)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(n_terms))
    # Zipf ranks over the vocab: p(i) ∝ 1/(i+1)^1.07
    ranks = np.arange(len(vocab), dtype=np.float64) + 1.0
    probs = 1.0 / ranks**1.07
    probs /= probs.sum()

    # doc lengths ~ lognormal with mean ≈ avgdl, min 3
    mu = np.log(avgdl) - 0.5 * 0.6**2
    lengths = np.maximum(3, rng.lognormal(mu, 0.6, n_docs).astype(np.int64))

    urls = [
        f"https://example.org/{seed}/{i:08d}/page.html" for i in range(n_docs)
    ]
    # deterministic pseudo-shuffle of url order vs generation order so that
    # docid-by-url-sort differs from generation order (catches order bugs)
    perm = rng.permutation(n_docs)
    urls = [urls[p] for p in perm]

    base_ts = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
    rows: list[dict] = []
    for i in range(n_docs):
        k = int(lengths[i])
        words = rng.choice(vocab, size=k, p=probs).tolist()
        # sprinkle stopwords (~12%) and unicode delimiter glue (~2%)
        n_stop = max(1, k // 8)
        stop_pos = rng.integers(0, k, n_stop)
        for pos in stop_pos:
            words[int(pos)] = _STOP[int(rng.integers(0, len(_STOP)))]
        if k > 10 and rng.random() < 0.5:
            j = int(rng.integers(1, k - 1))
            words[j] = words[j] + _UNICODE_SPICE[int(rng.integers(0, len(_UNICODE_SPICE)))] + words[j - 1]
        text = " ".join(words)
        lang = "en" if rng.random() < 0.95 else ("de" if rng.random() < 0.5 else "fr")
        ts = base_ts + _dt.timedelta(seconds=int(rng.integers(0, 365 * 24 * 3600)))
        row = {
            "url": urls[i],
            "warc_ts": ts,
            "html": make_html(text),
            "text": text,
            "lang": lang,
        }
        if with_links:
            n_links = int(rng.integers(0, link_fanout + 1))
            links = [urls[int(rng.integers(0, n_docs))] for _ in range(n_links)]
            if n_links and rng.random() < 0.15:
                links.append(urls[i])  # self-loop → must be cleaned
            if n_links and rng.random() < 0.15:
                links.append(links[0])  # duplicate → must be cleaned
            if rng.random() < 0.1:
                links.append("https://dangling.invalid/x")  # not in collection
            row["out_links"] = links
        rows.append(row)
    return rows


def make_html(text: str) -> bytes:
    return (_HTML_PREFIX + text + _HTML_SUFFIX).encode("utf-8")


def extract_text(html: bytes) -> str:
    """The fixed extractor: html → text, inverse of :func:`make_html`."""
    s = html.decode("utf-8")
    if not (s.startswith(_HTML_PREFIX) and s.endswith(_HTML_SUFFIX)):
        raise ValueError("not a synthetic-webtext html payload")
    return s[len(_HTML_PREFIX) : len(s) - len(_HTML_SUFFIX)]


def corpus_pandas(n_docs: int, seed: int = 42, **kw):
    """Corpus as a pandas DataFrame."""
    import pandas as pd

    return pd.DataFrame(generate_corpus(n_docs, seed=seed, **kw))


WEBTEXT_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "out_links array<string>"
)


def corpus_spark(spark, n_docs: int, seed: int = 42, n_partitions: int | None = None, **kw):
    """Corpus as a Spark DataFrame with the FIXTURES.md §1 schema."""
    pdf = corpus_pandas(n_docs, seed=seed, **kw)
    ddl = WEBTEXT_SCHEMA_DDL if "out_links" in pdf.columns else WEBTEXT_SCHEMA_DDL.rsplit(", ", 1)[0]
    df = spark.createDataFrame(pdf, schema=ddl)
    if n_partitions:
        df = df.repartition(n_partitions)
    return df


def write_corpus_parquet(spark, path: str, n_docs: int, seed: int = 42, **kw) -> None:
    corpus_spark(spark, n_docs, seed=seed, **kw).write.mode("overwrite").parquet(path)


def corpus_spark_distributed(
    spark,
    n_docs: int,
    seed: int = 42,
    n_partitions: int | None = None,
    avgdl: float = 124.0,
    n_terms: int = 20_000,
    hapax: bool = False,
):
    """Corpus generated ON THE EXECUTORS (mapInPandas over spark.range) — the
    driver-side generator tops out ~1.7k docs/s, which caps bench corpora.

    Same statistical shape as :func:`generate_corpus` (Zipf vocab, lognormal
    lengths, stopword sprinkle); NOT byte-identical to the driver generator —
    each partition seeds its own rng with (seed, partition floor), so content
    is deterministic for a fixed (seed, n_docs, n_partitions). Parity tests
    use the driver generator; this one feeds large-scale benches.

    ``hapax=True`` appends two document-unique tokens (``hxq<docid>a/b``) per
    doc — the hapax-legomena tail real web text has (~40% of a web
    vocabulary is df=1) and the closed 20k-term Zipf vocabulary lacks. At
    bench scale the closed vocabulary's RAREST term still has df ≥ the
    number of posting blocks, so no term is block-rare and block-max pruning
    structurally cannot pay; the hapax tail restores the selective-query
    regime WAND exists for (see BENCH/wand_crossover.json)."""
    import pandas as pd

    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism * 2

    vocab_list = _vocab(n_terms)

    def gen(batches):
        vocab = np.array(vocab_list)
        ranks = np.arange(len(vocab), dtype=np.float64) + 1.0
        probs = 1.0 / ranks**1.07
        probs /= probs.sum()
        mu = np.log(avgdl) - 0.5 * 0.6**2
        base_ts = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
        for pdf in batches:
            ids = pdf["id"].values
            rng = np.random.default_rng(seed * 1_000_003 + int(ids[0]))
            lengths = np.maximum(3, rng.lognormal(mu, 0.6, len(ids)).astype(np.int64))
            # one big draw for the whole batch, then split per doc
            total = int(lengths.sum())
            words = rng.choice(vocab, size=total, p=probs)
            stops = rng.random(total) < 0.12
            words[stops] = np.array(_STOP)[
                rng.integers(0, len(_STOP), int(stops.sum()))
            ]
            bounds = np.concatenate(([0], np.cumsum(lengths)))
            texts = [
                " ".join(words[bounds[i] : bounds[i + 1]])
                + (f" hxq{int(ids[i])}a hxq{int(ids[i])}b" if hapax else "")
                for i in range(len(ids))
            ]
            yield pd.DataFrame(
                {
                    "url": [
                        f"https://example.org/{seed}/{int(i):010d}/page.html"
                        for i in ids
                    ],
                    "warc_ts": [base_ts] * len(ids),
                    "html": [make_html(t) for t in texts],
                    "text": texts,
                    "lang": ["en"] * len(ids),
                }
            )

    return (
        spark.range(n_docs)
        .repartition(n_partitions)
        .mapInPandas(gen, schema=WEBTEXT_SCHEMA_DDL.rsplit(", ", 1)[0])
    )
