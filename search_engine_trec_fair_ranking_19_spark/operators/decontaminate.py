"""Benchmark decontamination: drop training documents that share word
n-grams with an evaluation/benchmark set.

Every serious training-data pipeline runs this stage — a training corpus
that contains the eval set's text inflates every downstream benchmark
number — and its canonical form is exact n-gram collision against the
eval side (13-grams in the published GPT-3/Pile recipes; ``n`` is a knob
here because gate-scale fixtures are short).

Scale shape (the whole point):

* The EVAL side is tiny — benchmarks are thousands of documents, a few
  million distinct n-grams — so its distinct shingle-hash set is
  broadcast. The TRAIN side is the 100 TB corpus: its shingles are
  hashed entirely JVM-side (``dedup._hashed_shingles`` — xxhash64 over
  token hashes, no shingle string ever built, no Python), exploded, and
  probed against the broadcast set map-side. No corpus shuffle.
* Only MATCHING (train_shingle, eval_hit) rows survive the join, so the
  one aggregation (hits per doc) shuffles contaminated rows only — rare
  by construction in a corpus worth training on.
* The final drop is a ``left_anti`` join on doc ids: ids only.

Shingle identity is the same tokenization as the dedup family
(lowercase, ``[^a-z0-9]+`` splits, distinct-per-doc), so the DuckDB gate
oracle re-derives the exact shared-shingle counts from strings; the
engine counts 64-bit hashes (collisions ~1e-19 per pair, and the gate
data is fixed, so equality is deterministic — same regime as the
MinHash gates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_rows_df
from .dedup import _hashed_shingles

# contaminated doc ids collected to the driver for the broadcast anti-join
# (~8 MB of longs at the bound); above it, as on an adversarial corpus that
# is mostly eval text, the anti-join reads the persisted hit ids instead
DRIVER_CONTAMINATED_BUDGET = 1_000_000


def eval_ngram_hashes(
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """The eval side's distinct n-gram hash set: one column ``h`` (long).

    Materialize this once per benchmark suite and reuse it across every
    training-corpus build — it is the small, slowly-changing dimension of
    the decontamination join. Only ``text_col`` is required: the doc
    identity of an eval row never matters, so any (text, ...) frame —
    webtext-shaped or id-less — works as-is."""
    # explode_outer, then drop nulls on the CHEAP h column: plain explode
    # makes the optimizer push a `size(hs) > 0` filter below the Generate,
    # which re-evaluates the whole tokenize+hash expression tree once in
    # the Filter and again in the Project — doubling per-row work
    keyed = eval_df.select(F.lit(0).alias("__eid"), F.col(text_col))
    return (
        _hashed_shingles(keyed, "__eid", text_col, n)
        .select(F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )


def contamination_hits(
    train_df: DataFrame,
    eval_ngrams: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits): training docs sharing ≥1 n-gram with the eval
    set, with the count of distinct shared n-grams. Docs with zero hits
    do not appear. ``eval_ngrams`` is ``eval_ngram_hashes`` output (or
    any one-column ``h`` frame of n-gram hashes to ban)."""
    # explode_outer: see eval_ngram_hashes — the inner join on h drops the
    # null rows of shingle-less docs, no pre-Generate filter needed
    train_sh = _hashed_shingles(train_df, id_col, text_col, n).select(
        "doc_id", F.explode_outer("hs").alias("h")
    )
    return (
        train_sh.join(F.broadcast(eval_ngrams), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Training rows minus docs with ≥ ``min_hits`` distinct n-grams in
    common with ``eval_df``. ``min_hits`` > 1 tolerates incidental
    collisions of short common phrases when ``n`` is small; at the
    canonical n=13 a single hit is already damning (default)."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    hits = contamination_hits(
        train_df,
        eval_ngram_hashes(eval_df, n=n, text_col=eval_text_col),
        n=n,
        id_col=id_col,
        text_col=text_col,
    ).filter(F.col("n_hits") >= min_hits)
    # The contaminated-id set is small by construction (it fits a
    # broadcast), so COLLECT it (at most DRIVER_CONTAMINATED_BUDGET + 1
    # ids) and anti-join a local relation. This makes the operator eager on
    # purpose: the probe (shingle-hash of every training row) runs exactly
    # once, in this job, and the returned frame's plan contains a
    # LocalTableScan instead of the probe subtree — downstream pipelines
    # that reference the decontaminated frame in several places
    # (prepare_training_set feeds it to both the decision frame and the
    # base join; Spark plans no exchange reuse across those subtrees) would
    # otherwise re-run the probe once per subtree per action. Above the
    # budget the ids stay persisted and the anti-join reads them: the probe
    # still runs once, and the driver holds no ids. Join on the RAW id
    # (collect preserves its type): casting would NULL out string ids and
    # silently keep every contaminated doc.
    ids = hits.select(F.col("doc_id").alias("__cid")).persist()
    head = ids.limit(DRIVER_CONTAMINATED_BUDGET + 1).collect()
    if len(head) > DRIVER_CONTAMINATED_BUDGET:
        return train_df.join(ids, F.col(id_col) == F.col("__cid"), "left_anti")
    ids.unpersist()
    spark = train_df.sparkSession
    id_type = train_df.schema[id_col].dataType.simpleString()
    cid = local_rows_df(spark, [(r["__cid"],) for r in head], f"__cid {id_type}")
    return train_df.join(
        F.broadcast(cid), F.col(id_col) == F.col("__cid"), "left_anti"
    )
