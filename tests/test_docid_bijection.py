"""docid assignment must be a bijection url ↔ rank(url) at SCALE.

Regression for a silent large-input corruption: `repartitionByRange`
re-samples its range boundaries per compiled job (the sampler is seeded by
the RDD id), so computing per-partition counts in one job and per-partition
row_numbers in another let boundary rows shift partitions between the two —
producing duplicate and skipped docids (~3% collisions at 500k urls).
Small inputs sample exhaustively and never drift, which is why oracle-gate
corpora (500-5000 docs) could not catch it. The fix materializes the ranged
frame once (localCheckpoint) so every downstream job reads the same
partitioning.
"""

from pyspark.sql import functions as F

from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
    url_rank_ids,
)


def test_docid_bijection_at_scale(spark):
    n = 400_000
    # adversarial url distribution: non-uniform lengths + interleaved
    # prefixes make sampled range bounds less stable than uniform strings
    urls = spark.range(n).select(
        F.concat(
            F.lit("https://example.org/"),
            (F.col("id") % 97).cast("string"),
            F.lit("/"),
            F.format_string("%09d", F.col("id")),
            F.lit("/page.html"),
        ).alias("url")
    )
    ids, running, n_rows = url_rank_ids(urls, num_ranges=32)
    agg = ids.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("docid").alias("distinct_ids"),
        F.min("docid").alias("lo"),
        F.max("docid").alias("hi"),
    ).head()
    assert running == n
    assert agg["rows"] == n
    assert agg["distinct_ids"] == n, "duplicate docids: range bounds drifted"
    assert agg["lo"] == 1 and agg["hi"] == n

    # rank semantics: docid order == url order on a sample
    sample = ids.orderBy("url").limit(1000).collect()
    docids = [r["docid"] for r in sample]
    assert docids == sorted(docids)
    assert docids[0] == 1


def test_duplicate_urls_collapse_to_one_docid(spark, tmp_path):
    """Crawl batches repeat urls: the (url, docid) map must stay a bijection
    (no join-back fan-out) and the built index must contain each url once."""
    from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
    from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
        assign_doc_ids,
        build_index,
    )

    rows = [
        (f"https://ex.org/{i:04d}", f"common tok{i} text body") for i in range(50)
    ]
    # duplicate a third of the urls (same text) + one conflicting-text dup
    dup = [rows[i] for i in range(0, 50, 3)] + [("https://ex.org/0001", "alt")]
    webtext = spark.createDataFrame(rows + dup, "url string, text string")

    ids, running, n_rows = __import__(
        "search_engine_trec_fair_ranking_19_spark.operators.index_build",
        fromlist=["url_rank_ids"],
    ).url_rank_ids(webtext)
    assert running == 50
    assert n_rows == len(rows) + len(dup)
    assert ids.count() == 50
    assert ids.select("docid").distinct().count() == 50

    docs = assign_doc_ids(webtext)
    assert docs.count() == 50, "join-back fanned out on duplicate urls"
    # deterministic survivor for the conflicting-text dup: max(text)
    surv = docs.filter(F.col("url") == "https://ex.org/0001").head()["text"]
    assert surv == max("alt", "common tok1 text body")

    tables = build_index(
        spark, webtext, str(tmp_path / "idx"), EngineConfig()
    )
    assert tables.doc_ids(spark).count() == 50
    toks = tables.postings(spark)
    # no doubled TFs: every (term, docid) appears exactly once
    assert (
        toks.groupBy("term", "docid").count().filter(F.col("count") > 1).count()
        == 0
    )
    assert tables.collection_stats(spark)["n_docs"] == 50
