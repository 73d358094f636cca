"""Physical-plan regression pins — scale properties asserted as tests.

Correctness gates prove WHAT the operators compute; these pin HOW Catalyst
executes them, so a refactor that silently adds a shuffle, drops a
broadcast, or un-pushes the rank limit fails CI instead of surfacing as a
10x regression at 100x the data.
"""

import pytest

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.operators import index_build as ib
from search_engine_trec_fair_ranking_19_spark.operators import query as q
from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
    IndexTables,
    build_index,
)
from search_engine_trec_fair_ranking_19_spark.sources.webtext import (
    corpus_spark,
)

CFG = EngineConfig(postings_block_size=64)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    webtext = corpus_spark(spark, 150, seed=19, n_partitions=3)
    return build_index(
        spark, webtext, str(tmp_path_factory.mktemp("planidx")), CFG
    )


@pytest.fixture(scope="module")
def two_part(spark, tables):
    """A second handle on the same index whose postings caches (decoded and
    compressed) keep two partitions. The default handle's are coalesced to
    one at this size, and a one-partition cache is SinglePartition-
    distributed: Catalyst then plans no hash exchange above it."""
    mp = pytest.MonkeyPatch()
    mp.setattr(ib, "_right_size_for_cache", lambda df: df.repartition(2))
    try:
        h = IndexTables(tables.path, tables.config)
        h.decoded_postings(spark)
        h.postings(spark)
    finally:
        mp.undo()
    parts = [t.decoded_postings(spark).rdd.getNumPartitions() for t in (tables, h)]
    assert parts == [1, 2]
    yield h
    h.refresh()


def _hash_exchanges(spark, handle, n: int) -> int:
    """The pinned hash-exchange count of a plan over ``handle``'s decoded
    postings: ``n`` over a multi-partition cache, 0 over a one-partition
    cache (whose SinglePartition output satisfies every distribution)."""
    return 0 if handle.decoded_postings(spark).rdd.getNumPartitions() == 1 else n


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _collected_plans(spark, monkeypatch, call) -> list[str]:
    """The executed plans of the frames ``call()`` collects, each taken just
    before its collect (so an adaptive plan prints only its initial plan)."""
    plans = []
    frame_cls = type(spark.range(0))  # the session's DataFrame class
    collect = frame_cls.collect

    def spy(df):
        plans.append(_plan(df))
        return collect(df)

    with monkeypatch.context() as m:
        m.setattr(frame_cls, "collect", spy)
        call()
    return plans


def _outside_cache(plan: str) -> str:
    """A plan's text without the subtrees of its cached relations."""
    keep, cache_depth = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :|+-"))
        if cache_depth is not None and depth > cache_depth:
            continue
        cache_depth = depth if "InMemoryRelation" in line else None
        keep.append(line)
    return "\n".join(keep)


def test_batch_plan_two_shuffles_and_group_limit(spark, tables, two_part):
    """bm25_topk_batch: ONE (qid,docid) agg exchange + ONE qid window
    exchange for ANY number of queries (none over a one-partition postings
    cache); both query-side frames broadcast; the per-qid top-k rank filter
    is pushed into the sort (WindowGroupLimit), so no partition
    materializes more than k rows per qid before filtering."""
    for handle in (tables, two_part):
        df = q.bm25_topk_batch(
            spark, handle,
            [(1, "web search"), (2, "w00001 page"), (3, "engine")],
            k=10,
        )
        plan = _plan(df)
        # AQE wraps exchanges; count the shuffle origins
        n_shuffles = plan.count("Exchange hashpartitioning")
        want = _hash_exchanges(spark, handle, 2)
        assert n_shuffles == want, f"expected {want} shuffles, got {n_shuffles}:\n{plan}"
        assert "WindowGroupLimit" in plan, plan
        assert plan.count("BroadcastExchange") == 2, plan
        assert "SortMergeJoin" not in plan, plan


def test_sequential_topk_is_take_ordered(spark, tables, two_part, monkeypatch):
    """Bounded-k BM25: the final order+limit must be TakeOrderedAndProject
    (per-partition bounded heaps + driver merge), never a global sort."""
    for handle in (tables, two_part):
        q.bm25_topk(spark, handle, "web search", k=10)  # handle state loaded first
        plans = _collected_plans(
            spark, monkeypatch, lambda: q.bm25_topk(spark, handle, "web search", k=10)
        )
        assert len(plans) == 1, plans
        assert "TakeOrderedAndProject" in plans[0], plans[0]


def test_scoring_stage_has_no_join(spark, tables, two_part, monkeypatch):
    """Single-query scoring attaches weights/idfs as literal-map lookups —
    the bounded-k bm25 plan must contain NO join of any kind (round-2
    finding: a broadcast join here cost one extra job per query), and at
    most the docid aggregation's exchange."""
    for handle in (tables, two_part):
        q.bm25_topk(spark, handle, "web search engine", k=10)
        plans = _collected_plans(
            spark,
            monkeypatch,
            lambda: q.bm25_topk(spark, handle, "web search engine", k=10),
        )
        assert len(plans) == 1, plans
        plan = plans[0]
        assert "Join" not in plan, plan
        want = _hash_exchanges(spark, handle, 1)
        assert plan.count("Exchange hashpartitioning") == want, plan


@pytest.mark.parametrize("model", ["bm25", "vsm", "existential", "conjunctive"])
def test_bounded_k_query_runs_no_python(spark, tables, monkeypatch, model):
    """A bounded-k query scans the decoded-postings cache: the only Python
    node of its executed plans is the decode INSIDE the cached relation
    (run once, when the cache fills), none above it."""
    fn = {
        "bm25": q.bm25_topk,
        "vsm": q.vsm_topk,
        "existential": q.existential,
        "conjunctive": q.conjunctive,
    }[model]
    fn(spark, tables, "web search", k=10)  # handle state loaded first
    # bounded k: the query runs inside the call
    plans = _collected_plans(
        spark, monkeypatch, lambda: fn(spark, tables, "web search", k=10)
    )
    assert plans and all("InMemoryRelation" in p for p in plans), plans
    for plan in plans:
        outside = _outside_cache(plan)
        for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in outside, plan


def test_postings_scan_prunes_to_term_filter(spark, tables):
    """matched_postings must push the term IN-filter to the postings scan
    (cached: InMemoryTableScan filter pushdown; cold parquet: PushedFilters)
    rather than decode-then-filter."""
    df = q.matched_postings(spark, tables, ["web", "search"])
    plan = _plan(df)
    # the Filter must sit below the decode (FlatMapsInPandas/ArrowEvalPython
    # variants) in the string rendering = appear AFTER it top-down
    decode_pos = max(plan.find("Arrow"), plan.find("FlatMap"), plan.find("Eval"))
    filter_pos = plan.find("term#")
    assert filter_pos != -1
    assert "in(term" in plan.lower() or "term" in plan, plan
    assert decode_pos != -1 and plan.find("Filter", decode_pos) != -1 or (
        "InMemoryTableScan" in plan
    ), plan


def test_deterministic_split_is_map_only_and_pruned(spark, tmp_path):
    """deterministic_split: zero exchanges (sampling 100 TB is a map-only
    job) and the (doc_id, split) projection prunes the parquet scan to the
    key column alone."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.functions import sampling

    p = str(tmp_path / "docs.parquet")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).write.parquet(p)
    out = sampling.deterministic_split(
        spark.read.parquet(p), {"train": 0.9, "val": 0.1}
    ).select("doc_id", "split")
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_minhash_signature_transform_not_duplicated(spark):
    """The shingle-hash transform must appear exactly twice in the optimized
    signature plan (token hash + shingle hash): a filter above the hs
    projection gets pushed below it and re-evaluates the transform per row
    — the 3-4x sf0.1 regression this pin guards against."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.operators import dedup

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f").alias("text")
    )
    hs = dedup._hashed_shingles(docs, "doc_id", "text", 3)
    sigs = dedup._signatures_from_hashed(hs, 16)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("xxhash64") == 2


def test_conjunctive_is_one_shuffle_no_join(spark, tables, two_part):
    """conjunctive (k=None): the AND intersection is ONE count-aggregation
    exchange over the term-pruned postings (none over a one-partition
    postings cache) — never the naive k-way chain of per-term semi-joins
    (k shuffles of the same postings). The trailing rangepartitioning
    exchange is the caller-facing ORDER BY, not part of the intersection."""
    for handle in (tables, two_part):
        plan = _plan(q.conjunctive(spark, handle, "web search", k=None))
        want = _hash_exchanges(spark, handle, 1)
        assert plan.count("Exchange hashpartitioning") == want, plan
        assert "Join" not in plan, plan


def test_pack_sequences_single_bucket_exchange(spark):
    """pack_sequences: the ONLY exchange is the md5-bucket hash partition
    feeding the per-bucket prefix-sum window; the piece generator
    (sequence -> explode -> slice) stays map-only above it. A global sort
    (rangepartitioning) here would serialize the corpus."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.functions import chunking

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f g").alias("text")
    )
    plan = _plan(chunking.pack_sequences(docs, seq_len=5, n_buckets=4))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_lm_score_is_joins_plus_agg_no_window(spark):
    """lm_score: bigrams come from the map-only arrays_zip slide (no
    posexplode self-join, no window), the two model joins are equi hash
    joins (broadcast at this model size), and nothing is cartesian."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.operators import lm_quality

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog").alias("text"),
    )
    model = lm_quality.fit_bigram_lm(docs)
    plan = _plan(lm_quality.lm_score(docs, model))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_conjunctive_block_pruning_parity(spark, tmp_path):
    """Block-intersection pruning must be invisible in the result: the
    pruned path (scan restricted to the rarest term's block ids) returns
    exactly the exhaustive path's rows, and the router reports which path
    ran. Corpus built so the route provably engages: one doc carries a
    hapax term (1 block out of ~13), every doc carries the head terms."""
    import search_engine_trec_fair_ranking_19_spark.operators.query as qq
    from search_engine_trec_fair_ranking_19_spark.entry_queries import (
        documents_as_webtext,
    )

    docs = spark.createDataFrame(
        [
            (i, "web search " + ("zqvxterm " if i == 50 else "") + f"filler{i}")
            for i in range(100)
        ],
        "doc_id long, text string",
    )
    t2 = build_index(
        spark,
        documents_as_webtext(docs),
        str(tmp_path / "conj_idx"),
        EngineConfig(postings_block_size=8),
    )
    # the production saved-DF floor is measured at web scale; at this
    # corpus nothing clears it, so lower it to exercise the pruned path
    old_floor = qq.CONJ_PRUNE_MIN_SAVED_DF
    old_max = qq.CONJ_PRUNE_MAX_BLOCKS
    try:
        qq.CONJ_PRUNE_MIN_SAVED_DF = 0
        stats = {}
        pruned = qq.conjunctive(
            spark, t2, "zqvxterm web", k=None, stats=stats
        )
        assert stats["conjunctive"] == "block_pruned"
        assert stats["n_candidate_blocks"] == 1
        rows_pruned = [(r["docid"], r["score"]) for r in pruned.collect()]
        qq.CONJ_PRUNE_MAX_BLOCKS = -1  # force the exhaustive path
        stats2 = {}
        exhaustive = qq.conjunctive(
            spark, t2, "zqvxterm web", k=None, stats=stats2
        )
        assert stats2["conjunctive"] == "exhaustive"
        rows_exhaustive = [
            (r["docid"], r["score"]) for r in exhaustive.collect()
        ]
        assert rows_pruned and rows_pruned == rows_exhaustive
        qq.CONJ_PRUNE_MAX_BLOCKS = old_max
        # all-head AND on the same index: the rarest term covers every
        # block, so the post-collect coverage fallback routes exhaustive
        # even with the floor lowered
        stats3 = {}
        qq.conjunctive(spark, t2, "web search", k=None, stats=stats3)
        assert stats3["conjunctive"] == "exhaustive"
    finally:
        qq.CONJ_PRUNE_MIN_SAVED_DF = old_floor
        qq.CONJ_PRUNE_MAX_BLOCKS = old_max
    # production floor: a selective-but-tiny AND (nothing saved) must not
    # pay the metadata job
    stats4 = {}
    qq.conjunctive(spark, t2, "zqvxterm web", k=None, stats=stats4)
    assert stats4["conjunctive"] == "exhaustive"


def test_duplicate_spans_skew_proof_plan(spark):
    """Substring-span dedup plan after the round-5 skew-proofing: per-whash
    occurrence stats come from groupBy + join-back (map-side partial agg
    collapses a corpus-wide boilerplate hash; AQE can skew-split the join),
    NEVER from a Window.partitionBy(whash) that would serialize the hot
    key's every instance into one task. Static shape: exactly 3 exchanges
    (whash agg, whash join input, doc_id islands) and no whash window; at
    runtime AQE broadcasts the tiny dup-only stats side."""
    from search_engine_trec_fair_ranking_19_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(4)],
        "doc_id long, text string",
    )
    d = dedup.duplicate_spans(df, k=4)
    plan = _plan(d)
    assert "windowspecdefinition(whash" not in plan
    assert plan.count("Exchange") == 3
    d.collect()
    final = d._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final  # AQE: stats side broadcast
