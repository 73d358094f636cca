"""Decontamination tests: exact shared-n-gram counts vs a pure-Python
reference, threshold semantics, sub-n-token docs, and the no-corpus-
shuffle plan shape (broadcast probe + broadcast anti join)."""

import re

from pyspark.sql import functions as F

from search_engine_trec_fair_ranking_19_spark.operators import decontaminate as dc

_EVAL = [
    (100, "the quick brown fox jumps over the lazy dog near the river bank"),
    (101, "a stitch in time saves nine and a penny saved is a penny earned"),
]

_TRAIN = [
    # 1: contains a long verbatim span of eval doc 100
    (1, "intro words then the quick brown fox jumps over the lazy dog and more"),
    # 2: clean — no 5-gram in common with either eval doc
    (2, "completely unrelated text about spark shuffles and parquet row groups"),
    # 3: contains a span of eval doc 101
    (3, "prefix a stitch in time saves nine suffix tokens here"),
    # 4: shorter than n tokens — can never be contaminated
    (4, "tiny doc"),
]

_N = 5


def _py_shingles(text, n):
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _expected_hits():
    ev = set()
    for _, t in _EVAL:
        ev |= _py_shingles(t, _N)
    return {
        d: len(_py_shingles(t, _N) & ev)
        for d, t in _TRAIN
        if _py_shingles(t, _N) & ev
    }


def _frames(spark):
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(_TRAIN, schema),
        spark.createDataFrame(_EVAL, schema),
    )


def test_contamination_hits_match_python_reference(spark):
    train, ev = _frames(spark)
    hits = dc.contamination_hits(
        train, dc.eval_ngram_hashes(ev, n=_N), n=_N
    ).collect()
    assert {r["doc_id"]: r["n_hits"] for r in hits} == _expected_hits()
    assert _expected_hits()  # the fixture actually exercises overlap


def test_decontaminate_drops_exactly_contaminated(spark):
    train, ev = _frames(spark)
    kept = dc.decontaminate(train, ev, n=_N)
    assert kept.columns == train.columns  # schema preserved
    assert {r["doc_id"] for r in kept.collect()} == {2, 4}


def test_min_hits_threshold(spark):
    train, ev = _frames(spark)
    exp = _expected_hits()
    cut = max(exp.values())  # doc(s) at the max survive only below it
    kept = {
        r["doc_id"]
        for r in dc.decontaminate(train, ev, n=_N, min_hits=cut + 1).collect()
    }
    assert kept == {1, 2, 3, 4} - {d for d, h in exp.items() if h >= cut + 1}


def test_short_docs_never_contaminated(spark):
    # eval doc shorter than n contributes no shingles; a train doc equal to
    # it byte-for-byte still survives
    schema = "doc_id long, text string"
    train = spark.createDataFrame([(1, "tiny doc"), (2, "x y z")], schema)
    ev = spark.createDataFrame([(9, "tiny doc")], schema)
    assert dc.decontaminate(train, ev, n=5).count() == 2


def test_plan_probes_broadcast_and_never_shuffles_corpus(spark):
    train, ev = _frames(spark)
    kept = dc.decontaminate(train, ev, n=_N)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    # the eval-ngram probe and the final anti join are both broadcast
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # exchanges move only ids/hashes (hits-per-doc agg, eval-set distinct);
    # no exchange ever carries corpus text rows
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" in line or "h#" in line, line
            assert "text" not in line, line
    # the duplicated-expression regression: no Filter re-evaluates the
    # shingle transform below the Generate
    for line in plan.splitlines():
        if line.strip().startswith("+- Filter") or line.strip().startswith(":- Filter"):
            assert "xxhash64" not in line, line


def test_decontaminate_string_ids(spark):
    # regression: a cast-to-long on the anti-join key NULLed string ids and
    # silently kept every contaminated doc
    schema = "doc_id string, text string"
    train = spark.createDataFrame(
        [(f"doc{d:08d}", t) for d, t in _TRAIN], schema
    )
    ev = spark.createDataFrame(
        [(f"ev{d}", t) for d, t in _EVAL], schema
    )
    kept = {r["doc_id"] for r in dc.decontaminate(train, ev, n=_N).collect()}
    assert kept == {"doc00000002", "doc00000004"}


def test_over_budget_anti_join_matches_collected_ids(spark, monkeypatch):
    # adversarial corpus: every doc carries eval text (all-contaminated), or
    # all but every tenth; with the driver budget below the contaminated
    # count, the anti-join reads the persisted hit ids instead of a
    # collected list, and keeps exactly the same rows
    span = _EVAL[0][1]
    schema = "doc_id long, text string"
    ev = spark.createDataFrame(_EVAL, schema)
    for clean_every in (None, 10):
        train = spark.createDataFrame(
            [
                (d, f"doc {d} clean words only" if clean_every and d % clean_every == 0
                 else f"doc {d} {span}")
                for d in range(40)
            ],
            schema,
        )
        want = sorted(r["doc_id"] for r in dc.decontaminate(train, ev, n=_N).collect())
        with monkeypatch.context() as m:
            m.setattr(dc, "DRIVER_CONTAMINATED_BUDGET", 3)
            kept = dc.decontaminate(train, ev, n=_N)
            plan = kept._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan  # the over-budget path ran
            got = sorted(r["doc_id"] for r in kept.collect())
        assert got == want
        assert want == ([] if clean_every is None else [0, 10, 20, 30])
