"""Per-layer metrics of a traced run.

They come from three places: the spans the run recorded (with the jobs,
stages and tasks ``statusTracker`` attributed to each), the build
``_manifest.json`` the engine already writes, and probes run after the
workload's loop. The probes isolate one layer each (the tokenizer, posting
decode, ``prepare_query``, ``bm25_topk_batch``) or exercise a layer the
workload's loop did not (one query per model and term class, one
``evaluate_batch``, one ingest cycle), so every workload reports every
layer. Executor metrics come from the Spark event log and cover the
measured loop only.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from search_engine_trec_fair_ranking_19_spark.operators import index_build as ib
from search_engine_trec_fair_ranking_19_spark.operators import query as q
from search_engine_trec_fair_ranking_19_spark.session import scoped_conf

from .inputs import MODELS
from .trace import TASK_KEYS
from .workloads import (
    Run, median, dir_bytes, eval_set, evaluate, ingest_cycle, ingest_reads,
    query, stream_picks,
)

BUILD_STAGES = ("doc_ids", "postings", "vocabulary", "doc_stats")
PER_MODEL = (("call_s", "s"), ("collect_s", "s"), ("jobs_per_op", "count"),
             ("stages_per_op", "count"), ("tasks_per_op", "count"))
PROBE_CLASSES = ("head", "hapax")
# operations whose share of time spent in posting decode is measured
DECODE_SHARES = ("head_bm25", "hapax_bm25", "eval_batch")

# name -> unit of every per-layer metric, in BENCHMARK.json order
METRICS: dict[str, str] = {
    "analysis.tokenize_s": "s",
    "analysis.tokens_per_s": "1/s",
    "analysis.prepare_query_s": "s",
    **{f"index_build.{st}_s": "s" for st in BUILD_STAGES},
    "index_build.postings_per_s": "1/s",
    "index_build.jobs": "count",
    "index_build.tasks": "count",
    "codec.bytes_per_posting": "B",
    "codec.decode_postings_per_s": "1/s",
    **{f"codec.{w}_decode_share": "ratio" for w in DECODE_SHARES},
    **{f"query.{m}.{k}": u for m in MODELS for k, u in PER_MODEL},
    "query.postings_examined_per_result": "ratio",
    "query.cache_bytes": "B",
    "evaluate.rank_s": "s",
    "evaluate.total_s": "s",
    "evaluate.jobs_per_batch": "count",
    "streaming.ingest_s": "s",
    "streaming.refresh_refill_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.cpu_busy_frac": "ratio",
    "trace.op_p50_s": "s",
    "trace.bookkeeping_s": "s",
}


def _decode_s(run: Run, texts: list[str]) -> float:
    """Seconds that decoding the postings of the analyzed terms of ``texts``
    adds to reading their blocks: ``decode_blocks(blocks).count()`` minus
    ``blocks.count()``, median of three pairs. This is the decode an
    exhaustive query pays across the Python boundary; the rest of the
    query's time is planning, scheduling, scoring and ranking."""
    terms = {
        t for text in texts
        for t, _ in q.prepare_query(run.spark, run.tables, text, run.config).terms
    }
    blocks = run.tables.postings(run.spark).filter(F.col("term").isin(sorted(terms)))
    net = []
    for _ in range(3):
        with run.tracer.span("probe.decode_terms") as dec:
            q.decode_blocks(blocks).count()
        with run.tracer.span("probe.read_terms") as read:
            blocks.count()
        net.append(dec.seconds - read.seconds)
    return median(net)


def probe(run: Run) -> dict[str, float]:
    """Run the layer probes (inside spans, after the workload's loop) and
    derive every metric that does not need the event log."""
    spark, tr, cfg, tables = run.spark, run.tracer, run.config, run.tables
    out: dict[str, float] = {}

    # query: one query per model and probe class, then per-model figures
    # over these and the loop's queries (the first query after an ingest
    # refills caches and is left out)
    pick = stream_picks(run)
    for m in MODELS:
        for cls in PROBE_CLASSES:
            query(run, tables, m, pick[(m, cls)], cls=cls)
    queries = [
        s for s in tr.spans[run.loop_span0 :]
        if s.name == "query" and not s.attrs.get("after_ingest")
    ]
    out["query.cache_bytes"] = float(
        sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    )

    # analysis: the tokenizer alone, materialized over the whole corpus at
    # one split per core (build_index raises the split floor the same way)
    corpus = spark.read.parquet(run.inputs.corpus_path).select(
        F.monotonically_increasing_id().alias("docid"), "text"
    )
    cores = spark.sparkContext.defaultParallelism
    with scoped_conf(spark, {"spark.sql.files.minPartitionNum": str(cores)}):
        with tr.span("probe.tokenize") as s:
            n_tokens = ib.tokenize(corpus, cfg).agg(F.sum("tf")).head()[0]
    out["analysis.tokenize_s"] = s.seconds
    out["analysis.tokens_per_s"] = n_tokens / s.seconds

    # analysis: driver-side query preparation, and the DF it looks up
    prep_s, sum_df = [], {}
    for text in {sp.attrs["text"] for sp in queries}:
        with tr.span("probe.prepare_query") as s:
            pq = q.prepare_query(spark, tables, text, cfg)
        prep_s.append(s.seconds)
        sum_df[text] = sum(pq.dfs)
    out["analysis.prepare_query_s"] = median(prep_s)

    for m in MODELS:
        mine = [sp for sp in queries if sp.attrs["model"] == m]
        kids = [c for sp in mine for c in tr.subtree(sp)[1:]]
        for key in ("call", "collect"):
            out[f"query.{m}.{key}_s"] = median(
                c.seconds for c in kids if c.name == f"query.{key}"
            )
    rows = sum(sp.attrs["rows"] for sp in queries)
    out["query.postings_examined_per_result"] = (
        sum(sum_df[sp.attrs["text"]] for sp in queries) / rows if rows else 0.0
    )

    # index_build: the manifest of the build workload's last warm build, or
    # elsewhere of the set-up build, the first in the session, whose first
    # stage also pays the session's first-use costs
    build = (run.loop_spans("build") or tr.named("setup.build"))[-1]
    stages = build.attrs["manifest"]
    for st in BUILD_STAGES:
        out[f"index_build.{st}_s"] = stages[st]["seconds"]
    out["index_build.postings_per_s"] = stages["postings"]["postings_per_sec"]

    # codec: stored bytes per posting, and decode throughput over the
    # cached postings (the Python-boundary decode every query pays)
    out["codec.bytes_per_posting"] = (
        dir_bytes(os.path.join(run.index_dir, "postings"))
        / stages["postings"]["n_postings"]
    )
    with tr.span("probe.decode") as s:
        decoded = q.decode_blocks(tables.postings(spark)).count()
    out["codec.decode_postings_per_s"] = decoded / s.seconds

    # evaluate: the loop's batches (or one probe batch), and the ranking
    # half of evaluate_batch on its own
    eval_queries, judgments = eval_set(run)
    if not run.loop_spans("eval"):
        evaluate(run, eval_queries, judgments)
    evals = [s for s in tr.spans[run.loop_span0 :] if s.name == "eval"]
    out["evaluate.total_s"] = median(sp.seconds for sp in evals)
    with tr.span("probe.rank") as s:
        q.bm25_topk_batch(spark, tables, eval_queries, k=None).count()
    out["evaluate.rank_s"] = s.seconds

    # codec: the share of an operation's wall time that its posting decode
    # takes, for bm25 over the term classes with the most and the least
    # decode, and for one evaluation batch (which decodes each term once)
    for cls in PROBE_CLASSES:
        mine = [sp for sp in queries
                if sp.attrs["model"] == "bm25" and sp.attrs.get("cls") == cls]
        decode = {text: _decode_s(run, [text]) for text in {sp.attrs["text"] for sp in mine}}
        out[f"codec.{cls}_bm25_decode_share"] = (
            sum(decode[sp.attrs["text"]] for sp in mine) / sum(sp.seconds for sp in mine)
        )
    out["codec.eval_batch_decode_share"] = (
        _decode_s(run, [text for _, text in eval_queries]) / out["evaluate.total_s"]
    )

    # streaming: the loop's ingest cycles (or one probe cycle on a copy)
    if not run.loop_spans("ingest"):
        d = os.path.join(run.run_dir, "probe_ingest")
        shutil.copytree(run.index_dir, d)
        handle, _, _ = ingest_cycle(
            run, d, 0, ib.IndexTables(d, cfg), ingest_reads(run)
        )
        handle.refresh()
    after = [s for s in tr.spans[run.loop_span0 :] if s.name == "query"]
    out["streaming.ingest_s"] = median(
        s.seconds for s in tr.spans[run.loop_span0 :] if s.name == "ingest"
    )
    out["streaming.refresh_refill_s"] = median(
        s.seconds for s in after if s.attrs.get("after_ingest")
    ) - median(s.seconds for s in after if s.attrs.get("twin"))

    # Spark work per span, counted once every probe has run
    tr.count_jobs()
    jobs, _, tasks = tr.totals(build)
    out["index_build.jobs"] = jobs
    out["index_build.tasks"] = tasks
    for m in MODELS:
        totals = [tr.totals(sp) for sp in queries if sp.attrs["model"] == m]
        for i, key in enumerate(("jobs_per_op", "stages_per_op", "tasks_per_op")):
            out[f"query.{m}.{key}"] = median(t[i] for t in totals)
    out["evaluate.jobs_per_batch"] = median(tr.totals(sp)[0] for sp in evals)

    out["trace.bookkeeping_s"] = tr.bookkeeping_s / len(tr.spans)
    return out


def executor(run: Run, by_group: dict[str, dict[str, float]], cores: int) -> dict[str, float]:
    """``spark.*`` metrics per measured operation (top-level span of the
    loop), from the event log."""
    loop = run.loop_spans()
    acc = dict.fromkeys(TASK_KEYS, 0.0)
    for sp in loop:
        for k, v in by_group.get(sp.group, {}).items():
            acc[k] += v
    top = [sp for sp in loop if sp.parent is None]
    n_ops = max(len(top), 1)
    wall = sum(sp.seconds for sp in top)
    return {
        "spark.executor_run_s": acc["run_ms"] / 1e3 / n_ops,
        "spark.executor_cpu_s": acc["cpu_ns"] / 1e9 / n_ops,
        "spark.shuffle_read_bytes": acc["shuffle_read_bytes"] / n_ops,
        "spark.shuffle_write_bytes": acc["shuffle_write_bytes"] / n_ops,
        "spark.spill_bytes": acc["spill_bytes"] / n_ops,
        "spark.gc_s": acc["gc_ms"] / 1e3 / n_ops,
        "spark.cpu_busy_frac": acc["cpu_ns"] / 1e9 / (wall * cores) if wall else 0.0,
    }
