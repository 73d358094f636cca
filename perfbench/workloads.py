"""The workloads, their shared set-up and their oracle checks.

Each workload is one closed-loop client: it calls an engine function, waits
for the answer, consumes it, and calls again with no think time, until the
run's measuring time is used up. Every call is timed from outside the engine
and wrapped in a trace span (see ``trace.py``); the metrics are computed from
those spans. Answers are kept and checked against the oracle only after the
measurement, so the oracle's cost counts in no metric.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.operators import evaluate as ev
from search_engine_trec_fair_ranking_19_spark.operators import index_build as ib
from search_engine_trec_fair_ranking_19_spark.operators import query as q
from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle
from search_engine_trec_fair_ranking_19_spark.streaming import incremental

from .inputs import Inputs, Size
from .trace import Span, Tracer, cpu_ticks

K = 10
SETUP_REPEATS = 3
# unmeasured operations at the start of each workload's loop. A new JVM
# compiles its hot paths over the first operations: an evaluation batch's
# CPU time falls from ~14 s to ~6 s over the first three, a query's wall
# time from ~0.6 s to ~0.4 s over the first two dozen.
WARMUP_OPS = {"build": 1, "query_mix": 24, "eval_batch": 3, "ingest_query": 1}
SCORE_TOL = 1e-9
# touches head terms, so opening a handle fills the postings cache
WARM_QUERY = "web search index"

ENGINE = {
    "bm25": q.bm25_topk,
    "vsm": q.vsm_topk,
    "existential": q.existential,
    "conjunctive": q.conjunctive,
}
ORACLE = {
    "bm25": oracle.bm25_topk,
    "vsm": oracle.vsm_topk,
    "existential": oracle.existential,
    "conjunctive": oracle.conjunctive,
}


@dataclass
class Run:
    """State of one benchmark run, shared by set-up, workload and probes."""

    spark: object
    tracer: Tracer
    inputs: Inputs
    size: Size
    seconds: float
    run_dir: str
    config: EngineConfig = field(default_factory=EngineConfig)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    index_dir: str = ""  # the set-up index every workload starts from
    tables: ib.IndexTables | None = None  # open handle on ``index_dir``
    build_s: float = 0.0  # the set-up build of the corpus
    setup_s: list[float] = field(default_factory=list)
    index_bytes_per_text_byte: float = 0.0
    steal_frac: float = 0.0  # share of the host's CPU time stolen in the loop
    # span ids bounding the measured loop: [loop_span0, probe_span0)
    loop_span0: int = 0
    probe_span0: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def loop_spans(self, name: str | None = None) -> list[Span]:
        """Spans of the measured loop: all, or those named ``name``."""
        return [
            s for s in self.tracer.spans[self.loop_span0 : self.probe_span0]
            if name is None or s.name == name
        ]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _read_table(index_dir: str, name: str):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(index_dir, name))


def _manifest_stages(index_dir: str) -> dict:
    """Per-stage figures of the ``_manifest.json`` a build writes."""
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        return json.load(f)["stages"]


def _docid_urls(index_dir: str) -> dict[int, str]:
    t = _read_table(index_dir, "doc_ids")
    return dict(zip(t.column("docid").to_pylist(), t.column("url").to_pylist()))


def _n_docs(index_dir: str) -> int:
    return int(_read_table(index_dir, "collection_stats").column("n_docs")[0].as_py())


def _close(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= SCORE_TOL


def _same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    return len(got) == len(want) and all(
        gu == wu and _close(gs, ws) for (gu, gs), (wu, ws) in zip(got, want)
    )


def _same_scores(got: list[float], want: list[float]) -> bool:
    return len(got) == len(want) and all(_close(g, w) for g, w in zip(got, want))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def query(run: Run, tables, model: str, text: str, **attrs) -> list[tuple[int, float]]:
    """One timed query: the public call, then collecting its top-k rows.
    Returns the (docid, score) rows."""
    with run.tracer.span("query", model=model, text=text, **attrs) as s:
        with run.tracer.span("query.call", model=model):
            df = ENGINE[model](run.spark, tables, text, k=K)
        with run.tracer.span("query.collect", model=model):
            rows = df.collect()
    s.attrs["rows"] = len(rows)
    return [(r["docid"], r["score"]) for r in rows]


def _loop(run: Run, step, warmup_ops: int) -> None:
    """The closed loop: call ``step(i)`` for i = 0, 1, ... until a step
    returns False or the time is used up. An exception fails that operation
    and the loop goes on. The first ``warmup_ops`` steps (none on a size
    without warm-up) warm the JIT and the Python workers and are not
    measured. They are a count, not a time, so every run starts measuring at
    the same point of the JIT's progress however fast the host is. Then the
    loop measures for ``run.seconds``, at least one step. Spans from the
    measured part on are the loop's."""
    i = 0

    def one() -> bool:
        """One step; False once it ended the loop."""
        nonlocal i
        try:
            going = step(i) is not False
        except Exception:
            run.check(False, traceback.format_exc(limit=4))
            going = True
        i += 1
        return going

    going = True
    for _ in range(warmup_ops if run.size.warmup else 0):
        going = one()
        if not going:
            break
    run.loop_span0 = len(run.tracer.spans)
    before = cpu_ticks()
    t_end = time.perf_counter() + run.seconds
    while going:
        going = one() and time.perf_counter() < t_end
    stolen, total = (b - a for a, b in zip(before, cpu_ticks()))
    run.steal_frac = stolen / total if total else 0.0


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def _open_index(run: Run) -> float:
    """One set-up: a fresh handle on the built index whose per-handle caches
    are filled by a first bm25 and vsm query and the doc_ids lookup table.
    The previous handle's caches are dropped first, so each set-up refills."""
    if run.tables is not None:
        run.tables.refresh()
    with run.tracer.span("setup.open") as s:
        tables = ib.IndexTables(run.index_dir, run.config)
        for model in ("bm25", "vsm"):
            ENGINE[model](run.spark, tables, WARM_QUERY, k=K).collect()
        tables.doc_ids(run.spark).count()
    run.tables = tables
    return s.seconds


def setup(run: Run) -> None:
    """Shared set-up: one timed ``build_index`` of the corpus in the fresh
    session, then ``SETUP_REPEATS`` timed opens of the index it made. The
    opens run before the measured loop, so they also warm the JVM and the
    Python workers for it; ``setup_s`` is their median."""
    run.index_dir = os.path.join(run.run_dir, "index")
    corpus = run.spark.read.parquet(run.inputs.corpus_path)
    with run.tracer.span("setup.build") as s:
        ib.build_index(run.spark, corpus, run.index_dir, run.config)
    s.attrs["manifest"] = _manifest_stages(run.index_dir)
    run.build_s = s.seconds
    run.setup_s = [_open_index(run) for _ in range(SETUP_REPEATS)]
    run.index_bytes_per_text_byte = (
        dir_bytes(run.index_dir) / run.inputs.meta["text_bytes"]
    )


def check_build(run: Run, o: oracle.OracleIndex, index_dir: str) -> None:
    """N, vocabulary size and total postings of a built index equal the
    oracle's."""
    vocab = _read_table(index_dir, "vocabulary")
    run.check(_n_docs(index_dir) == o.n_docs, f"{index_dir}: N")
    run.check(vocab.num_rows == len(o.df), f"{index_dir}: vocabulary")
    run.check(
        sum(vocab.column("df").to_pylist()) == sum(o.df.values()),
        f"{index_dir}: postings",
    )


# ---------------------------------------------------------------------------
# workloads: each runs its loop and returns ``verify(oracle_index)``
# ---------------------------------------------------------------------------


def build(run: Run):
    """Repeated full ``build_index`` of the corpus, each into a fresh
    directory, in the session the set-up build warmed."""
    d = os.path.join(run.run_dir, "build_index")
    corpus = run.spark.read.parquet(run.inputs.corpus_path)

    def step(i: int) -> None:
        shutil.rmtree(d, ignore_errors=True)
        with run.tracer.span("build", docs=run.inputs.meta["docs"]) as s:
            ib.build_index(run.spark, corpus, d, run.config)
        s.attrs["manifest"] = _manifest_stages(d)

    _loop(run, step, WARMUP_OPS["build"])

    def verify(o: oracle.OracleIndex) -> None:
        """The last build's N, vocabulary and postings equal the oracle's."""
        check_build(run, o, d)

    return verify


def query_mix(run: Run):
    """A seeded stream of single top-k queries over four term classes and
    four models."""
    stream = run.inputs.load_json("stream.json")
    answers = []

    def step(i: int) -> None:
        e = stream[i % len(stream)]
        answers.append((e, query(run, run.tables, e["model"], e["query"], cls=e["cls"])))

    _loop(run, step, WARMUP_OPS["query_mix"])

    def verify(o: oracle.OracleIndex) -> None:
        """Identical ranks and scores per model, docids mapped through the
        doc_ids urls."""
        urls = _docid_urls(run.index_dir)
        for e, got in answers:
            want = ORACLE[e["model"]](o, e["query"], k=K)
            run.check(
                _same_ranking(
                    [(urls.get(d), s) for d, s in got],
                    [(o.urls[d - 1], s) for d, s in want],
                ),
                f"query_mix {e}",
            )

    return verify


def eval_set(run: Run):
    data = run.inputs.load_json("eval.json")
    queries = [(int(qid), text) for qid, text in data["queries"]]
    judgments = {int(k): v for k, v in data["judgments"].items()}
    return queries, judgments


def evaluate(run: Run, queries, judgments) -> dict[int, tuple[float, float]]:
    """One timed ``evaluate_batch`` (k=None); qid -> (AP, nDCG)."""
    with run.tracer.span("eval", queries=len(queries)):
        per_query, _summary = ev.evaluate_batch(
            run.spark, run.tables, queries, judgments, k=None
        )
        rows = per_query.collect()
    return {r["qid"]: (r["avep"], r["ndcg"]) for r in rows}


def eval_batch(run: Run):
    """``evaluate_batch`` over the seeded query set with k=None."""
    queries, judgments = eval_set(run)
    batches = []
    _loop(run, lambda i: batches.append(evaluate(run, queries, judgments)),
          WARMUP_OPS["eval_batch"])

    def verify(o: oracle.OracleIndex) -> None:
        """AP and nDCG per query equal the oracle's."""
        want = {}
        for qid, text in queries:
            ranked = [o.urls[d - 1] for d, _ in oracle.bm25_topk(o, text, k=None)]
            rel = judgments[qid]
            want[qid] = (oracle.average_precision(ranked, rel), oracle.ndcg(ranked, rel))
        for got in batches:
            for qid, (ap, nd) in want.items():
                g = got.get(qid)
                run.check(
                    g is not None and _close(g[0], ap) and _close(g[1], nd),
                    f"eval_batch qid {qid}: {g} != {(ap, nd)}",
                )

    return verify


def stream_picks(run: Run) -> dict[tuple[str, str], str]:
    """(model, term class) -> the stream's first query of that pair."""
    pick: dict[tuple[str, str], str] = {}
    for e in run.inputs.load_json("stream.json"):
        pick.setdefault((e["model"], e["cls"]), e["query"])
    return pick


def ingest_reads(run: Run) -> list[tuple[str, str]]:
    """The fixed read set run after every ingest: bm25 over head terms
    (first, so it pays the cache refill), vsm over mid terms, and the first
    query again, its steady-state twin."""
    pick = stream_picks(run)
    first = ("bm25", pick[("bm25", "head")])
    return [first, ("vsm", pick[("vsm", "mid")]), first]


def ingest_cycle(run: Run, index_dir: str, i: int, old_tables, reads):
    """Ingest batch ``i`` into ``index_dir``, drop the old handle's caches,
    then run ``reads`` on the new handle. Returns (handle, N after the
    ingest, [(model, text, rows)])."""
    batch = run.spark.read.parquet(run.inputs.batch_path(i))
    with run.tracer.span("cycle", batch=i):
        with run.tracer.span("ingest", batch=i, docs=run.size.ingest_docs):
            tables = incremental.ingest_batch(
                run.spark, batch, index_dir, run.config, batch_id=i + 1
            )
            old_tables.refresh()
        results = []
        for j, (model, text) in enumerate(reads):
            rows = query(run, tables, model, text, after_ingest=j == 0,
                         twin=j == len(reads) - 1)
            results.append((model, text, rows))
    return tables, _n_docs(index_dir), results


def ingest_query(run: Run):
    """Alternate ``ingest_batch`` of a disjoint batch with the short fixed
    bm25/vsm read set, on a fresh copy of the set-up index."""
    d = os.path.join(run.run_dir, "ingest_index")
    shutil.copytree(run.index_dir, d)
    reads = ingest_reads(run)
    handle = [ib.IndexTables(d, run.config)]
    cycles = []

    def step(i: int) -> bool:
        if i >= run.size.ingest_batches:
            return False
        handle[0], n_docs, results = ingest_cycle(run, d, i, handle[0], reads)
        cycles.append((n_docs, results))
        return True

    _loop(run, step, WARMUP_OPS["ingest_query"])
    handle[0].refresh()

    def verify(_o: oracle.OracleIndex) -> None:
        """N equals the committed doc count after every ingest. bm25 score
        lists of the last cycle equal the oracle's over the union of the
        corpus and every batch (tie order may differ: streamed docids are
        arrival ordered). Other answers are checked for shape only: vsm
        because after an ingest the engine keeps each batch's point-in-time
        vsm_weight by design, earlier cycles to bound the oracle's cost."""
        urls = _docid_urls(d)
        corpus = run.inputs.corpus()
        for c, (n_docs, results) in enumerate(cycles):
            expected = run.inputs.meta["docs"] + (c + 1) * run.size.ingest_docs
            run.check(n_docs == expected, f"ingest cycle {c}: N {n_docs} != {expected}")
            o = None
            if c == len(cycles) - 1:
                o = oracle.build_index(
                    corpus + [x for b in range(c + 1) for x in run.inputs.batch(b)],
                    run.config,
                )
            for model, text, rows in results:
                scores = [s for _, s in rows]
                if o is not None and model == "bm25":
                    want = [s for _, s in oracle.bm25_topk(o, text, k=K)]
                    ok = _same_scores(scores, want)
                else:
                    ok = (
                        len(rows) <= K
                        and all(doc in urls for doc, _ in rows)
                        and scores == sorted(scores, reverse=True)
                    )
                run.check(ok, f"ingest cycle {c} {model} {text!r}")

    return verify


WORKLOADS = {
    "build": build,
    "query_mix": query_mix,
    "eval_batch": eval_batch,
    "ingest_query": ingest_query,
}

# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

# name -> unit of every end-to-end metric, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_cpu_s": "s",
    "index_bytes_per_text_byte": "ratio",
}

# per workload: the named (latency, throughput) metrics of its operation,
# over all measured operations
PRIMARY = {
    "build": ("build_p50_s", "warm_build_docs_per_s"),
    "query_mix": ("query_p50_s", "queries_per_s"),
    "eval_batch": ("eval_batch_p50_s", "eval_queries_per_s"),
    "ingest_query": ("cycle_p50_s", "ingest_docs_per_s"),
}


def _quantile(xs: list[float], p: float) -> float:
    """Nearest-rank quantile; 0 for no samples."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, math.ceil(p * len(xs)) - 1)] if xs else 0.0


def named_metrics(run: Run, workload: str, peak_rss_bytes: int) -> dict[str, tuple[float, str]]:
    """The workload's metrics under the names the README uses, with units."""
    out = {
        "setup_s": (median(run.setup_s), "s"),
        "build_docs_per_s": (run.inputs.meta["docs"] / run.build_s, "1/s"),
        "index_bytes_per_text_byte": (run.index_bytes_per_text_byte, "ratio"),
        "peak_rss_mb": (peak_rss_bytes / 2**20, "MB"),
        "failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
        "cpu_steal_frac": (run.steal_frac, "ratio"),
    }
    # Over every measured operation: the JIT keeps speeding operations up
    # through a run, so a subset (such as the half with the least stolen
    # CPU time) holds early or late ones at random and spreads wider.
    ops = [s for s in run.loop_spans() if s.parent is None]
    out["op_p50_s"] = (median(s.seconds for s in ops), "s")
    # means: process CPU time is counted in 10 ms ticks, and one query
    # uses well under a second of it
    for name, key in (("op_cpu_s", "cpu_s"), ("op_jit_cpu_s", "jit_s")):
        out[name] = (sum(s.attrs[key] for s in ops) / max(len(ops), 1), "s")
    queries = [s for s in run.loop_spans("query") if not s.attrs.get("after_ingest")]
    secs = [s.seconds for s in queries]
    if workload == "build":
        builds = run.loop_spans("build")
        out["build_p50_s"] = (median(s.seconds for s in builds), "s")
        out["warm_build_docs_per_s"] = (
            sum(s.attrs["docs"] for s in builds) / sum(s.seconds for s in builds),
            "1/s",
        )
    elif workload == "query_mix":
        out["queries"] = (len(secs), "count")
        out["query_p50_s"] = (median(secs), "s")
        out["query_p90_s"] = (_quantile(secs, 0.9), "s")
        out["queries_per_s"] = (len(secs) / sum(secs), "1/s")
        for name, models in (("bm25", ("bm25",)), ("vsm", ("vsm",)),
                             ("bool", ("existential", "conjunctive"))):
            out[f"{name}_p50_s"] = (
                median(s.seconds for s in queries if s.attrs["model"] in models),
                "s",
            )
        # the term classes with the most and the least posting decode
        for cls in ("head", "hapax"):
            out[f"bm25_{cls}_p50_s"] = (
                median(s.seconds for s in queries
                       if s.attrs["model"] == "bm25" and s.attrs["cls"] == cls),
                "s",
            )
    elif workload == "eval_batch":
        evals = run.loop_spans("eval")
        out["eval_batch_p50_s"] = (median(s.seconds for s in evals), "s")
        out["eval_queries_per_s"] = (
            sum(s.attrs["queries"] for s in evals) / sum(s.seconds for s in evals),
            "1/s",
        )
    elif workload == "ingest_query":
        ingests = run.loop_spans("ingest")
        out["ingest_docs_per_s"] = (
            sum(s.attrs["docs"] for s in ingests) / sum(s.seconds for s in ingests),
            "1/s",
        )
        out["query_after_ingest_p50_s"] = (
            median(s.seconds for s in run.loop_spans("query")
                    if s.attrs.get("after_ingest")),
            "s",
        )
        out["query_p50_s"] = (median(secs), "s")
        out["cycle_p50_s"] = (median(s.seconds for s in run.loop_spans("cycle")), "s")
    return out


def end_to_end(named: dict[str, tuple[float, str]]) -> dict[str, float]:
    return {k: named[k][0] for k in END_TO_END}
