"""Benchmark harness (driver contract) — window-admissible.

Runs the headline pipeline at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Admission protocol (defined in this module and nowhere else:
``ARM_REPRO_MAX``, ``HEALTH_FLOOR_MBPS``, ``host_fault_mbps`` and the
in-flight ``_ArmProber``): the measured VM's first-touch page-fault
throughput collapses >100x on a minutes timescale (measured 6 MB/s …
5.9 GB/s; BENCH/BASELINE.md), so a stage timed inside a collapsed window
measures the host, not the plan.
Every stage here therefore runs as a min-of-2 pair inside an in-flight
probe window and is ADMITTED only when

  * the in-flight probe median over the stage's wall-span clears
    ``HEALTH_FLOOR_MBPS`` (500 MB/s — healthy windows measure 2000-5900,
    degraded ones 6-300), and
  * the two runs of identical work reproduce within ``ARM_REPRO_MAX``
    (1.45x — a larger spread means the window shifted mid-stage).

A stage that fails admission waits for the host probe to recover and
retries (up to 4 attempts); if no healthy window appears, the best attempt
is reported but flagged ``admissible: false`` and the top-level
``window_admissible`` goes false — the record then says "do not compare
these absolute numbers across rounds" machine-readably, instead of the
round-3 failure mode where a collapsed window silently inflated
`index_build`/`dedup_exact` (BENCH_r03: host_fault_mbps 1573 → 13.6
mid-run, dedup_minhash 8.8s then 52.9s for identical work).

Headline ``value`` = SUM OF PER-STAGE MIN TIMES (the per-stage numbers a
reader would quote), NOT wall-clock: wall-clock would double-count the
second run of every pair and pay for retry/wait loops that exist to
qualify the window, not the code.

Stages timed:
  * index_build        — full inverted-index build over the documents table
                         (fresh dir each run; docs/sec derived)
  * bm25/wand/vsm/ex   — retrieval latency per query (the reference's
                         headline metric is s/query, BASELINE.md)
  * bm25_batch_5q      — the whole BM25 query set as ONE plan
  * evaluate_batch_50q — the reference-shaped evaluation loop: 50 queries
                         ranked by one batch plan + AP/nDCG vs judgments
                         (reference: 635 queries at 0.92-3.7 s/query)
  * dedup_minhash      — MinHash+LSH near-dup sweep
  * dedup_exact        — exact-hash duplicate groups
  * dedup_substring    — duplicated 8-token-window spans removed corpus-wide
  * curate_corpus      — composed curation pipeline (lang → quality →
                         exact dedup → near-dup clusters over the
                         MinHash-LSH pair set)
  * prepare_training_set — the whole raw-crawl → training-chunks
                         composition: decontaminate (1%-of-corpus eval
                         set) → curate → redact → cap → split → chunk
  * ann_brute_force    — exact cosine scan
  * text_quality_scan  — language-ID + quality scan
  * lm_perplexity      — corpus-trained bigram-LM fit + per-doc perplexity
                         scoring (CCNet-style quality ranking)
  * pack_sequences     — concat-and-split packing of every token stream
                         into fixed-length training sequences
  * line_cleanup       — intra-doc line dedup + corpus-frequency
                         boilerplate sweep over re-wrapped multi-line text
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from search_engine_trec_fair_ranking_19_spark.entry_queries import (
    GATE_CONFIG,
    documents_as_webtext,
    load_documents,
    load_embeddings,
)
from search_engine_trec_fair_ranking_19_spark.functions import text_analysis as ta
from search_engine_trec_fair_ranking_19_spark.operators import (
    curate,
    dedup,
    similarity,
)
from search_engine_trec_fair_ranking_19_spark.operators import query as q
from search_engine_trec_fair_ranking_19_spark.operators.evaluate import (
    evaluate_batch,
)
from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
    build_index,
)
from search_engine_trec_fair_ranking_19_spark.session import get_spark

# Admission bound on the spread of a stage's two runs. The two runs are
# identical work; a spread past this means the host window shifted
# mid-pair. Calibration: self-consistent pairs spread <=1.38; pairs that
# demonstrably straddled a collapse spread 1.47-3.0 (BENCH/BASELINE.md).
ARM_REPRO_MAX = 1.45

# Admission floor for the median in-flight fault throughput. Healthy
# windows on the measured VM read 2000-5900 MB/s; degraded ones 6-300. 500
# sits in the gap: a stage whose median sample clears it spent most of its
# wall time out of the degraded regime.
HEALTH_FLOOR_MBPS = 500.0


def host_fault_mbps(mb: int = 100) -> float:
    """First-touch page-fault throughput of THIS VM right now (MB/s).

    The measured VM's on-demand memory path degrades transiently by >100x
    (measured 6 MB/s to 5.9 GB/s for first touch of fresh pages within
    minutes). Every trial records this so bench consumers can tell a slow
    CODE path from a slow HOST window."""
    import numpy as np

    t0 = time.time()
    a = np.empty(mb * 1_000_000, dtype=np.uint8)
    a[::4096] = 1
    dt = time.time() - t0
    del a
    return round(mb / dt, 1)


class _ArmProber:
    """Samples host first-touch throughput every ``interval`` s in a daemon
    thread WHILE a stage runs. Boundary probes miss intra-stage window
    collapses (a 70 s build straddling a 6 MB/s window looks identical, at
    its boundaries, to a clean one); these in-flight samples are what the
    admission gate judges a stage by."""

    def __init__(self, interval: float = 8.0):
        import threading

        self.samples: list[tuple[float, float]] = []  # (t, MB/s)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(interval,))
        self._t.daemon = True

    def _loop(self, interval: float) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), host_fault_mbps(16)))
            self._stop.wait(interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=30)

    def window(self, t0: float, t1: float) -> list[float]:
        return [round(v, 1) for (t, v) in self.samples if t0 <= t <= t1]


BM25_QUERIES = [
    "spark shuffle partition table",
    "query data column engine",
    "window batch row",
    "hash join scan",
    "fast slow value key",
]

# word pool for the 50-query evaluation workload — every content word from
# the headline query set; 3-word queries are composed by deterministic
# rotation so the workload is identical across rounds/hosts
_EVAL_POOL = sorted({w for s in BM25_QUERIES for w in s.split()})


def eval_query_set(n: int = 50) -> list[tuple[int, str]]:
    m = len(_EVAL_POOL)
    return [
        (
            i + 1,
            " ".join(
                (
                    _EVAL_POOL[i % m],
                    _EVAL_POOL[(2 * i + 1) % m],
                    _EVAL_POOL[(3 * i + 2) % m],
                )
            ),
        )
        for i in range(n)
    ]


MAX_ATTEMPTS = 4
RECOVERY_WAIT_SEC = 120.0  # max wait for a healthy window between attempts


class StageRunner:
    """Times stages as admitted min-of-2 pairs (see module docstring)."""

    def __init__(self) -> None:
        self.timings: dict[str, float] = {}
        self.run_pairs: dict[str, list[float]] = {}
        self.admission: dict[str, dict] = {}

    def _wait_for_healthy_window(self) -> None:
        deadline = time.time() + RECOVERY_WAIT_SEC
        while time.time() < deadline:
            if host_fault_mbps(16) >= HEALTH_FLOOR_MBPS:
                return
            time.sleep(10)

    def run(self, name: str, fn, warmup: bool = False) -> None:
        """fn() -> dict[str, float] of sub-timings (or a bare float for
        single-timing stages). Two runs per attempt; per-key min reported.

        ``warmup`` runs fn once UNTIMED first: stages whose first execution
        pays JIT/codegen/Python-worker spin-up otherwise burn attempt 1 on a
        guaranteed cold-start spread reject."""
        if warmup:
            fn()
        best = None  # (admissible, -probe_med, attempt_record)
        for attempt in range(1, MAX_ATTEMPTS + 1):
            with _ArmProber(interval=2.0) as prober:
                t0 = time.time()
                runs = []
                for _ in range(2):
                    r = fn()
                    runs.append({name: r} if isinstance(r, float) else r)
                t1 = time.time()
                # guarantee >=1 in-window sample even for sub-2s stages
                prober.samples.append((time.time(), host_fault_mbps(16)))
            window = prober.window(t0, time.time())
            probe_med = statistics.median(window) if window else 0.0
            total = [sum(r.values()) for r in runs]
            spread = max(total) / min(total) if min(total) > 0 else 1.0
            admissible = (
                probe_med >= HEALTH_FLOOR_MBPS and spread <= ARM_REPRO_MAX
            )
            rec = {
                "runs": runs,
                "probe_mbps_median": round(probe_med, 1),
                "spread": round(spread, 3),
                "admissible": admissible,
                "attempts": attempt,
            }
            key = (admissible, probe_med)
            if best is None or key > (best[0], best[1]):
                best = (admissible, probe_med, rec)
            if admissible:
                break
            if attempt < MAX_ATTEMPTS:
                print(
                    f"[bench] stage {name} attempt {attempt} rejected "
                    f"(probe {probe_med:.0f} MB/s, spread {spread:.2f})",
                    file=sys.stderr,
                    flush=True,
                )
                # spread-fail with a healthy probe is usually cold-start
                # (JIT/codegen on the first run of a new stage) — retry
                # immediately, now warm; only a failed probe means the
                # HOST is degraded and worth waiting out
                if probe_med < HEALTH_FLOOR_MBPS:
                    self._wait_for_healthy_window()
        rec = best[2]
        rec["attempts"] = attempt
        for key in rec["runs"][0]:
            vals = [r[key] for r in rec["runs"]]
            self.timings[key] = min(vals)
            self.run_pairs[key] = [round(v, 3) for v in vals]
        self.admission[name] = {
            "probe_mbps_median": rec["probe_mbps_median"],
            "spread": rec["spread"],
            "admissible": rec["admissible"],
            "attempts": rec["attempts"],
        }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # the Python workers import the package too, from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (_REPO, os.environ.get("PYTHONPATH")))
    )
    health_before = host_fault_mbps()
    spark = get_spark(app_name="themis-bench")
    runner = StageRunner()

    docs = load_documents(spark, sf_dir)
    n_docs = docs.count()

    # ---- index build ------------------------------------------------------
    state: dict = {}

    def _build() -> float:
        if "dir" in state:  # fresh dir per run, last build kept for queries
            shutil.rmtree(state["dir"], ignore_errors=True)
        state["dir"] = tempfile.mkdtemp(prefix="themis_bench_index_")
        t0 = time.time()
        state["tables"] = build_index(
            spark, documents_as_webtext(docs), state["dir"], GATE_CONFIG
        )
        return time.time() - t0

    runner.run("index_build", _build)
    tables = state["tables"]

    try:
        # ---- retrieval ----------------------------------------------------
        # warm-up (JIT/UDF worker spin-up) excluded from per-query numbers
        q.bm25_topk(spark, tables, "warm up query", k=10)
        from search_engine_trec_fair_ranking_19_spark.config import EngineConfig

        # WAND with the PRODUCTION threshold: below the measured crossover
        # (BENCH/wand_crossover.json) queries route to the exhaustive plan;
        # the per-query fallback flag records which path actually ran
        wand_cfg = GATE_CONFIG.with_(
            wand_min_postings=EngineConfig().wand_min_postings
        )
        wand_paths: dict[str, str] = {}

        def _retrieval() -> dict[str, float]:
            out: dict[str, float] = {}
            for i, text in enumerate(BM25_QUERIES, 1):
                t0 = time.time()
                q.bm25_topk(spark, tables, text, k=20).collect()
                out[f"bm25_q{i}"] = time.time() - t0
            for i, text in enumerate(BM25_QUERIES, 1):
                stats: dict = {}
                t0 = time.time()
                q.bm25_topk_wand(
                    spark, tables, text, k=20, config=wand_cfg, stats=stats
                ).collect()
                out[f"wand_q{i}"] = time.time() - t0
                wand_paths[f"wand_q{i}"] = stats.get("fallback", "wand")
            t0 = time.time()
            q.vsm_topk(spark, tables, BM25_QUERIES[0], k=20).collect()
            out["vsm_q1"] = time.time() - t0
            t0 = time.time()
            q.existential(spark, tables, BM25_QUERIES[2]).count()
            out["existential"] = time.time() - t0
            t0 = time.time()
            q.conjunctive(spark, tables, BM25_QUERIES[3]).count()
            out["conjunctive"] = time.time() - t0
            # the whole BM25 query set as ONE plan — compare against
            # sum(bm25_q*) to read the batch amortization directly; the
            # production WAND threshold lets the per-qid router decide
            # (at this SF everything routes to the shared exhaustive scan)
            t0 = time.time()
            q.bm25_topk_batch(
                spark,
                tables,
                list(enumerate(BM25_QUERIES, 1)),
                k=20,
                config=wand_cfg,
            ).collect()
            out["bm25_batch_5q"] = time.time() - t0
            return out

        runner.run("retrieval", _retrieval)

        # ---- evaluation loop (the reference's headline workload shape) ----
        judged = {
            r["url"]: (1 if r["docid"] % 6 == 0 else 0)
            for r in tables.doc_ids(spark).collect()
            if r["docid"] % 3 == 0
        }
        eval_qs = eval_query_set(50)

        def _evaluate() -> float:
            t0 = time.time()
            per_query, _summary = evaluate_batch(
                spark,
                tables,
                eval_qs,
                {qid: judged for qid, _ in eval_qs},
                k=None,
            )
            per_query.collect()
            return time.time() - t0

        runner.run("evaluate_batch_50q", _evaluate)

        # ---- dedup + similarity + text analysis ---------------------------
        runner.run(
            "dedup_minhash",
            lambda: _timed(
                lambda: dedup.minhash_dedup_pairs(
                    docs, num_hashes=64, num_bands=16, threshold=0.5
                ).count()
            ),
            warmup=True,  # first execution pays Arrow-UDF worker spin-up
        )
        runner.run(
            "dedup_exact",
            lambda: _timed(lambda: dedup.exact_duplicates(docs).count()),
        )

        # substring-span dedup: duplicated 8-token windows found, merged,
        # and deleted corpus-wide (2 shuffles + the span-removal rewrite)
        runner.run(
            "dedup_substring",
            lambda: _timed(
                lambda: dedup.remove_duplicate_spans(docs, k=8)
                .agg(F.sum("n_tokens_removed"), F.count(F.lit(1)))
                .collect()
            ),
            warmup=True,
        )

        emb = load_embeddings(spark, sf_dir)
        qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
        runner.run(
            "ann_brute_force",
            lambda: _timed(
                lambda: similarity.brute_force_topk(emb, qvec, k=10).collect()
            ),
        )

        runner.run(
            "text_quality_scan",
            lambda: _timed(
                lambda: docs.select(
                    ta.lang_id(F.col("text")).alias("lang"),
                    ta.quality_score(F.col("text")).alias("quality"),
                )
                .agg(F.count(F.lit(1)), F.avg("quality"))
                .collect()
            ),
        )

        # the composed curation pipeline (lang -> quality -> exact dedup ->
        # near-dup clusters) with the MinHash-LSH pair set — the scale path
        # a 100 TB corpus sweep runs
        runner.run(
            "curate_corpus",
            lambda: _timed(
                lambda: curate.curation_decisions(
                    docs,
                    pairs=dedup.minhash_dedup_pairs(
                        docs, num_hashes=64, num_bands=16, threshold=0.5
                    ),
                    langs=("en",),
                    min_quality=0.5,
                )
                .groupBy("drop_reason")
                .count()
                .collect()
            ),
            # many short stages (semi-joins, window, driver-CC collect):
            # scheduler/GC jitter on a cold first run trips the spread gate
            warmup=True,
        )

        # corpus-trained bigram-LM quality ranking: fit (two map-side-
        # combined aggs) + score every document (bigram explode + two
        # broadcast joins + avg) — the CCNet-shaped quality pass
        from search_engine_trec_fair_ranking_19_spark.operators import (
            lm_quality,
        )

        def _lm() -> float:
            t0 = time.time()
            model = lm_quality.fit_bigram_lm(docs)
            lm_quality.lm_score(docs, model).agg(
                F.count(F.lit(1)), F.avg("log2_ppl")
            ).collect()
            return time.time() - t0

        runner.run("lm_perplexity", _lm, warmup=True)

        # concat-and-split packing of every token stream into fixed-length
        # training sequences (one bucket exchange + streaming window)
        from search_engine_trec_fair_ranking_19_spark.functions import (
            chunking,
        )

        runner.run(
            "pack_sequences",
            lambda: _timed(
                lambda: chunking.pack_sequences(
                    docs, seq_len=512, n_buckets=32
                ).count()
            ),
            warmup=True,
        )

        # line-level cleanup: intra-doc dedup + corpus boilerplate sweep.
        # The fixture corpus is single-line, so the text is re-wrapped
        # into 4-word lines first (same transform the gates use) — the
        # stage then measures the real kernels over ~n_docs*30 lines
        from search_engine_trec_fair_ranking_19_spark.entry_queries import (
            _wrap_words,
        )

        wrapped_docs = docs.select(
            "doc_id",
            ta.dedup_lines(_wrap_words(F.col("text"), 4)).alias("text"),
        )
        runner.run(
            "line_cleanup",
            lambda: _timed(
                lambda: curate.remove_boilerplate_lines(
                    wrapped_docs, min_docs=2
                )
                .agg(F.sum("n_lines_removed"), F.count(F.lit(1)))
                .collect()
            ),
            warmup=True,
        )

        # the full raw-crawl -> training-chunks composition (gate
        # `training_chunks` geometry + the production extras: benchmark
        # decontamination against a 1%-of-corpus eval set, PII redaction)
        bench_eval_df = docs.filter(F.col("doc_id") % 100 == 0).select("text")
        runner.run(
            "prepare_training_set",
            lambda: _timed(
                lambda: curate.prepare_training_set(
                    docs,
                    cap_per_source=10,
                    split_weights={"train": 0.9, "val": 0.1},
                    max_len=40,
                    overlap=8,
                    eval_df=bench_eval_df,
                    redact=True,
                    langs=("en",),
                    min_quality=0.5,
                    # the scale path: MinHash-LSH candidate pairs, same as
                    # the curate_corpus stage (default = the exact
                    # quadratic baseline, which is the GATE's job, not the
                    # bench's - it measured 8x the whole composition)
                    pairs=dedup.minhash_dedup_pairs(
                        docs, num_hashes=64, num_bands=16, threshold=0.5
                    ),
                )
                .groupBy("split")
                .count()
                .collect()
            ),
            warmup=True,
        )
    finally:
        shutil.rmtree(state.get("dir", ""), ignore_errors=True)

    timings = runner.timings
    total = sum(timings.values())
    bm25_times = sorted(v for k, v in timings.items() if k.startswith("bm25_q"))
    wand_times = sorted(v for k, v in timings.items() if k.startswith("wand_q"))
    result = {
        "metric": "index_build_plus_retrieval_seconds",
        "value": round(total, 3),
        "value_def": "sum of per-stage min-of-2 times from admitted windows",
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "n_docs": n_docs,
        "index_docs_per_sec": round(n_docs / timings["index_build"], 1),
        "bm25_p50_sec": round(bm25_times[len(bm25_times) // 2], 3),
        "wand_p50_sec": round(wand_times[len(wand_times) // 2], 3),
        "eval_sec_per_query": round(timings["evaluate_batch_50q"] / 50, 4),
        "wand_paths": wand_paths,
        "post_index_stage_runs": runner.run_pairs,
        "stage_admission": runner.admission,
        "window_admissible": all(
            a["admissible"] for a in runner.admission.values()
        ),
        "admission_params": {
            "health_floor_mbps": HEALTH_FLOOR_MBPS,
            "arm_repro_max": ARM_REPRO_MAX,
        },
        "host_fault_mbps": [health_before, host_fault_mbps()],
    }
    print(json.dumps(result))


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


if __name__ == "__main__":
    main()
