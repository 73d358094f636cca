"""Search-engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (any working directory works; paths
are resolved from this file). Inputs are generated from ``--seed``; the
engine runs on ``local[<cores>]`` through ``session.get_spark``. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md). Everything the run writes goes under ``.perfbench_work/``
in the checkout; the full record of each run, spans included, is kept in
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "search_engine_trec_fair_ranking_19_spark"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_environment() -> None:
    """Make the engine importable here and in Spark's Python workers, and
    keep every file Spark or Python writes inside the work directory."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _host_facts() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        top, sha = (subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        ).stdout.split() + [None, None])[:2]
    except OSError:
        top = sha = None
    if top != os.path.realpath(ROOT):  # not a git checkout of its own
        sha = None
    # the checkout a benchmark runs in need not be a git repository: a hash
    # of the engine's sources identifies the code either way
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {
        "nproc": _cores(),
        "mem_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
        "source_sha256": h.hexdigest()[:16],
    }


def _start_spark(run_dir: str, trace: bool):
    from pyspark.sql import SparkSession  # noqa: F401  (fail early if missing)

    from search_engine_trec_fair_ranking_19_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{_cores()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and every process it started
    (the Python workers) have exited. The gateway JVM exits when its stdin
    closes; its children are killed if they outlive it by 30 s."""
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default",
                    help="input scale (inputs.SIZES); 'tiny' for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    _prepare_environment()

    from perfbench import inputs as gen
    from perfbench import layers
    from perfbench.trace import RssSampler, Tracer, parse_event_log
    from perfbench.workloads import (
        END_TO_END, WORKLOADS, Run, check_build, end_to_end,
        named_metrics, setup,
    )
    from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    size = gen.SIZES[args.size]
    trace = bool(args.trace)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    phases: dict[str, float] = {}
    t_start = time.perf_counter()

    def phase(name: str) -> None:
        phases[name] = round(time.perf_counter() - t_start, 3)

    try:
        inputs = gen.prepare(WORK, args.seed, size)
        phase("inputs")
        with RssSampler() as rss:
            spark = _start_spark(run_dir, trace)
            phase("spark")
            try:
                run = Run(spark, Tracer(spark, trace), inputs, size,
                          args.seconds, run_dir)
                setup(run)
                phase("setup")
                verify = WORKLOADS[args.workload](run)
                run.probe_span0 = len(run.tracer.spans)
                phase("workload")
                if trace:
                    metrics = layers.probe(run)
                    phase("probes")
            finally:
                _stop_spark(spark)
                phase("stop")
        # the answers are checked after the measurement, so the oracle's
        # time and memory count in no metric
        o = oracle.build_index(inputs.corpus(), run.config)
        gen.record_index_stats(inputs, len(o.df), sum(o.df.values()))
        try:
            check_build(run, o, run.index_dir)
            verify(o)
        except Exception:
            run.check(False, traceback.format_exc(limit=4))
        phase("verify")
        named = named_metrics(run, args.workload, rss.peak_bytes)
        if trace:
            metrics["trace.op_p50_s"] = named["op_p50_s"][0]
            metrics.update(
                layers.executor(
                    run, parse_event_log(os.path.join(run_dir, "eventlog")),
                    _cores(),
                )
            )
            units = layers.METRICS
        else:
            metrics = end_to_end(named)
            units = END_TO_END
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
            },
        }
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": trace, "size": size.key,
            "inputs": inputs.meta, "host": _host_facts(), "phases": phases,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "failures": run.failures, "result": result,
        }
        run.tracer.dump(
            os.path.join(
                WORK, "results",
                f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}.json",
            ),
            record,
        )
        for f in run.failures:
            print(f"FAILED: {f}", file=sys.stderr)
        print(json.dumps({k: record[k] for k in ("host", "inputs", "phases", "named")}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
