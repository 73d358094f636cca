"""Run every workload untraced and traced, and print each named metric.

    python3 perfbench/report.py --seed 1 --seconds 20

For each workload this makes one untraced run (the end-to-end metrics, under
the names README.md uses) and one traced run (the per-layer metrics), prints
one ``workload metric value unit`` line per metric, and the tracing overhead:
the traced run's ``trace.op_p50_s`` minus the untraced run's ``op_p50_s``.
Exits 1 if any run failed or returned a wrong answer.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(detail line, result line) of one run.py invocation."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: run failed ({proc.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args(argv)
    ok = True
    for w in args.workloads:
        detail, plain = _run(w, args.seed, args.seconds, 0)
        _, traced = _run(w, args.seed, args.seconds, 1)
        if w == args.workloads[0]:
            print("host", json.dumps(detail["host"]), "inputs", json.dumps(detail["inputs"]))
        rows = [(k, m["value"], m["unit"]) for k, m in detail["named"].items()]
        rows += [(k, m["value"], m["unit"]) for k, m in traced["metrics"].items()]
        rows.append((
            "trace.overhead_s",
            traced["metrics"]["trace.op_p50_s"]["value"]
            - plain["metrics"]["op_p50_s"]["value"],
            "s",
        ))
        for name, value, unit in rows:
            print(f"{w:14s} {name:40s} {value:14.6g} {unit}")
        for r in (plain, traced):
            print(f"{w:14s} {'attempted/failed':40s} {r['attempted']:>8}/{r['failed']}")
            ok = ok and r["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
