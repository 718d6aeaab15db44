"""Traced report: per-layer numbers, span coverage and tracing overhead.

For each workload this runs the benchmark twice on the same seed, once
untraced and once traced, and records the per-layer metrics, the share of
the batch wall the named spans account for, and the tracing overhead (the
traced minus the untraced ``batch_s_p50``). It adds one ``local[1]`` run of
``many_pipelines`` as the single-thread baseline, which no bound gates.

    python3 perfbench/report.py --seed 1 --seconds 20 --out REPORT.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _run(workload, seed, seconds, trace, cores=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{proc.stderr[-4000:]}")
    report, result = (json.loads(x) for x in lines[-2:])
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    out = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for name in sorted(WORKLOADS):
        rep0, res0 = _run(name, args.seed, args.seconds, 0)
        rep1, res1 = _run(name, args.seed, args.seconds, 1)
        p50 = res0["metrics"]["batch_s_p50"]["value"]
        traced = rep1["batch_s_p50_traced"]
        out["workloads"][name] = {
            "end_to_end": {k: v["value"] for k, v in res0["metrics"].items()},
            "per_layer": {k: v["value"] for k, v in res1["metrics"].items()},
            "span_self_s_per_batch": rep1["span_self_s_per_batch"],
            "span_coverage_of_batch_wall": rep1["span_coverage"],
            "tracing_overhead_s": traced - p50,
            "tracing_overhead_share": (traced - p50) / p50,
            "untraced": rep0,
            "traced": rep1,
            "correct": res0["correct"] and res1["correct"],
        }
        print(name, json.dumps({k: out["workloads"][name][k] for k in (
            "span_coverage_of_batch_wall", "tracing_overhead_s", "correct")}),
            file=sys.stderr)
    rep, res = _run("many_pipelines", args.seed, args.seconds, 0, cores=1)
    out["single_thread_baseline"] = {
        "workload": "many_pipelines", "cores": 1,
        "end_to_end": {k: v["value"] for k, v in res["metrics"].items()},
        "report": rep, "correct": res["correct"],
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
