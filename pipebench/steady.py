"""Steadiness: run one workload N times, one seed each, for
``BENCHMARK.json``'s ``run_seconds``, and print every
end-to-end metric's median, quartiles and relative spread.

    python3 pipebench/steady.py --workload pages_rollup --runs 10

Run from the repository root.  The spread is ``(q3 - q1) / median`` with
the quartiles of ``statistics.quantiles(values, n=4)``; the bounds in
``BENCHMARK.json`` are set from it.  The last line of standard output is
one JSON object with the per-run results and the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(prog="pipebench/steady.py", description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2")

    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            print(f"seed {seed}: exit code {proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **result})
        batches = [ln.split()[3] for ln in proc.stderr.splitlines() if ln.startswith("pipebench: batch")]
        values = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} {values} wall={wall:.1f}s batches={','.join(batches)}", flush=True)

    summary = {}
    for metric in bench["end_to_end"]:
        name = metric["name"]
        summary[name] = summarize([r["metrics"][name]["value"] for r in runs])
        s = summary[name]
        print(f"{name:>12} median {s['median']:.4g} {metric['unit']}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}"
              f"  spread {100 * s['spread']:.2f}%  bound {100 * metric['bound']:.0f}%")
    shares = sorted({r["failed"] / r["attempted"] for r in runs})
    print(f"failed share per run: {shares}; all correct: {all(r['correct'] for r in runs)}")
    print(json.dumps({"workload": args.workload, "nproc": len(os.sched_getaffinity(0)),
                      "runs": runs, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
