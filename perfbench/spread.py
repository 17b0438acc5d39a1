#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload ingest_rollup --seeds 1-10 --seconds 10 [--trace 1] [--out f.json]

Runs ``perfbench/run.py`` once per seed, one after another, from the
current directory (a source checkout). For every metric it prints the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread ``(q3 - q1) / median``, which is what a metric's bound in
BENCHMARK.json is compared against. Each run's result is kept under
``runs`` in the output.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(runs: list[dict]) -> dict:
    names = runs[0]["result"]["metrics"].keys()
    out = {}
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        out[n] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else None,
                  "unit": runs[0]["result"]["metrics"][n]["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(s),
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            capture_output=True, text=True, check=False,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        runs.append({"seed": s, "run_s": time.perf_counter() - t0,
                     "info": json.loads(lines[-2])["info"], "result": json.loads(lines[-1])})
        print(f"seed {s}: {runs[-1]['run_s']:.1f} s, failed {runs[-1]['result']['failed']}",
              file=sys.stderr, flush=True)
    res = {"workload": a.workload, "trace": a.trace, "seconds": a.seconds,
           "metrics": summarise(runs), "runs": runs}
    text = json.dumps(res, indent=1)
    if a.out:
        with open(a.out, "w", encoding="utf-8") as f:
            f.write(text + "\n")
    print(json.dumps(res["metrics"], indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
