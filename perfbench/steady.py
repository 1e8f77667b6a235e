"""Run the benchmark over several seeds and report each metric's
median and spread (distance between the first and third quartile, as
a share of the median) — the steadiness the benchmark's bounds assume.

    python3 perfbench/steady.py --workload replicate --seeds 1-10 [--trace 0]

Runs are sequential, each a fresh process. Prints one JSON line per
run as it finishes, then a summary table; ``--out`` also writes the
runs and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        run = {"seed": seed, "rc": proc.returncode,
               "wall_s": round(time.perf_counter() - t0, 1)}
        if proc.returncode == 0 and len(lines) >= 2:
            run["summary"] = json.loads(lines[-2].removeprefix("perfbench: "))
            run["result"] = json.loads(lines[-1])
        else:
            run["stderr_tail"] = proc.stderr[-2000:]
        runs.append(run)
        print(json.dumps({k: run.get(k) for k in ("seed", "rc", "wall_s", "result")}),
              flush=True)
    ok = [r for r in runs if "result" in r]
    summary = {}
    for name in (ok[0]["result"]["metrics"] if ok else {}):
        values = [r["result"]["metrics"][name]["value"] for r in ok]
        summary[name] = {
            "median": statistics.median(values),
            "spread": quartile_spread(values) if len(values) >= 2 else None,
            "min": min(values), "max": max(values),
        }
    for name, s in summary.items():
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.4f}"
        print(f"{name:40s} median {s['median']:<14.6g} spread {spread}")
    print(f"runs {len(runs)}, ok {len(ok)}, all correct "
          f"{all(r['result']['correct'] for r in ok)}, "
          f"wall {sum(r['wall_s'] for r in runs):.0f} s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "seconds": seconds, "runs": runs, "summary": summary},
                      fh, indent=1)
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
