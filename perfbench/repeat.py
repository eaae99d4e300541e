#!/usr/bin/env python3
"""Repeated runs: each workload once per seed, then per metric the median,
the quartiles and the spread (quartile distance over median), the same
statistics the acceptance check uses.

    python3 perfbench/repeat.py --workloads feature_build train_walkforward stream_replay --seeds 1-10
    python3 perfbench/repeat.py --workloads train_walkforward --seeds 1-5 --trace 1

Run from the root of a checkout. Each run's result line is appended to
`--out` (JSON lines) as it arrives.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
import os


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="3")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=os.path.join(".bench_build", "repeat.jsonl"))
    args = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    for w in args.workloads:
        rows = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, run, "--workload", w, "--seed", str(s),
                                "--seconds", args.seconds, "--trace", args.trace],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {s}: exit {p.returncode}, no result", flush=True)
                continue
            r = json.loads(last)
            r.update(workload=w, seed=s, wall_s=round(wall, 1))
            with open(args.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            rows.append(r)
            print(f"{w} seed {s}: wall {wall:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())
                           if v["value"]), flush=True)
        if len(rows) < 2:
            continue
        print(f"== {w}: {len(rows)} runs, mean wall {statistics.mean(r['wall_s'] for r in rows):.1f}s, "
              f"failed share {sorted({r['failed'] / r['attempted'] for r in rows})}")
        for m in sorted(rows[0]["metrics"]):
            vals = [r["metrics"][m]["value"] for r in rows if r["metrics"][m]["value"] is not None]
            if len(vals) < 2 or not any(vals):
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"   {m:32s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
                  f"spread {(q3 - q1) / med if med else float('nan'):.3f}")


if __name__ == "__main__":
    main()
