#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
median, quartiles and spread (interquartile distance / median), next to
the metric's bound from BENCHMARK.json.

    python3 cohortbench/spread.py --workloads cohort analysis --seeds 1-10

Run from the root of a checkout. Every run's result line is appended to
--log (one JSON object per line) so a set can be summarised again with
--summarise-only.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(log, bench):
    rows = [json.loads(l) for l in open(log) if l.strip()]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == w]
        shares = {(r["result"]["failed"], r["result"]["attempted"]) for r in runs}
        ok = all(r["result"]["correct"] for r in runs)
        print("%s: %d runs, all correct=%s, failed/attempted=%s"
              % (w, len(runs), ok, sorted(shares)))
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print("  %-16s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.4f (bound %.2f, bound/3 %.3f)"
                  % (name, med, q1, q3, (q3 - q1) / med, bound, bound / 3))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--log", default=".bench_build/spread.jsonl")
    ap.add_argument("--summarise-only", action="store_true")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    if not a.summarise_only:
        for w in a.workloads:
            for seed in seeds_of(a.seeds):
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
                # the run's per-operation medians, from its stderr summary
                ops = [l for l in p.stderr.splitlines() if " seed=%d rounds=" % seed in l]
                print(w, seed, p.returncode, last, file=sys.stderr)
                if p.returncode == 0:
                    with open(a.log, "a") as f:
                        f.write(json.dumps({"workload": w, "seed": seed, "ops": ops[-1:],
                                            "result": json.loads(last)}) + "\n")
    summarise(a.log, bench)


if __name__ == "__main__":
    main()
