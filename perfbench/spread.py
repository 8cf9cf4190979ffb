#!/usr/bin/env python3
"""Run a workload on several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload serve_ingest --seeds 1-10 --seconds 24

Each run is a separate `perfbench/run.py` process; its JSON result line is
kept in perfbench-spread-<workload>.jsonl under the build directory.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args()
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build, exist_ok=True)
    log = os.path.join(build, f"perfbench-spread-{a.workload}.jsonl")
    values = {}
    with open(log, "a") as out:
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                a.workload, "--seed", str(s), "--seconds", str(a.seconds),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"seed {s}: failed (exit {r.returncode})")
                continue
            res = json.loads(lines[-1])
            out.write(json.dumps({"seed": s, **res}) + "\n")
            print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{k:16s} n={len(xs):2d} median={med:.4g} spread={(q3 - q1) / med * 100:.1f}%")


if __name__ == "__main__":
    main()
