#!/usr/bin/env python3
"""Runs one workload over several seeds and summarises each metric.

Usage, from the root of a checkout:

    python3 perfbench/capture.py --workload realtime_chain --seeds 1-10 \
        --seconds 10 [--trace 0|1]

Prints, per metric, the median and the quartile spread
``(Q3 - Q1) / median`` with quartiles as ``statistics.quantiles(n=4)``
gives them: the spread each end-to-end bound in BENCHMARK.json is held
against. Running
it once with ``--trace 0`` and once with ``--trace 1`` gives the tracing
overhead as ``trace.latency_ms`` minus ``latency_ms`` medians.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values, bad = {}, 0
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {s}: failed (rc={p.returncode})\n{p.stderr[-2000:]}", flush=True)
            bad += 1
            continue
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        spread = stats.quartile_spread(vs) if len(vs) >= 2 and stats.median(vs) else float("nan")
        print(f"{k:34s} median={stats.median(vs):12.4f} spread={spread:.4f} n={len(vs)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
