"""Run-to-run spread of the end-to-end metrics.

    python3 streambench/spread.py --workloads neardup_stream,durable_relay --seeds 1-10

Runs the benchmark once per (workload, seed), untraced, and prints for each
end-to-end metric the median and the quartile spread
(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles(n=4)``, next
to the bound BENCHMARK.json allows.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, (q3 - q1) / m if m else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    ok = True
    for w in a.workloads.split(","):
        values = {k: [] for k in bounds}
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               capture_output=True, text=True)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
            res = json.loads(line)
            print(f"{w} seed={s} rc={r.returncode} " + " ".join(
                f"{k}={v['value']:.6g}" for k, v in res.get("metrics", {}).items()), flush=True)
            if r.returncode != 0 or not res.get("correct"):
                ok = False
                continue
            for k in values:
                values[k].append(res["metrics"][k]["value"])
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            m, sp = spread(xs)
            flag = "" if k == "setup_s" or sp < bounds[k] / 3 else "  <-- above bound/3"
            print(f"  {w:15s} {k:20s} median={m:.6g} spread={sp:.4f} bound={bounds[k]}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
