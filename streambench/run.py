"""Streaming benchmark of the graft event-log connector.

    python3 streambench/run.py --workload durable_relay --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark (see build.py), runs one workload in one
JVM, checks the outputs against the generator's own record, and prints a run
stamp line and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
first makes an untraced run of the same workload and seed that stops after
the catch-up phase: its catch-up CPU per event is the baseline of
``bench.tracing_overhead_share``. Exits 0 only when the outputs are correct.

    python3 streambench/run.py --workload all --seed 1 --seconds 15 --trace 0

runs every workload in turn and ends with one line holding every metric,
prefixed by its workload.

    python3 streambench/run.py --digest-check --workload durable_relay --seed 1

confirms that a seed always generates the same inputs (and another seed
different ones).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
# seconds a run may take after the build (a run must end within 180 s)
BUDGET_S = 165

import analysis  # noqa: E402
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load_config():
    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        return json.load(f)


def jvm_command(classpath, work, args):
    # -XX:-UsePerfData: the JVM would otherwise write its perf file outside
    # the checkout. GC settings: Spark's block cache keeps the heap ~60%
    # full by the steady phase of neardup_stream. With G1's defaults every
    # multi-megabyte array an epoch allocates was a humongous object that
    # started a collection (1 MB regions), and marking cycles ran back to
    # back (adaptive threshold below that fill), so how often the steady
    # phase paused depended on how full the heap happened to be.
    cmd = [build.java_bin(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:G1HeapRegionSize=16m",
           "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=80",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "streambench.Main"] + args


def workload_args(cfg, name):
    out = []
    for k, v in cfg["workloads"][name].items():
        out += ["--p", f"{k}={v}"]
    return out


def digest(classpath, work, cfg, name, seed, seconds):
    args = ["--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--digest-only", "1"] + workload_args(cfg, name)
    r = subprocess.run(jvm_command(classpath, work, args), capture_output=True, text=True,
                       timeout=170)
    if r.returncode != 0:
        raise RuntimeError(r.stderr[-2000:])
    return r.stdout.strip().splitlines()[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest-check", action="store_true")
    a = ap.parse_args()

    cfg = load_config()
    if a.workload == "all":
        return run_all(cfg, a)
    if a.workload not in cfg["workloads"]:
        print(f"unknown workload {a.workload}; have {sorted(cfg['workloads'])}", file=sys.stderr)
        return 2
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    root = build.build_root()
    deadline = time.monotonic() + BUDGET_S
    if a.digest_check:
        work = os.path.join(root, "work", f"{a.workload}-seed{a.seed}-digest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            d1 = digest(classpath, work, cfg, a.workload, a.seed, a.seconds)
            d2 = digest(classpath, work, cfg, a.workload, a.seed, a.seconds)
            d3 = digest(classpath, work, cfg, a.workload, a.seed + 1, a.seconds)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        ok = d1 == d2 and d1 != d3
        print(json.dumps({"workload": a.workload, "seed": a.seed, "digest": d1,
                          "same_seed_same_digest": d1 == d2,
                          "other_seed_other_digest": d1 != d3}))
        return 0 if ok else 1

    baseline = None
    if a.trace:
        baseline = run_jvm(classpath, root, cfg, a.workload, a.seed, a.seconds, 0, deadline,
                           catchup_only=True)
        if baseline is None:
            return 3
    rec = run_jvm(classpath, root, cfg, a.workload, a.seed, a.seconds, a.trace, deadline)
    if rec is None:
        return 3
    result, stamp = analysis.evaluate(rec, baseline)
    if a.trace and rec.get("trace", {}).get("spans"):
        span_dir = os.path.join(root, "spans")
        os.makedirs(span_dir, exist_ok=True)
        span_file = os.path.join(span_dir, f"{a.workload}-seed{a.seed}.json")
        with open(span_file, "w") as f:
            json.dump({"workload": a.workload, "run": f"seed{a.seed}",
                       "fields": ["id", "name", "start_us", "end_us", "parent", "epoch"],
                       "spans": rec["trace"]["spans"]}, f)
        stamp["span_file"] = os.path.relpath(span_file, build.ROOT)
    stamp["git_head"] = git_head()
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run_jvm(classpath, root, cfg, workload, seed, seconds, trace, deadline, catchup_only=False):
    """One benchmark JVM, ended by the `deadline` (time.monotonic()); returns
    its run record (None when it failed, with the log's path on stderr). The
    record is also kept under records/."""
    name = f"{workload}-seed{seed}-trace{trace}" + ("-catchup" if catchup_only else "")
    budget = deadline - time.monotonic()
    if budget < 30:
        print(f"no time left for the trace={trace} run", file=sys.stderr)
        return None
    work = os.path.join(root, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        record_path = os.path.join(work, "record.json")
        log_path = os.path.join(root, "logs", name + ".log")
        os.makedirs(os.path.dirname(log_path), exist_ok=True)
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--out", record_path, "--work", work,
                "--budget_s", f"{budget - 5:.0f}",
                "--catchup-only", "1" if catchup_only else "0"] + workload_args(cfg, workload)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm_command(classpath, work, args),
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(record_path):
            print(f"benchmark JVM failed ({rc}); log: {log_path}", file=sys.stderr)
            return None
        kept = os.path.join(root, "records", name + ".json")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.copyfile(record_path, kept)
        with open(record_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_all(cfg, a):
    """Every workload in turn: their stamp and result lines, then one line
    with every metric prefixed by its workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in cfg["workloads"]:
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        print("\n".join(lines[-2:]), flush=True)
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
        if r.returncode != 0 or res is None:
            merged["correct"] = False
        if res:
            merged["attempted"] += res["attempted"]
            merged["failed"] += res["failed"]
            merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def git_head():
    """HEAD of the checkout the benchmark runs in, when it is a git repository
    of its own (None otherwise)."""
    def git(*args):
        r = subprocess.run(["git", "-C", build.ROOT] + list(args),
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    try:
        top = git("rev-parse", "--show-toplevel")
        if not top or os.path.realpath(top) != os.path.realpath(build.ROOT):
            return None
        return git("rev-parse", "HEAD")
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    sys.exit(main())
