"""Arithmetic of the streaming benchmark: turns one run record (written by
``streambench.Main``) into the end-to-end and per-layer metrics.

Everything here is pure Python over plain dicts and lists, so it is tested
without a JVM (``python3 -m unittest discover streambench``).
"""

import bisect
import math
from collections import Counter, defaultdict

END_TO_END = {
    "setup_s": "s",
    "drain_events_per_s": "events/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "cpu_ms_per_kevent": "ms/kevent",
}

KERNELS = ["minhash_signature", "word_shingles", "simhash64", "nfc_normalize", "token_count"]

# name -> (unit, better)
PER_LAYER = {
    "sources.read.latest_offset_ms_p50": ("ms", "lower"),
    "sources.read.scan_task_ms_per_kevent": ("ms/kevent", "lower"),
    "sources.read.receive_ns_per_event": ("ns", "lower"),
    "sources.read.events_behind_max": ("count", "lower"),
    "sources.read.partition_skew": ("ratio", "lower"),
    "sources.write.task_ms_per_kevent": ("ms/kevent", "lower"),
    "sources.write.commit_ms_p50": ("ms", "lower"),
    "sources.write.segments": ("count", "lower"),
    "sources.write.bytes_per_event": ("bytes", "lower"),
    "sources.write.readback_events_per_s": ("events/s", "higher"),
    "streaming.epoch.count": ("count", "lower"),
    "streaming.epoch.trigger_ms_p50": ("ms", "lower"),
    "streaming.epoch.trigger_ms_p95": ("ms", "lower"),
    "streaming.epoch.plan_ms_p50": ("ms", "lower"),
    "streaming.epoch.add_batch_ms_p50": ("ms", "lower"),
    "streaming.epoch.wal_ms_p50": ("ms", "lower"),
    "streaming.epoch.commit_offsets_ms_p50": ("ms", "lower"),
    "streaming.epoch.checkpoint_files": ("count", "lower"),
    "spark.jobs.per_epoch": ("count", "lower"),
    "spark.jobs.stages_per_epoch": ("count", "lower"),
    "spark.jobs.tasks_per_epoch": ("count", "lower"),
    "spark.jobs.task_ms_per_kevent": ("ms/kevent", "lower"),
    "spark.jobs.task_cpu_ms_per_kevent": ("ms/kevent", "lower"),
    "spark.jobs.shuffle_bytes_per_kevent": ("bytes/kevent", "lower"),
    "spark.jobs.gc_ms_per_kevent": ("ms/kevent", "lower"),
    "spark.jobs.failed_tasks": ("count", "lower"),
    "spark.jobs.slot_busy_share": ("ratio", "higher"),
    "operators.dedup.self_ms_p50": ("ms", "lower"),
    "operators.dedup.write_batch_ms_p50": ("ms", "lower"),
    "operators.dedup.batch_probe_ms_per_kdoc": ("ms/kdoc", "lower"),
    "operators.dedup.survivor_ratio": ("ratio", "higher"),
    "operators.dedup.index_files": ("count", "lower"),
    "operators.dedup.index_bytes": ("bytes", "lower"),
    "operators.quality.reject_ratio": ("ratio", "lower"),
    "operators.drops.rows": ("count", "lower"),
}
for _k in KERNELS:
    PER_LAYER[f"functions.{_k}.ns_per_row.codegen"] = ("ns", "lower")
    PER_LAYER[f"functions.{_k}.ns_per_row.interpreted"] = ("ns", "lower")
PER_LAYER.update({
    "jvm.heap_live_mb": ("MB", "lower"),
    "bench.generator.late_ms_p95": ("ms", "lower"),
    "bench.tracing_overhead_share": ("ratio", "lower"),
})

# a run's open loop fell behind its schedule when the generator's p95
# lateness exceeds this share of the median latency (and at least the floor)
LATE_SHARE, LATE_FLOOR_MS = 0.05, 20.0
# a tail percentile is reported as qualified only with this many epochs beyond it
MIN_EPOCHS_BEYOND = 10


# ---------------------------------------------------------------- percentiles

def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    values at or below it. None for an empty list."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values):
    return percentile(values, 50)


def tail(samples, q):
    """Percentile of (value, epoch) samples with the sample counts behind it.

    Returns a dict: the value, the number of samples, the number of distinct
    epochs holding a sample strictly above the value, and whether that is at
    least MIN_EPOCHS_BEYOND (the rule for reporting a tail percentile)."""
    value = percentile([v for v, _ in samples], q)
    if value is None:
        return {"value": None, "events": 0, "epochs": 0, "epochs_beyond": 0, "qualified": False}
    beyond = {e for v, e in samples if v > value}
    return {"value": value, "events": len(samples),
            "epochs": len({e for _, e in samples}),
            "epochs_beyond": len(beyond),
            "qualified": q <= 50 or len(beyond) >= MIN_EPOCHS_BEYOND}


# ------------------------------------------------------------ epoch arithmetic

def data_epochs(epochs):
    return [e for e in epochs if any(t > s for s, t in zip(e["start"], e["end"]))]


def epoch_events(epoch):
    """Events an epoch consumed: the width of its source offset range
    (numInputRows counts a row once per scan of the batch)."""
    return sum(t - s for s, t in zip(epoch["start"], epoch["end"]))


def commit_ms(epoch):
    """Commit time of an epoch: trigger start plus the trigger's duration."""
    return epoch["ts_ms"] + epoch["d"].get("triggerExecution", 0)


def attribute_latency(epochs, steady):
    """Per steady-phase event: commit time of the epoch whose source offset
    range holds it, minus its due time.

    `steady` carries the generator's schedule: start_us, rate (events/s), and
    per appended event its partition and sequence number. Returns
    (samples, unattributed) where samples are (latency_ms, batch) pairs."""
    per_part = defaultdict(list)
    for e in data_epochs(epochs):
        for p, (s, t) in enumerate(zip(e["start"], e["end"])):
            if t > s:
                per_part[p].append((t, s, commit_ms(e), e["batch"]))
    index = {}
    for p, xs in per_part.items():
        xs.sort()
        index[p] = ([x[0] for x in xs], xs)
    samples, unattributed = [], 0
    start_us, rate = steady["start_us"], steady["rate"]
    for i in range(steady["appended"]):
        p, seq = steady["part"][i], steady["seq"][i]
        due_ms = (start_us + int(i * 1e6 / rate)) / 1000.0
        ends, xs = index.get(p, ([], []))
        k = bisect.bisect_right(ends, seq)
        if k < len(xs) and xs[k][1] <= seq:
            samples.append((xs[k][2] - due_ms, xs[k][3]))
        else:
            unattributed += 1
    return samples, unattributed


def drain_seconds(rounds, epochs):
    """Drain time of each catch-up round: from the round's arrival (query
    start for the first round) to the commit of the first epoch whose end
    offsets cover it. None for a round no epoch covers."""
    ordered = sorted(epochs, key=lambda e: e["batch"])
    out = []
    for r in rounds:
        sec = None
        for e in ordered:
            if all(t >= c for t, c in zip(e["end"], r["cover"])):
                sec = (commit_ms(e) - r["arrival_ms"]) / 1000.0
                break
        out.append(sec)
    return out


def drain_rate(rounds, seconds):
    """Catch-up throughput: backlog events over the summed drain time of the
    rounds (the idle gaps between rounds left out). None when a round was
    not drained."""
    if not rounds or any(s is None or s <= 0 for s in seconds):
        return None
    return sum(r["events"] for r in rounds) / sum(seconds)


def cpu_per_kevent(catchup):
    """Process CPU ms per thousand backlog events over the whole catch-up:
    from query start until the query is idle after the last round (None when
    the catch-up did not finish)."""
    if catchup.get("cpu_ns", -1) < 0 or not catchup["events"]:
        return None
    return catchup["cpu_ns"] / 1e6 / (catchup["events"] / 1000.0)


# -------------------------------------------------------- failure accounting

def check_survivors(expected, observed):
    """Survivor doc ids with their token counts."""
    want = {d: n for d, n in expected["survivors"]}
    seen = Counter(d for d, _ in observed.get("survivors", []))
    missing = sum(1 for d in want if d not in seen)
    duplicated = sum(c - 1 for c in seen.values() if c > 1)
    wrong = 0
    first = {}
    for d, n in observed.get("survivors", []):
        if d in first:
            continue
        first[d] = n
        if d not in want or want[d] != n:
            wrong += 1
    return {"missing": missing, "duplicated": duplicated, "wrong": wrong}


def check_relay(expected, observed):
    """Relayed events by id: right partition under key routing and the same
    body checksum."""
    want = expected["events"]
    seen = Counter(i for _, i, _ in observed.get("events", []))
    missing = sum(1 for i in range(len(want)) if i not in seen)
    duplicated = sum(c - 1 for c in seen.values() if c > 1)
    wrong, first = 0, set()
    for p, i, crc in observed.get("events", []):
        if i in first:
            continue
        first.add(i)
        if not (0 <= i < len(want)) or want[i] != [p, crc]:
            wrong += 1
    return {"missing": missing, "duplicated": duplicated, "wrong": wrong}


CHECKS = {"doc_ids": check_survivors, "relay": check_relay}


def failures(rec):
    """(attempted, failed, detail): events offered, and those missing,
    duplicated or wrong in the checked output -- or all of them when the
    query died or timed out."""
    attempted = rec["stamp"]["backlog_events"] + rec["stamp"]["steady_events"]
    detail = CHECKS[rec["expected"]["kind"]](rec["expected"], rec["observed"])
    failed = detail["missing"] + detail["duplicated"] + detail["wrong"]
    if rec.get("error"):
        detail["error"] = rec["error"]
        failed = attempted
    return attempted, min(failed, attempted), detail


# --------------------------------------------------------------------- spans

def self_times(spans):
    """Self time (us) per span id: its duration minus the part of its interval
    covered by its children (overlapping children are counted once).

    A span is [id, name, start_us, end_us, parent_id, epoch]; parent 0 = root."""
    children = defaultdict(list)
    for sid, _, s, e, parent, _ in spans:
        if parent:
            children[parent].append((s, e))
    out = {}
    for sid, _, s, e, _, _ in spans:
        covered, cur_s, cur_e = 0, None, None
        for cs, ce in sorted((max(cs, s), min(ce, e)) for cs, ce in children.get(sid, [])):
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = max(0, (e - s) - covered)
    return out


LAYERS = [
    ("epoch.latestOffset", "graft.sources (read: offset planning)"),
    ("epoch.getBatch", "graft.sources (read: offset planning)"),
    ("task.source_scan", "tasks of stages reading the graft source (with what is fused into them)"),
    ("stage.source_scan", "spark.jobs (scheduling)"),
    ("epoch.walCommit", "graft.streaming (offset/commit logs)"),
    ("epoch.commitOffsets", "graft.streaming (offset/commit logs)"),
    ("epoch.queryPlanning", "spark micro-batch (planning)"),
    ("epoch.addBatch", "spark micro-batch (addBatch driver side)"),
    ("epoch", "spark micro-batch (other)"),
    ("writeBatch", "graft.operators (writeBatch driver side)"),
    ("job", "spark.jobs (scheduling)"),
    ("stage", "spark.jobs (scheduling)"),
    ("task", "tasks (operators, functions, state store)"),
    ("generator.append", "bench generator"),
    ("probe", "bench probes"),
    ("readback", "graft.sources (durable read-back)"),
]


def layer_of(name):
    for prefix, layer in LAYERS:
        if name == prefix or name.startswith(prefix + "."):
            return layer
    return "other"


def self_time_by_layer(spans, exclude=("bench probes", "bench generator")):
    """Self time (ms) summed per layer, with each layer's share of the total
    (benchmark-side spans excluded from the shares)."""
    st = self_times(spans)
    by = defaultdict(float)
    for sid, name, *_ in spans:
        by[layer_of(name)] += st[sid] / 1000.0
    total = sum(v for k, v in by.items() if k not in exclude) or 1.0
    return {k: {"self_ms": round(v, 3), "share": round(v / total, 4) if k not in exclude else None}
            for k, v in sorted(by.items(), key=lambda kv: -kv[1])}


# ------------------------------------------------------------------- metrics

def _p50(xs):
    v = median(xs)
    return 0.0 if v is None else float(v)


def end_to_end(rec):
    epochs = rec["epochs"]
    samples, unattributed = attribute_latency(epochs, rec["steady"])
    rounds = rec["catchup"]["rounds"]
    seconds = drain_seconds(rounds, epochs)
    p50, p95 = tail(samples, 50), tail(samples, 95)
    metrics = {
        "setup_s": rec["setup"]["setup_s"],
        "drain_events_per_s": drain_rate(rounds, seconds),
        "latency_p50_ms": p50["value"],
        "latency_p95_ms": p95["value"],
        "cpu_ms_per_kevent": cpu_per_kevent(rec["catchup"]),
    }
    counts = {"latency_p50_ms": p50, "latency_p95_ms": p95,
              "unattributed_events": unattributed,
              "catchup_rounds": {"events": [r["events"] for r in rounds],
                                 "drain_s": seconds}}
    return metrics, counts


def per_layer(rec, untraced_cpu_ms_per_kevent=None):
    """Per-layer metrics of a traced run record. The tracing overhead compares
    its catch-up CPU per event with that of an untraced run of the same
    workload and seed."""
    tr = rec["trace"]
    epochs = data_epochs(rec["epochs"])
    kevents = sum(epoch_events(e) for e in epochs) / 1000.0 or 1.0
    wl = rec["workload"]
    extra = rec.get("extra", {})
    probes = tr.get("probes", {})
    dur = lambda k: [e["d"].get(k, 0) for e in epochs]

    jobs = tr.get("jobs", [])
    stages = tr.get("stages", {})
    job_stages = {s for j in jobs for s in j["stages"]}
    tasks = [t for t in tr.get("tasks", []) if t[0] in job_stages]
    scan = lambda sid: bool(stages.get(str(sid), [0, 0, 0, False])[3])
    run_ms = sum(t[3] for t in tasks)
    n_epochs = len(epochs) or 1
    wall_ms = (commit_ms(epochs[-1]) - rec["catchup"]["start_ms"]) if epochs else 1
    slots = rec["stamp"]["slots"]

    m = {
        "sources.read.latest_offset_ms_p50": _p50(dur("latestOffset")),
        "sources.read.scan_task_ms_per_kevent":
            sum(t[3] for t in tasks if scan(t[0])) / kevents,
        "sources.read.receive_ns_per_event": probes.get("receive_ns_per_event") or 0.0,
        "sources.read.events_behind_max": max([e["behind_max"] for e in epochs] or [0]),
        "sources.read.partition_skew": _p50([
            max(t - s for s, t in zip(e["start"], e["end"])) /
            (sum(t - s for s, t in zip(e["start"], e["end"])) / len(e["start"]))
            for e in epochs]),
        "streaming.epoch.count": len(epochs),
        "streaming.epoch.trigger_ms_p50": _p50(dur("triggerExecution")),
        "streaming.epoch.trigger_ms_p95": float(percentile(dur("triggerExecution"), 95) or 0),
        "streaming.epoch.plan_ms_p50": _p50(dur("queryPlanning")),
        "streaming.epoch.add_batch_ms_p50": _p50(dur("addBatch")),
        "streaming.epoch.wal_ms_p50": _p50(dur("walCommit")),
        "streaming.epoch.commit_offsets_ms_p50": _p50(dur("commitOffsets")),
        "streaming.epoch.checkpoint_files": tr.get("checkpoint_files", 0),
        "spark.jobs.per_epoch": len(jobs) / n_epochs,
        "spark.jobs.stages_per_epoch": len(job_stages & {int(s) for s in stages}) / n_epochs,
        "spark.jobs.tasks_per_epoch": len(tasks) / n_epochs,
        "spark.jobs.task_ms_per_kevent": run_ms / kevents,
        "spark.jobs.task_cpu_ms_per_kevent": sum(t[4] for t in tasks) / 1e6 / kevents,
        "spark.jobs.shuffle_bytes_per_kevent": sum(t[6] for t in tasks) / kevents,
        "spark.jobs.gc_ms_per_kevent": sum(t[5] for t in tasks) / kevents,
        "spark.jobs.failed_tasks": sum(1 for t in tasks if t[7]),
        "spark.jobs.slot_busy_share": run_ms / (wall_ms * slots) if wall_ms > 0 else 0.0,
    }

    # sink layer: durable_relay only
    m.update({k: 0.0 for k in PER_LAYER if k.startswith("sources.write.")})
    if wl == "durable_relay":
        job_ms = defaultdict(float)
        for j in jobs:
            if j["end_ms"] >= j["start_ms"]:
                job_ms[j["batch"]] += j["end_ms"] - j["start_ms"]
        events = rec["stamp"]["backlog_events"] + rec["stamp"]["steady_events"]
        m.update({
            "sources.write.task_ms_per_kevent": run_ms / kevents,
            "sources.write.commit_ms_p50":
                _p50([e["d"].get("addBatch", 0) - job_ms.get(e["batch"], 0) for e in epochs]),
            "sources.write.segments": extra.get("segments", 0),
            "sources.write.bytes_per_event": extra.get("segment_bytes", 0) / events,
            "sources.write.readback_events_per_s":
                events / rec["observed"]["readback_s"] if rec["observed"].get("readback_s") else 0.0,
        })

    # operator layer: neardup_stream only
    m.update({k: 0.0 for k in PER_LAYER if k.startswith("operators.")})
    if wl == "neardup_stream":
        wb = {s[5]: (s[3] - s[2]) / 1000.0 for s in tr.get("spans", []) if s[1] == "writeBatch"}
        add = {e["batch"]: e["d"].get("addBatch", 0) for e in epochs}
        kept = extra.get("quality_kept") or 0
        offered = extra.get("offered_docs") or 0
        survivors = len(rec["observed"].get("survivors", []))
        m.update({
            "operators.dedup.self_ms_p50": _p50([add[b] - w for b, w in wb.items() if b in add]),
            "operators.dedup.write_batch_ms_p50": _p50(list(wb.values())),
            "operators.dedup.batch_probe_ms_per_kdoc":
                extra["batch_probe_ms"] / (extra["batch_probe_docs"] / 1000.0)
                if extra.get("batch_probe_docs") else 0.0,
            "operators.dedup.survivor_ratio": survivors / kept if kept else 0.0,
            "operators.dedup.index_files": extra.get("index_files", 0),
            "operators.dedup.index_bytes": extra.get("index_bytes", 0),
            "operators.quality.reject_ratio": 1.0 - kept / offered if offered else 0.0,
            "operators.drops.rows": extra.get("drop_rows", 0),
        })

    for k in KERNELS:
        for mode in ("codegen", "interpreted"):
            m[f"functions.{k}.ns_per_row.{mode}"] = probes.get(f"{k}.{mode}", 0.0)

    late = [x / 1000.0 for x in rec["steady"]["late_us"][:rec["steady"]["appended"]]]
    traced_cpu, untraced_cpu = cpu_per_kevent(rec["catchup"]), untraced_cpu_ms_per_kevent
    m.update({
        "jvm.heap_live_mb": tr.get("heap_live_mb") or 0.0,
        "bench.generator.late_ms_p95": float(percentile(late, 95) or 0.0),
        "bench.tracing_overhead_share":
            traced_cpu / untraced_cpu - 1.0 if traced_cpu and untraced_cpu else None,
    })
    return m


def evaluate(rec, baseline=None):
    """The run's result: (result line dict, stamp dict). A traced run comes
    with `baseline`, the record of an untraced catch-up-only run of the same
    workload and seed, whose catch-up CPU per event is the baseline of the
    tracing overhead; its backlog counts as attempted, and as failed when
    that run failed."""
    attempted, failed, detail = failures(rec)
    e2e, counts = end_to_end(rec)
    late = [x / 1000.0 for x in rec["steady"]["late_us"][:rec["steady"]["appended"]]]
    late_p95 = percentile(late, 95) or 0.0
    correct = (failed == 0 and not rec.get("error") and rec.get("digest_stable", False)
               and counts["unattributed_events"] == 0)
    if rec["traced"]:
        if baseline is None:
            raise ValueError("a traced run is evaluated with its untraced baseline")
        base_cpu = cpu_per_kevent(baseline["catchup"])
        attempted += baseline["catchup"]["events"]
        if baseline.get("error") or base_cpu is None:
            failed += baseline["catchup"]["events"]
            correct = False
        values = per_layer(rec, base_cpu)
        units = {k: u for k, (u, _) in PER_LAYER.items()}
    else:
        values, units = e2e, END_TO_END
    if any(values[k] is None for k in units):
        correct = False
    metrics = {k: {"value": values[k] if values[k] is not None else 0.0, "unit": units[k]}
               for k in units}
    stamp = dict(rec["stamp"])
    stamp.update({
        "workload": rec["workload"], "seed": rec["seed"], "seconds": rec["seconds"],
        "traced": rec["traced"], "input_digest": rec["digest"],
        "input_digest_stable": rec["digest_stable"],
        "setup": rec["setup"],
        "failed_share": failed / attempted,
        "failure_detail": detail,
        "generator_late_ms_p95": late_p95,
        "valid": late_p95 <= max(LATE_FLOOR_MS, LATE_SHARE * (e2e["latency_p50_ms"] or 0.0)),
        "percentile_counts": counts,
    })
    if not rec["traced"]:
        stamp["end_to_end"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        stamp["untraced_baseline"] = {"cpu_ms_per_kevent": base_cpu,
                                      "error": baseline.get("error")}
        if rec["trace"].get("spans"):
            stamp["self_time_by_layer"] = self_time_by_layer(rec["trace"]["spans"])
    result = {"correct": bool(correct), "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, stamp
