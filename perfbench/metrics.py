"""Turns a run's trace records into the benchmark's metrics.

The JVM side (perfbench/src) records spans and counters; every number
the benchmark reports is computed here, so the arithmetic can be
tested on its own (perfbench/test_metrics.py).

Record kinds (one JSON object per line, times in epoch milliseconds):
  setup   {phase, t0, t1}
  pass    {pass, t0, t1, heap_mb}          pass -1 is the warm-up
  call    {id, pass, name, kind, t0, tb, t1, ok, ...}
          tb: end of building the DataFrame, start of executing it
  trigger {call, run, batch, t0, ms, rows[, phases, state]}
  job     {id, call, group, t0, t1, stages, tasks, ...}   traced only
  plan    {t0, ok, phases}                                 traced only
  store   {pass, bytes, keys}                              traced only
"""
import json
import math
import statistics

# The tail is the highest of these percentiles with at least
# TAIL_BEYOND samples above it.
LADDER = (50, 60, 70, 80, 90, 95, 99, 99.9)
TAIL_BEYOND = 10
# The percentile the end-to-end tail metric reports: tail_percentile()
# of the fewest requests a run measures (ingest's two passes, 26
# micro-batches; serve's one pass, 27 lookups).
TAIL_PCT = 60

def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def tail_percentile(n, ladder=LADDER, beyond=TAIL_BEYOND):
    """Highest percentile in the ladder with at least `beyond` of n
    samples above it, or None when even the median has fewer."""
    best = None
    for p in ladder:
        if n * (100 - p) + 1e-9 >= beyond * 100:
            best = p
    return best


def percentile(values, p):
    """Harrell-Davis estimate of the p-th percentile (0 < p < 100).

    A weighted mean of all order statistics, the weights taken from a
    Beta((n+1)q, (n+1)(1-q)) distribution, q = p/100. Request latencies
    mix a few fixed levels (an ingest pass has a slow first trigger per
    stream and faster later ones); a single order statistic jumps from
    one level to the next between runs, this estimate moves smoothly.
    The weights are integrated with the midpoint rule, 64 points per
    sample, and normalised.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if not 0 < p < 100:
        raise ValueError("p must lie strictly between 0 and 100")
    n = len(xs)
    q = p / 100
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64
    weights = [0.0] * n
    for k in range(n * steps):
        t = (k + 0.5) / (n * steps)
        weights[k // steps] += math.exp(
            (a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)
    total = sum(weights)
    return sum(w * x for w, x in zip(weights, xs)) / total


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def split_call(call, jobs):
    """(job_ms, driver_ms) of one call: wall time with at least one of
    its jobs running, and the rest. They sum to the call's wall time."""
    wall = call["t1"] - call["t0"]
    job = union_length([(j["t0"], j["t1"]) for j in jobs], call["t0"], call["t1"])
    return job, wall - job


def count_failures(calls, wrong_ops):
    """(attempted, failed): every call counts; a call fails if it threw,
    its output check failed, or its op's reference output differs from
    the oracle."""
    wrong = set(wrong_ops)
    failed = sum(1 for c in calls if not c["ok"] or c["name"] in wrong)
    return len(calls), failed


def _by(records, kind):
    return [r for r in records if r["k"] == kind]


def _request_ms(workload, timed, triggers):
    """ingest: micro-batch latency; serve: lookup latency."""
    if workload == "ingest":
        ids = {c["id"] for c in timed}
        return [t["ms"] for t in triggers if t["call"] in ids]
    return [c["t1"] - c["t0"] for c in timed if c["kind"] == "lookup"]


def end_to_end(records, workload, spawn_ms):
    passes = [p for p in _by(records, "pass") if p["pass"] >= 0]
    if not passes:
        raise ValueError("no timed pass completed")
    timed = [c for c in _by(records, "call") if c["pass"] >= 0]
    req = _request_ms(workload, timed, _by(records, "trigger"))
    warnings = []
    tail = tail_percentile(len(req))
    if tail is None or tail < TAIL_PCT:
        warnings.append(f"{len(req)} request samples: fewer than {TAIL_BEYOND} "
                        f"beyond p{TAIL_PCT}")
    m = {
        "setup_s": ((min(p["t0"] for p in passes) - spawn_ms) / 1000, "s"),
        "pass_s": (statistics.median((p["t1"] - p["t0"]) / 1000 for p in passes), "s"),
        "request_p50_ms": (percentile(req, 50), "ms"),
        f"request_p{TAIL_PCT}_ms": (percentile(req, TAIL_PCT), "ms"),
        # after the first timed pass: a fixed amount of work, whatever
        # the number of passes that fit in the run
        "heap_after_gc_mb": (min(passes, key=lambda p: p["pass"])["heap_mb"], "MB"),
    }
    return m, warnings


def layers(records):
    passes = [p for p in _by(records, "pass") if p["pass"] >= 0]
    n_pass = len(passes)
    calls = _by(records, "call")
    timed = [c for c in calls if c["pass"] >= 0]
    ids = {c["id"] for c in timed}
    jobs = [j for j in _by(records, "job") if j["call"] in ids]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["call"], []).append(j)
    triggers = [t for t in _by(records, "trigger") if t["call"] in ids]
    trig_of = {}
    for t in triggers:
        trig_of.setdefault(t["call"], []).append(t)
    windows = [(c["t0"], c["t1"]) for c in timed]
    plans = [p for p in _by(records, "plan") if any(a <= p["t0"] <= b for a, b in windows)]

    def per_pass(x):
        return x / n_pass

    m = {}
    wall = {c["id"]: c["t1"] - c["t0"] for c in timed}
    split = {c["id"]: split_call(c, jobs_of.get(c["id"], [])) for c in timed}
    m["call.build_s"] = (per_pass(sum(c["tb"] - c["t0"] for c in timed) / 1000), "s")
    m["call.action_s"] = (per_pass(sum(c["t1"] - c["tb"] for c in timed) / 1000), "s")
    m["call.job_s"] = (per_pass(sum(s[0] for s in split.values()) / 1000), "s")
    m["call.driver_s"] = (per_pass(sum(s[1] for s in split.values()) / 1000), "s")

    def phase_ms(name):
        return per_pass(sum(p["phases"].get(name, 0) for p in plans))
    m["planner.executions"] = (per_pass(len(plans)), "count")
    m["planner.analysis_ms"] = (phase_ms("analysis"), "ms")
    m["planner.optimization_ms"] = (phase_ms("optimization"), "ms")
    m["planner.physical_ms"] = (phase_ms("planning"), "ms")

    def job_sum(field):
        return per_pass(sum(j[field] for j in jobs))
    m["scheduler.jobs"] = (per_pass(len(jobs)), "count")
    m["scheduler.stages"] = (job_sum("stages"), "count")
    m["scheduler.tasks"] = (job_sum("tasks"), "count")
    m["scheduler.task_run_s"] = (job_sum("task_run_ms") / 1000, "s")
    m["scheduler.task_cpu_s"] = (job_sum("task_cpu_ms") / 1000, "s")
    m["scheduler.gc_s"] = (job_sum("gc_ms") / 1000, "s")
    m["scheduler.launch_delay_s"] = (job_sum("launch_delay_ms") / 1000, "s")
    m["shuffle.write_bytes"] = (job_sum("shuffle_write_bytes"), "bytes")
    m["shuffle.read_bytes"] = (job_sum("shuffle_read_bytes"), "bytes")
    m["shuffle.spill_bytes"] = (job_sum("spill_bytes"), "bytes")
    m["io.input_bytes"] = (job_sum("input_bytes"), "bytes")
    m["io.output_bytes"] = (job_sum("output_bytes"), "bytes")
    m["io.output_rows"] = (job_sum("output_rows"), "count")

    def trig_sum(phase):
        return per_pass(sum(t["phases"].get(phase, 0) for t in triggers))
    runs = {t["run"] for t in triggers}
    stream_jobs = sum(1 for j in jobs if j["group"] in runs)
    m["streaming.triggers"] = (per_pass(len(triggers)), "count")
    m["streaming.add_batch_ms"] = (trig_sum("addBatch"), "ms")
    m["streaming.planning_ms"] = (trig_sum("queryPlanning"), "ms")
    m["streaming.wal_ms"] = (trig_sum("walCommit"), "ms")
    m["streaming.offsets_ms"] = (trig_sum("commitOffsets"), "ms")
    m["streaming.jobs_per_trigger"] = (stream_jobs / len(triggers) if triggers else 0.0, "count")
    stream_calls = [c for c in timed if c["id"] in trig_of]
    m["streaming.start_stop_s"] = (per_pass(sum(
        (c["tb"] - c["t0"]) - sum(t["ms"] for t in trig_of[c["id"]])
        for c in stream_calls) / 1000), "s")

    def last_state(field):
        total = 0
        for c in stream_calls:
            last = max(trig_of[c["id"]], key=lambda t: t["batch"])
            total += sum(s[field] for s in last["state"])
        return per_pass(total)
    m["state.commit_ms"] = (per_pass(sum(s["commit_ms"] for t in triggers for s in t["state"])),
                            "ms")
    m["state.update_ms"] = (per_pass(sum(s["update_ms"] for t in triggers for s in t["state"])),
                            "ms")
    m["state.rows_total"] = (last_state("rows_total"), "count")
    m["state.memory_bytes"] = (last_state("memory_bytes"), "bytes")
    m["state.shards"] = (last_state("shards"), "count")

    lookups = [c for c in timed if c["kind"] == "lookup"]
    upserts = [c for c in timed if c["kind"] == "upsert"]
    plain = [wall[c["id"]] for c in upserts if not c["compacted"]]
    base = statistics.median(plain) if plain else 0.0
    compacting = [c for c in upserts if c["compacted"]]
    stores = _by(records, "store")
    m["livestore.lookup_roots"] = (
        statistics.mean(c["roots"] for c in lookups) if lookups else 0.0, "count")
    m["livestore.compactions"] = (per_pass(len(compacting)), "count")
    m["livestore.compaction_ms"] = (per_pass(sum(wall[c["id"]] - base for c in compacting)),
                                    "ms")
    m["livestore.store_bytes_per_key"] = (
        statistics.mean(s["bytes"] / s["keys"] for s in stores) if stores else 0.0, "bytes")

    # one-time cost of an op's first call: warm-up minus its median warm call
    capital = 0.0
    for name in {c["name"] for c in calls if c["pass"] < 0}:
        warm = [wall[c["id"]] for c in timed if c["name"] == name]
        if warm:
            first = min((c for c in calls if c["name"] == name), key=lambda c: c["t0"])
            capital += (first["t1"] - first["t0"]) - statistics.median(warm)
    m["capital.build_s"] = (capital / 1000, "s")
    return m


def result(records, workload, spawn_ms, traced, wrong_ops):
    attempted, failed = count_failures(_by(records, "call"), wrong_ops)
    if traced:
        m, warnings = layers(records), []
    else:
        m, warnings = end_to_end(records, workload, spawn_ms)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            "warnings": warnings}
