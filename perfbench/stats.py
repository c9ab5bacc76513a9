"""Arithmetic of the benchmark: percentiles, lags, self time, metrics.

Everything here is a pure function of the raw observations a benchmark
process writes (see src/main/scala/perfbench/Main.scala), so it can be
tested without Spark: python3 -m unittest discover -s perfbench
"""
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it.
MIN_BEYOND = 10

PHASES = ("latestOffset", "queryPlanning", "getBatch", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")


def percentile(samples, q):
    """Nearest-rank q-quantile of weighted samples [(value, count), ...],
    None when there are none."""
    pts = sorted((v, c) for v, c in samples if c > 0)
    n = sum(c for _, c in pts)
    rank = max(1, math.ceil(q * n))
    seen = 0
    for v, c in pts:
        seen += c
        if seen >= rank:
            return v
    return None


def tail_percentile(samples, q):
    """The q-quantile if at least MIN_BEYOND samples lie beyond its rank,
    else None: a p90 needs 100 samples, a p99 1000."""
    n = sum(c for _, c in samples if c > 0)
    if n - max(1, math.ceil(q * n)) < MIN_BEYOND:
        return None
    return percentile(samples, q)


def lags(epoch_ends, rows):
    """Per-item lag samples [(seconds, count)] from the completion time of
    each epoch (ms, keyed by batch id) and [batch, due_ms, count] rows:
    an item is done when the epoch that wrote it completes.
    """
    return [((epoch_ends[str(int(b))] - due) / 1000.0, c) for b, due, c in rows]


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time per layer, in seconds: each span's duration minus the part
    of it its children cover. The layer is the span name up to the first
    dot.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
        covered = union_length([iv for iv in clipped if iv[1] > iv[0]])
        layer = s["name"].split(".", 1)[0]
        self_ms = max(0.0, s["end"] - s["start"] - covered)
        out[layer] = out.get(layer, 0.0) + self_ms / 1000.0
    return out


def timed_ops(measured):
    return [op for op in measured["ops"] if op.get("timed")]


def latency_samples(measured):
    """Per-item latency samples of a measured window: given per operation,
    or for the open loop the lag of each event."""
    samples = []
    for op in timed_ops(measured):
        if "latency" in op:
            samples += [tuple(s) for s in op["latency"]]
        else:
            samples += lags(measured["epoch_ends"], op["rows"])
    return samples


def items_per_s(measured):
    """Items completed per second of the wall time they took: summed over
    the queries of the closed loop; for the open loop, from the
    first item's due time to the completion of the last epoch, which falls
    when the relay slows or falls behind the fixed offered rate.
    """
    ops = timed_ops(measured)
    items = sum(op["items"] for op in ops)
    if "epoch_ends" in measured:
        rows = [r for op in ops for r in op["rows"]]
        ends = measured["epoch_ends"]
        busy = (max(ends[str(int(r[0]))] for r in rows) - min(r[1] for r in rows)) / 1000.0 \
            if rows else 0.0
    else:
        busy = sum(s[0] * s[1] for op in ops for s in op["latency"])
    return items / busy if busy > 0 else None


def latency_s(measured):
    """The open loop's median event lag. For the closed loop of queries,
    the mean time per query: its queries differ in cost, so the median
    is one query's time and moves with that query's own noise, while the
    mean averages them (with one client it is 1 / items_per_s)."""
    samples = latency_samples(measured)
    if "epoch_ends" in measured:
        return percentile(samples, 0.5)
    n = sum(c for _, c in samples)
    return sum(v * c for v, c in samples) / n if n else None


def setup_seconds(raw, launched_ms):
    """JVM start-up (launch to main), and the median of the repeated
    in-process set-ups plus the one warm-up."""
    jvm = (raw["main_entered_ms"] - launched_ms) / 1000.0
    return jvm, statistics.median(sum(s.values()) for s in raw["setup"]) + raw["warmup_s"]


def end_to_end(raw, launched_ms):
    m = raw["measured"]
    return {
        "setup_s": sum(setup_seconds(raw, launched_ms)),
        "items_per_s": items_per_s(m),
        "latency_s": latency_s(m),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


def named_metrics(raw, launched_ms):
    """The end-to-end figures under their per-workload names."""
    m = raw["measured"]
    w = raw["workload"]
    lat = latency_samples(m)
    ops = m["ops"]
    out = {
        "setup_s": (sum(setup_seconds(raw, launched_ms)), "s"),
        "failed_frac": (sum(not op["ok"] for op in ops) / len(ops), "1"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }
    if w == "relay_live":
        out["live_lag_s_p50"] = (percentile(lat, 0.5), "s")
        out["live_lag_s_p90"] = (tail_percentile(lat, 0.9), "s")
        out["live_lag_samples"] = (sum(c for _, c in lat), "count")
        out["live_delivered_events_per_s"] = (items_per_s(m), "1/s")
    elif w == "queries":
        totals = {}
        for op in timed_ops(m):
            name = op["family"] + "total_s"
            totals[name] = totals.get(name, 0.0) + op["build_s"] + op["exec_s"]
        for name, total in totals.items():
            out[name] = (total / m["passes"], "s")
        out["query_s_p50"] = (percentile(lat, 0.5), "s")
    return out


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(raw, launched_ms):
    """Layer metrics of the traced window; zero for a layer the workload
    does not touch."""
    t = raw["traced"]
    m = t["measured"]
    c = t["counters"]
    ops = m["ops"]
    spans = t["spans"]
    by_id = {s["id"]: s for s in spans}
    cores = raw["cores"]
    out = {}

    queries = [op for op in ops if op.get("kind") == "query"]
    evicts = [op for op in ops if op.get("kind") == "evict"]

    def jobs_under(name):
        return sum(1 for s in spans if s["name"] == "sched.job"
                   and by_id.get(s["parent"], {}).get("name") == name)

    build = sum(op.get("build_s", 0.0) for op in queries)
    execs = sum(op.get("exec_s", 0.0) for op in queries)
    out["query.build_s"] = build
    out["query.build_jobs"] = jobs_under("query.build")
    out["query.exec_s"] = execs
    out["query.exec_jobs"] = jobs_under("query.exec")
    out["query.build_share"] = build / (build + execs) if build + execs else 0.0
    out["memo.evict_s"] = sum(op["end_ms"] - op["start_ms"] for op in evicts) / 1000.0
    out["memo.pinned_bytes"] = sum(op.get("pinned_bytes", 0) for op in evicts)

    cat = t["catalyst"]
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        out["catalyst." + k] = sum(x[k] for x in cat)

    for k in ("sched.jobs", "sched.stages", "sched.tasks", "sched.task_failures"):
        out[k] = c.get(k, 0.0)
    run_s = c.get("exec.task_run_ms", 0.0) / 1000.0
    out["exec.task_run_s"] = run_s
    out["exec.task_cpu_s"] = c.get("exec.task_cpu_ns", 0.0) / 1e9
    out["exec.gc_s"] = c.get("exec.gc_ms", 0.0) / 1000.0
    wall = (max(s["end"] for s in spans) - min(s["start"] for s in spans)) / 1000.0 \
        if spans else 0.0
    out["exec.core_busy_frac"] = run_s / (wall * cores) if wall > 0 else 0.0
    out["shuffle.write_bytes"] = c.get("shuffle.write_bytes", 0.0)
    out["shuffle.read_bytes"] = c.get("shuffle.read_bytes", 0.0)
    out["shuffle.fetch_wait_s"] = c.get("shuffle.fetch_wait_ms", 0.0) / 1000.0
    out["exec.spill_bytes"] = c.get("exec.spill_bytes", 0.0)
    out["scan.input_bytes"] = c.get("scan.input_bytes", 0.0)

    prog = [p for p in t["progress"] if p["rows"] > 0]
    out["stream.epochs"] = len(prog)
    out["stream.rows_per_epoch"] = (sum(p["rows"] for p in prog) / len(prog)) if prog else 0.0
    for ph in PHASES:
        xs = [p["durations"].get(ph, 0.0) for p in prog]
        out["stream.%s_ms" % ph] = sum(xs)
        out["stream.%s_ms_p50" % ph] = _p50(xs)
    out["stream.fixed_ms_per_epoch"] = (
        sum(p["durations"].get("triggerExecution", 0.0) - p["durations"].get("addBatch", 0.0)
            for p in prog) / len(prog)) if prog else 0.0

    out["cdc.transform_s"] = m.get("cdc_transform_s", 0.0)
    files = [op for op in ops if op.get("kind") == "file"]
    relayed = sum(r[2] for op in files for r in op["rows"])
    dead = sum(op["items"] for op in files) - relayed
    out["cdc.relayed"] = relayed
    out["cdc.dead_letters"] = dead
    out["cdc.relayed_frac"] = relayed / (relayed + dead) if relayed + dead else 0.0

    late = [(p[2] - p[1]) / 1000.0 for p in m.get("published", [])]
    out["live.gen_late_s_max"] = max(late) if late else 0.0
    out["live.backlog_files_end"] = backlog_files(m) if "gen_end_ms" in m else 0

    setups = raw["setup"]
    for k in ("session_s", "inputs_s"):
        out["setup." + k] = statistics.median(s[k] for s in setups)
    out["setup.warmup_s"] = raw["warmup_s"]
    out["setup.jvm_s"] = setup_seconds(raw, launched_ms)[0]

    base, traced = items_per_s(t["baseline"]), items_per_s(m)
    out["trace.overhead_frac"] = base / traced - 1.0 if base and traced else 0.0
    out["trace.spans"] = len(spans)
    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        out["self.%s_s" % layer] = selfs.get(layer, 0.0)
    return out


# Span layers whose self time is reported.
SELF_LAYERS = ("query", "memo", "relay", "cdc", "stream", "sched")


def backlog_files(m):
    """Files published more than one trigger interval before the generator
    stopped whose epoch had not completed when it stopped: zero while the
    relay keeps up with the offered rate. A file with no relayed rows
    shows no completion and is not counted."""
    end = m["gen_end_ms"]
    published = {str(int(p[0])): p[2] for p in m["published"]}
    ends = m["epoch_ends"]
    pending = 0
    for op in timed_ops(m):
        if op["rows"] and published.get(op["file"], end) <= end - m["trigger_ms"]:
            if max(ends[str(int(r[0]))] for r in op["rows"]) > end:
                pending += 1
    return pending
