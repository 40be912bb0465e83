"""Statistics of the benchmark: turns one run's raw record (written by the
JVM side, `graftbench.Main`) into its end-to-end and per-layer metrics.

An *op* is the workload's unit of work: one five-pipeline sync cycle
(daily_sync) or one day-batch ingested into both corpus stores
(corpus_ingest). Each op makes several engine *calls* (pipeline syncs or
store ingests); failures are counted per call, because the engine reports a
failed sync or ingest as a normal return value carrying an error.
"""

import math

# Layer spans that each get a `<name>_s` and a `<name>_jobs` metric.
SPAN_LAYERS = ("etl.plan", "cube.aggregate", "sinks.existing_keys", "sinks.merge",
               "sinks.flags_merge", "dedup.snapshot", "dedup.ingest", "similarity.snapshot",
               "similarity.ingest")
# `SignatureStore.ingest`'s onStage labels, slugged.
DEDUP_STAGES = ["shingle_pass", "batch_index_bands", "bucket_audit_submit", "store_join",
                "bucket_audit_await", "survivor_lsh_components", "flags", "appends"]


def median(xs):
    xs = sorted(xs)
    if not xs:
        return math.nan
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(xs, p):
    """The p-th percentile (0-100), interpolating between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile above the median that leaves at least
    `min_beyond` of `n` samples beyond it, or None when there is none."""
    if n <= 0:
        return None
    p = math.floor(100 - 100 * min_beyond / n)
    return p if p > 50 else None


def failed_frac(ops):
    """(failed calls, attempted calls, failed / attempted)."""
    attempted = sum(op["calls"] for op in ops)
    failed = sum(op["failed"] for op in ops)
    return failed, attempted, (failed / attempted if attempted else math.nan)


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_s"], span["end_s"]
    return (e - s) - covered([(max(c["start_s"], s), min(c["end_s"], e))
                              for c in children if c["end_s"] > s and c["start_s"] < e])


def children_of(spans):
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    return kids


def check_accounting(rec, tolerance_s=0.005):
    """Problems with how a traced run's spans account for its ops' wall
    time: every child inside its parent, and per op the layer spans plus
    the ops layer's self time equal to the measured op wall time."""
    problems = []
    spans = rec["spans"]
    by_id = {sp["id"]: sp for sp in spans}
    kids = children_of(spans)
    for sp in spans:
        parent = by_id.get(sp["parent"])
        if parent and (sp["start_s"] < parent["start_s"] - tolerance_s
                       or sp["end_s"] > parent["end_s"] + tolerance_s):
            problems.append(f"span {sp['name']}#{sp['id']} lies outside its parent")
    for op in rec["ops"]:
        if not op["traced"]:
            continue
        roots = [sp for sp in spans if sp["op"] == op["id"] and sp["parent"] == 0]
        if len(roots) != 1:
            problems.append(f"op {op['id']} has {len(roots)} root spans")
            continue
        layers = op_layer_time(roots[0], kids)
        own = ops_self(roots[0], kids)
        if abs(layers + own - op["wall_s"]) > tolerance_s + 0.01 * op["wall_s"]:
            problems.append(f"op {op['id']}: layers {layers:.3f} s + ops self {own:.3f} s "
                            f"!= wall {op['wall_s']:.3f} s")
    return problems


def check_same_work(rec, tolerance=0):
    """Problems with the Spark work of a traced run's ops. Every op of a run
    does the same work, and a traced op makes the engine's calls through the
    benchmark's span-wrapped copy of the engine's sequence, so the ops after
    the first must submit the same number of jobs, give or take
    `tolerance`; a copy that has drifted from the engine shows up as a
    different count. (The first op of a process submits a few more: the
    engine fills some caches on first use.)"""
    counts = {op["id"]: op["jobs"] for op in rec["ops"][1:] if "jobs" in op}
    if counts and max(counts.values()) - min(counts.values()) > tolerance:
        return ["ops submitted different numbers of Spark jobs: " +
                " ".join(f"{i}={n}" for i, n in sorted(counts.items()))]
    return []


def ops_self(root, kids):
    """Self time of the ops layer: summed over the op's `ops.*` spans."""
    total = 0.0
    stack = [root]
    while stack:
        sp = stack.pop()
        if sp["name"].startswith("ops."):
            total += self_time(sp, kids.get(sp["id"], []))
            stack.extend(kids.get(sp["id"], []))
    return total


def op_layer_time(root, kids):
    """Time of the op spent in layer spans directly under its `ops.*` spans."""
    total = 0.0
    stack = [root]
    while stack:
        sp = stack.pop()
        for c in kids.get(sp["id"], []):
            if c["name"].startswith("ops."):
                stack.append(c)
            else:
                total += c["end_s"] - c["start_s"]
    return total


def untraced(rec):
    return [op for op in rec["ops"] if not op["traced"]]


def setup_s(rec):
    """Process start to first timed op, with the repeated state set-ups
    counted once, at their median."""
    s = rec["setup"]
    return s["ready_s"] - sum(s["state_s"]) + median(s["state_s"])


def latencies(ops):
    """Latency samples: ops with a failed call are left out, so a sync that
    fails fast cannot read as a fast sync."""
    return [op["wall_s"] for op in ops if not op["failed"]]


def e2e_metrics(rec):
    """The gated end-to-end metrics: name -> (value, unit, samples).
    Throughput counts only the items of successful calls, over the wall
    time of every op."""
    ops = untraced(rec)
    failed, attempted, frac = failed_frac(ops)
    wall = sum(op["wall_s"] for op in ops)
    lat = latencies(ops)
    return {
        "setup_s": (setup_s(rec), "s", len(rec["setup"]["state_s"])),
        "op_p50_s": (median(lat), "s", len(lat)),
        "items_per_s": (sum(op["items"] for op in ops) / wall if wall else math.nan,
                        "1/s", len(ops)),
        "success_frac": (1 - frac, "ratio", attempted),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB", 1),
    }


def named_metrics(rec, workload):
    """The workload's own end-to-end metrics under their descriptive names:
    name -> (value, unit, samples)."""
    ops = untraced(rec)
    e2e = e2e_metrics(rec)
    failed, attempted, frac = failed_frac(ops)
    out = {"setup_s": e2e["setup_s"], "failed_frac": (frac, "ratio", attempted),
           "rss_peak_mb": e2e["rss_peak_mb"]}
    if workload == "daily_sync":
        out["sync_cycle_s"] = e2e["op_p50_s"]
        out["sync_rows_per_s"] = e2e["items_per_s"]
    else:
        for kind in ("text", "emb"):
            xs = [op["detail"][f"{kind}_s"] for op in ops if not op["detail"][f"{kind}_failed"]]
            out[f"ingest_{kind}_s"] = (median(xs), "s", len(xs))
        out["ingest_docs_per_s"] = e2e["items_per_s"]
    lat = latencies(ops)
    tail = tail_percentile(len(lat))
    if tail is not None:
        out[f"op_p{tail}_s"] = (percentile(lat, tail), "s", len(lat))
    return out


def _per_op(rec, fn):
    """fn(op, spans of that op, kids) of the run's first op, the op an
    untraced run times; 0 when it was not traced."""
    first = rec["ops"][0] if rec["ops"] else None
    if not first or not first["traced"]:
        return 0.0
    spans = [sp for sp in rec["spans"] if sp["op"] == first["id"]]
    return fn(first, spans, children_of(rec["spans"]))


def _sum(spans, name, field=None):
    sel = [sp for sp in spans if sp["name"] == name]
    if field is None:
        return sum(sp["end_s"] - sp["start_s"] for sp in sel)
    return sum(sp["counters"].get(field, 0) for sp in sel)


def _slot_util(spans, name, cpus):
    busy = _sum(spans, name, "run_ms") / 1e3
    wall = _sum(spans, name)
    return busy / (wall * cpus) if wall > 0 else 0.0


def _detail(op, key):
    v = op.get("detail", {}).get(key) if isinstance(op.get("detail"), dict) else None
    return v if isinstance(v, (int, float)) and not isinstance(v, bool) else 0


def layer_metrics(rec):
    """Per-layer metrics of a traced run: name -> (value, unit). They
    describe the run's first op; layers the workload does not call read 0.
    The tracing overhead compares the traced and untraced ops after it."""
    cpus = rec["posture"]["nproc"]
    m = {}
    for name in SPAN_LAYERS:
        m[f"{name}_s"] = (_per_op(rec, lambda op, sp, k, n=name: _sum(sp, n)), "s")
        m[f"{name}_jobs"] = (_per_op(rec, lambda op, sp, k, n=name: _sum(sp, n, "jobs")),
                             "count")
    for prefix in ("cube.aggregate", "dedup.ingest", "similarity.ingest"):
        layer = prefix.split(".")[0]
        m[f"{layer}.shuffle_write_bytes"] = (_per_op(
            rec, lambda op, sp, k, n=prefix: _sum(sp, n, "shuffle_write_bytes")), "bytes")
        m[f"{layer}.slot_util"] = (_per_op(
            rec, lambda op, sp, k, n=prefix: _slot_util(sp, n, cpus)), "ratio")
    m["cube.scan_bytes"] = (_per_op(rec, lambda op, sp, k: _sum(sp, "cube.aggregate",
                                                               "input_bytes")), "bytes")

    def bytes_per_row(op, sp, k):
        rows = _sum(sp, "sinks.merge", "output_rows")
        return _sum(sp, "sinks.merge", "output_bytes") / rows if rows else 0.0
    m["sinks.output_bytes_per_row"] = (_per_op(rec, bytes_per_row), "bytes/row")
    m["sinks.files_written"] = (_per_op(rec, lambda op, sp, k: op.get("files_written", 0)),
                                "count")
    for st in DEDUP_STAGES:
        m[f"dedup.stage.{st}_s"] = (_per_op(
            rec, lambda op, sp, k, n=f"dedup.stage.{st}": _sum(sp, n)), "s")
    for key, unit in (("dedup_max_bucket", "count"), ("dedup_occupied_buckets", "count"),
                      ("similarity_max_bucket", "count"),
                      ("similarity_capped_rows", "count")):
        layer, name = key.split("_", 1)
        m[f"{layer}.{name}"] = (_per_op(rec, lambda op, sp, k, key=key: _detail(op, key)), unit)

    def ratio(kind):
        def f(op, sp, k):
            rows = _detail(op, f"{kind}_rows")
            return _detail(op, f"{kind}_dups") / rows if rows else 0.0
        return f
    m["dedup.dup_ratio"] = (_per_op(rec, ratio("text")), "ratio")
    m["similarity.dup_ratio"] = (_per_op(rec, ratio("emb")), "ratio")

    def root_of(sp):
        return [s for s in sp if s["parent"] == 0]
    m["ops.self_s"] = (_per_op(rec, lambda op, sp, k: sum(ops_self(r, k) for r in root_of(sp))),
                       "s")
    m["ops.jobs"] = (_per_op(rec, lambda op, sp, k: sum(s["counters"].get("jobs", 0)
                                                        for s in sp)), "count")
    m["spark.spill_bytes"] = (_per_op(rec, lambda op, sp, k: sum(
        s["counters"].get("spill_bytes", 0) for s in sp)), "bytes")
    m["spark.gc_s"] = (_per_op(rec, lambda op, sp, k: op["gc_s"]), "s")
    m["setup.session_s"] = (rec["session_s"], "s")
    m["setup.state_s"] = (median(rec["setup"]["state_s"]), "s")
    m["setup.register_s"] = (rec["setup"].get("register_s", 0.0), "s")
    later = rec["ops"][1:]
    traced = [op["wall_s"] for op in later if op["traced"]]
    plain = [op["wall_s"] for op in later if not op["traced"]]
    m["trace.overhead_s"] = (median(traced) - median(plain) if traced and plain else 0.0, "s")
    return m
