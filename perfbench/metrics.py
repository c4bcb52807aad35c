"""Reduce one run's raw timeline (written by ``perfbench.Main``) to metrics.

Times in the timeline are epoch milliseconds; every metric is reported in
the unit given beside it. The arithmetic helpers are pure functions of
their arguments so the tests can feed them hand-built timelines.
"""

import statistics

from layers import LAYERS, layer_of_call_site

LAYER_COUNTERS = ("wall_s", "self_s", "calls", "jobs", "tasks", "task_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "output_bytes")

# name -> unit of the end-to-end metrics that are printed but not gated;
# BENCHMARK.json gives the units of the gated ones
PRINTED_ONLY = {
    "op_tail_s": "s",
    "failed_ratio": "1",
    "op_growth": "1",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(values, beyond=10):
    """The highest whole percentile p with at least `beyond` values above it.

    Returns (p, value at p, values above it) using the nearest-rank
    definition, or None when there are too few values for any such p."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = -(-p * n // 100)  # ceil(p * n / 100), nearest rank, 1-based
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1], n - rank
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), optionally
    clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(interval, children):
    """The pieces of `interval` no child interval covers: a span's self time
    is their total, its duration minus what its children cover."""
    s, e = interval
    pieces, cur = [], s
    for cs, ce in sorted(children):
        if ce <= cur or cs >= e:
            continue
        if cs > cur:
            pieces.append((cur, cs))
        cur = max(cur, ce)
    if cur < e:
        pieces.append((cur, e))
    return pieces


def op_growth(durations):
    """Median op time over the last quarter of ops over that of the first."""
    if not durations:
        return 0.0
    q = max(1, len(durations) // 4)
    first = median(durations[:q])
    return median(durations[-q:]) / first if first > 0 else 0.0


def job_gap(ops, jobs):
    """Op time not covered by any Spark job: Σ over ops of the op interval
    minus the part of it the job intervals cover (same unit as the input)."""
    return sum((e - s) - union_length(jobs, s, e) for s, e in ops)


def _untraced(raw):
    return [p for p in raw["passes"] if not p["traced"]]


def _traced(raw):
    return [p for p in raw["passes"] if p["traced"]]


def _pass_wall_s(p):
    return (p["end_ms"] - p["start_ms"]) / 1e3


def _ops_of(raw, passes):
    ids = {p["pass"] for p in passes}
    return [o for o in raw["ops"] if o["pass"] in ids]


def setup_s(raw):
    """Process start to the start of the first timed pass: session bring-up,
    input generation and the untimed warm-up."""
    return (raw["timed_start_ms"] - raw["jvm_start_ms"]) / 1e3


def _sequences(ops, by_pass):
    """Durations of the ok ops per group (and per pass), in op order."""
    seqs = {}
    for o in ops:
        if o["ok"]:
            key = (o["pass"] if by_pass else 0, o.get("group", ""))
            seqs.setdefault(key, []).append(o["dur_s"])
    return list(seqs.values())


def growth_by_group(ops):
    """op_growth of each (pass, group) sequence of ops. A workload whose ops
    are of several kinds (two streams) groups them by kind, so growth
    compares like with like."""
    return [op_growth(d) for d in _sequences(ops, by_pass=True)]


def op_p50(ops):
    """Median op time; with several kinds of op, the median over kinds of
    each kind's median, so the result does not jump between the kinds."""
    return median([median(d) for d in _sequences(ops, by_pass=False)])


def failures(raw):
    """Failed ops plus failed checks of the run."""
    return sum(1 for o in raw["ops"] if not o["ok"]) + \
        sum(1 for c in raw["checks"] if not c["ok"])


def end_to_end(raw, failed):
    """{name: value} of every end-to-end metric, from the untraced passes;
    `failed` is the run's `failures`."""
    passes = _untraced(raw)
    ops = _ops_of(raw, passes)
    durs = [o["dur_s"] for o in ops if o["ok"]]
    tail = tail_percentile(durs)
    return {
        "setup_s": setup_s(raw),
        "run_s": median([_pass_wall_s(p) for p in passes]),
        "rows_per_s": median([p["rows"] / _pass_wall_s(p) for p in passes]),
        "op_p50_s": op_p50(ops),
        "op_tail_s": tail[1] if tail else None,
        "failed_ratio": failed / max(1, len(raw["ops"])),
        "write_amp": median([p["bytes_written"] / p["input_bytes"] for p in passes
                             if p["input_bytes"] > 0]),
        "state_bytes_per_row": raw["state_bytes"] / raw["live_rows"] if raw["live_rows"] else 0.0,
        "retained_heap_mb": raw["retained_heap_bytes"] / 2 ** 20,
        "op_growth": median(growth_by_group(ops)),
    }, tail


def per_layer(raw, files):
    """{name: value} of the per-layer counters over the traced passes.

    Each Spark job belongs to the layer of the innermost engine frame of its
    call site; a job whose call site holds no engine frame (an action the
    harness triggers on a lazily built plan) belongs to the layer of the
    span it ran under."""
    trace = raw["trace"]
    spans = {s["id"]: s for s in trace["spans"]}
    jobs = [j for j in trace["jobs"] if j["end_ms"] >= 0]
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for j in jobs:
        layer = layer_of_call_site(j["call_site"], files)
        if layer is None:
            layer = spans[j["span"]]["layer"] if j["span"] in spans else "session"
        j["layer"] = layer
        children.setdefault(j["span"], []).append((j["submit_ms"], j["end_ms"]))

    out = {}
    for layer in LAYERS:
        ls = [s for s in spans.values() if s["layer"] == layer]
        lj = [j for j in jobs if j["layer"] == layer]
        intervals = [(s["start_ms"], s["end_ms"]) for s in ls] + \
            [(j["submit_ms"], j["end_ms"]) for j in lj]
        # a layer's self time: the time one of its spans or jobs is open and
        # none of that node's children is (concurrent nodes count once)
        self_pieces = [piece for s in ls for piece in
                       uncovered((s["start_ms"], s["end_ms"]), children.get(s["id"], []))]
        self_pieces += [(j["submit_ms"], j["end_ms"]) for j in lj]
        vals = {
            "wall_s": union_length(intervals) / 1e3,
            "self_s": union_length(self_pieces) / 1e3,
            "calls": len(ls),
            "jobs": len(lj),
            "tasks": sum(j["tasks"] for j in lj),
            "task_s": sum(j["task_ms"] for j in lj) / 1e3,
            "gc_s": sum(j["gc_ms"] for j in lj) / 1e3,
            "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in lj),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in lj),
            "input_bytes": sum(j["input_bytes"] for j in lj),
            "output_bytes": sum(j["output_bytes"] for j in lj),
        }
        for k in LAYER_COUNTERS:
            out[f"{layer}.{k}"] = vals[k]

    c = raw["counters"]
    traced = _traced(raw)
    ops = [(o["start_ms"], o["start_ms"] + o["dur_s"] * 1e3) for o in _ops_of(raw, traced)]
    job_iv = [(j["submit_ms"], j["end_ms"]) for j in jobs]
    cg = raw["codegen"]
    out.update({
        "session.build_s": (raw["session_ready_ms"] - raw["session_start_ms"]) / 1e3,
        "session.job_p50_s": median([(j["end_ms"] - j["submit_ms"]) / 1e3 for j in jobs]),
        "session.job_gap_s": job_gap(ops, job_iv) / 1e3,
        "session.codegen_compiles": cg["traced_compiles"],
        "session.codegen_s": cg["traced_compile_ns"] / 1e9,
        "session.fetch_wait_s": sum(j["fetch_wait_ms"] for j in jobs) / 1e3,
        "session.failed_tasks": sum(j["failed_tasks"] for j in jobs),
    })
    rows_in, rows_out = c.get("update.rows_in", 0.0), c.get("update.rows_out", 0.0)
    out.update({
        "update.rows_in": rows_in,
        "update.rows_out": rows_out,
        "update.keep_ratio": rows_out / rows_in if rows_in else 0.0,
    })
    matched, modified = c.get("sinks.rows_matched", 0.0), c.get("sinks.rows_modified", 0.0)
    out.update({
        "sinks.rows_matched": matched,
        "sinks.rows_modified": modified,
        "sinks.rows_upserted": c.get("sinks.rows_upserted", 0.0),
        "sinks.modified_ratio": modified / matched if matched else 0.0,
        "sinks.commits": c.get("sinks.commits", 0.0),
        "sinks.files_written": c.get("sinks.files_written", 0.0),
        "sinks.state_bytes": raw["state_bytes"],
    })
    for k in ("batches", "latest_offset_s", "query_planning_s", "add_batch_s",
              "wal_commit_s", "commit_offsets_s", "floor_s"):
        out[f"streaming.{k}"] = c.get(f"streaming.{k}", 0.0)
    # the overhead compares traced passes with the untraced ones after them:
    # those are warmer, so the difference is an upper bound on the overhead
    first_traced = min((p["pass"] for p in traced), default=0)
    traced_run = median([_pass_wall_s(p) for p in traced])
    untraced_run = median([_pass_wall_s(p) for p in _untraced(raw) if p["pass"] > first_traced])
    out.update({
        "trace.run_s": traced_run,
        "trace.untraced_run_s": untraced_run,
        "trace.overhead_s": traced_run - untraced_run,
    })
    return out

