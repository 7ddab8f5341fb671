"""Pure functions that turn a harness raw record into checks and metrics.

Kept free of I/O so perfbench/selftest.py can exercise them on small
hand-made and seeded inputs.
"""
import json
import math
from datetime import datetime, timezone


def quantile(xs, p):
    """Linear-interpolated quantile (0 <= p <= 1); 0.0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals, clipped to [lo, hi].

    Busy time is the union, not the sum: jobs that overlap in time count
    once, so the idle remainder (the driver gap) can never be negative."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e is not None)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def check_windows(expected, sink):
    """Compares the emitted (key, value) records with the generator's exact
    per-window counts. Each expected window must be emitted exactly once
    with its exact count; an emitted window that was never expected is a
    failure too. Returns (attempted, failed, problems, first_emit_ms)."""
    emits = {}
    for key, value, t, _epoch in sink:
        emits.setdefault(key, []).append((value, t))
    problems = []
    first = {}
    for w, count in expected.items():
        got = emits.get(str(w), [])
        if not got:
            problems.append(f"window {w}: missing")
            continue
        first[w] = min(t for _, t in got)
        if len(got) > 1:
            problems.append(f"window {w}: emitted {len(got)} times")
            continue
        try:
            v = json.loads(got[0][0])
            ok = v["windowStart"] == int(w) and v["uniqueUsers"] == count
        except (ValueError, KeyError, TypeError):
            ok = False
        if not ok:
            problems.append(f"window {w}: got {got[0][0]}, expected {count} users")
    extra = sorted(set(emits) - {str(w) for w in expected})
    problems += [f"window {k}: emitted but not expected" for k in extra]
    return len(expected) + len(extra), len(problems), problems, first


def trace_spans(raw):
    """Every span of a traced run: the harness's own (generator offers,
    timed queries, layer timings), each micro-batch from its progress
    timestamps, each sink partition write, and each planning phase."""
    spans = list(raw["spans"])
    if "progress" in raw:
        spans += [[f"batch.{b['id']}", b["start"], b["end"], "stream"] for b in batches(raw)]
        spans += [["sink.write", s, e, f"batch.{ep}"] for ep, s, e in raw["sink_writes"]]
    spans += [["plan", s, e, "query"] for s, e, _ms in raw["planning"]]
    return sorted(spans, key=lambda x: x[1])


def _epoch_ms(ts):
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp() * 1000.0


def batches(raw):
    """Micro-batches from the StreamingQueryProgress records, on the run clock."""
    out = []
    for p in raw["progress"]:
        start = _epoch_ms(p["timestamp"]) - raw["t0_epoch_ms"]
        dur = float(p["durationMs"].get("triggerExecution", p["batchDuration"]))
        ops = p.get("stateOperators", [])
        out.append({
            "id": p["batchId"], "start": start, "dur": dur, "end": start + dur,
            "rows": p["numInputRows"], "phases": p["durationMs"],
            "state": {k: sum(o.get(k, 0) for o in ops) for k in (
                "numRowsTotal", "memoryUsedBytes", "commitTimeMs", "allUpdatesTimeMs",
                "allRemovalsTimeMs", "numRowsDroppedByWatermark", "numStateStoreInstances")},
        })
    return sorted(out, key=lambda b: b["id"])


WARM_BATCHES = 3
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


def exec_layer(totals, tags, jobs, gap_spans, per):
    """exec.* metrics over the tasks and jobs of `tags`, divided by `per`.
    The driver gap is each span's length minus the union of its jobs."""
    t = {k: sum(totals.get(tag, {}).get(k, 0) for tag in tags) for k in (
        "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    gap = 0.0
    for tag, lo, hi in gap_spans:
        busy = union_length([(s, e) for _, s, e, jt in jobs if jt == tag], lo, hi)
        gap += (hi - lo) - busy
    return {
        "exec.tasks": t["tasks"] / per,
        "exec.jobs": sum(1 for j in jobs if j[3] in tags) / per,
        "exec.run_s": t["run_ms"] / 1000.0 / per,
        "exec.cpu_s": t["cpu_ns"] / 1e9 / per,
        "exec.gc_s": t["gc_ms"] / 1000.0 / per,
        "exec.shuffle_read_bytes": t["shuffle_read_bytes"] / per,
        "exec.shuffle_write_bytes": t["shuffle_write_bytes"] / per,
        "exec.spill_bytes": t["spill_bytes"] / per,
        "exec.driver_gap_s": gap / 1000.0 / per,
    }


def flagship(raw):
    """Returns (attempted, failed, problems, end_to_end, per_layer)."""
    m0, m_end = raw["measure_start_ms"], raw["measure_end_ms"]
    expected = {int(w): c for w, c in raw["expected"].items()}
    attempted, failed, problems, first = check_windows(expected, raw["sink"])

    # every micro-batch after the warm-up one: the measured span plus the
    # drain that emits the windows the sentinel closed
    meas = [b for b in batches(raw) if b["id"] >= 1]
    # batch durations settle only from the third batch on (JIT, state
    # store caches); the steady per-batch cost is taken from there
    steady = [b["dur"] for b in meas if b["id"] >= WARM_BATCHES] or [b["dur"] for b in meas]
    data = [b for b in meas if b["rows"] > 0]
    eps = sum(b["rows"] for b in data) / ((data[-1]["end"] - m0) / 1000.0) if data else 0.0

    closable = {int(w): t for w, t in raw["closable_ms"].items()}
    lat = [first[w] - closable[w] for w in expected if w in first and w in closable
           and m0 <= closable[w] <= m_end]
    e2e = {
        "stream_eps": eps,
        "emit_latency_p50_ms": quantile(lat, 0.5),
        "emit_latency_p90_ms": quantile(lat, 0.9),
        "batch_total_s": union_length([(b["start"], b["end"]) for b in meas], m0) / 1000.0,
        "batch_geomean_s": geomean(steady) / 1000.0,
        "setup_s": (raw["setup_end_ms"] - raw["jvm_start_ms"]) / 1000.0,
    }

    trig = [b["dur"] for b in meas]
    layer = {
        "jvm.live_heap_mb": raw["heap_peak_mb"],
        "streaming.batches": len(meas),
        "streaming.nodata_batch_share": sum(1 for b in meas if b["rows"] == 0) / len(meas) if meas else 0.0,
        "streaming.trigger_ms_p50": quantile(trig, 0.5),
        "streaming.trigger_ms_p90": quantile(trig, 0.9),
        "streaming.rows_per_batch_p50": quantile([b["rows"] for b in meas], 0.5),
    }
    for ph in PHASES:
        layer[f"streaming.{ph}_ms_p50"] = quantile([b["phases"].get(ph, 0) for b in meas], 0.5)
    p50 = layer["streaming.trigger_ms_p50"]
    layer["streaming.phases_over_trigger"] = (
        sum(layer[f"streaming.{ph}_ms_p50"] for ph in PHASES) / p50 if p50 else 0.0)
    st = lambda k: [b["state"][k] for b in meas]
    layer.update({
        "state.instances": max(st("numStateStoreInstances"), default=0),
        "state.commit_ms_p50": quantile(st("commitTimeMs"), 0.5),
        "state.updates_ms_p50": quantile(st("allUpdatesTimeMs"), 0.5),
        "state.removals_ms_p50": quantile(st("allRemovalsTimeMs"), 0.5),
        "state.rows_total_peak": max(st("numRowsTotal"), default=0),
        "state.memory_bytes_peak": max(st("memoryUsedBytes"), default=0),
        "state.rows_dropped_late": sum(st("numRowsDroppedByWatermark")),
        "LogFrames.parse_valid_s": raw.get("parse_valid_s", 0.0),
        "UniqueUsersStream.uniquePerWindow_s": raw.get("unique_per_window_s", 0.0),
        "source.backlog_events_end": raw["backlog_events_end"],
        "source.gen_late_ms_p90": quantile(raw["gen_late_ms"], 0.9),
        "sink.rows_out": len(raw["sink"]),
        "sink.write_ms_p50": quantile(list(raw["sink_busy_ms"].values()), 0.5),
    })
    jobs = raw["jobs"]
    layer.update(exec_layer(raw["tasks"], {"stream"}, jobs, [("stream", m0, raw["drain_end_ms"])], 1))
    layer["os.processes_spawned"] = raw["processes_spawned"]
    return attempted, failed, problems, e2e, layer


def library(raw, names, oracle_fail):
    """Returns (attempted, failed, problems, end_to_end, per_layer).
    `oracle_fail` maps a query name to why its output did not match."""
    walls = raw["walls_ms"]
    passes = raw["passes"]
    # a query's wall is its best pass: the first timed pass still runs
    # partly cold, and a pass hit by a burst of host load is discarded
    best = {n: min(walls[n]) for n in names}
    problems = [f"{n}: threw {e}" for n, e in raw["errors"].items()]
    problems += [f"{n}: oracle {why}" for n, why in oracle_fail.items() if n not in raw["errors"]]
    failed = len(set(raw["errors"]) | set(oracle_fail))
    records = sum(raw["tasks"].get(n, {}).get("records_read", 0) for n in names)
    e2e = {
        "stream_eps": records / passes / (sum(best.values()) / 1000.0),
        "emit_latency_p50_ms": quantile(list(best.values()), 0.5),
        "emit_latency_p90_ms": quantile(list(best.values()), 0.9),
        "batch_total_s": sum(best.values()) / 1000.0,
        "batch_geomean_s": geomean(list(best.values())) / 1000.0,
        "setup_s": (raw["setup_end_ms"] - raw["jvm_start_ms"]) / 1000.0,
    }
    spans = [(s[0][2:], s[1], s[2]) for s in raw["spans"] if s[0].startswith("q.")]
    m0, m_end = raw["measure_start_ms"], raw["measure_end_ms"]
    layer = exec_layer(raw["tasks"], set(names), raw["jobs"], spans, passes)
    layer["jvm.live_heap_mb"] = raw["heap_peak_mb"]
    layer["os.processes_spawned"] = raw["processes_spawned"] / passes
    layer["plan.planning_ms"] = sum(ms for s, _e, ms in raw["planning"] if m0 <= s <= m_end) / passes
    for n in names:
        layer[f"q.{n}.wall_s"] = best[n] / 1000.0
        layer[f"q.{n}.exec_run_s"] = raw["tasks"].get(n, {}).get("run_ms", 0) / 1000.0 / passes
    return len(names), failed, problems, e2e, layer
