"""Self-tests of the benchmark's own checks and arithmetic.

    python3 perfbench/run.py --selftest

1. The window check flags every kind of wrong output: a missing window, a
   duplicated one, a wrong count and an emitted window nobody expected.
2. Busy time is the union of job intervals: overlapping jobs never make the
   driver gap negative (the sum of their walls would).
3. The flagship generator, sampled from the JVM for two seeds, agrees with an
   independent recount of its own frames under the FIXTURES.md section 1
   policy: malformed frames of all four kinds are never counted, every late
   frame reuses a uid already counted in its window (so dropping it or not
   gives the same count), the sentinel closes every window, and the recorded
   closable time is the due time of the first frame with
   ts >= window end + watermark.
"""
import sys

sys.dont_write_bytecode = True

import json
import os
import random
import subprocess
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402


def sink_rows(counts):
    return [(str(w), json.dumps({"windowStart": w, "uniqueUsers": c}), float(i), 1)
            for i, (w, c) in enumerate(sorted(counts.items()))]


def test_check_windows(seed):
    rnd = random.Random(seed)
    expected = {1468244340 + 60 * i: rnd.randint(1, 500) for i in range(rnd.randint(20, 40))}
    attempted, failed, _, first = metrics.check_windows(expected, sink_rows(expected))
    assert (attempted, failed) == (len(expected), 0), (attempted, failed)
    assert set(first) == set(expected)

    ws = rnd.sample(sorted(expected), 3)
    rows = sink_rows(expected)
    rows = [r for r in rows if r[0] != str(ws[0])]                      # missing
    rows += [r for r in rows if r[0] == str(ws[1])]                     # duplicated
    rows = [(k, json.dumps({"windowStart": int(k), "uniqueUsers": expected[int(k)] + 1}), t, e)
            if k == str(ws[2]) else (k, v, t, e) for k, v, t, e in rows]  # wrong count
    rows.append(("0", json.dumps({"windowStart": 0, "uniqueUsers": 3}), 99.0, 2))  # epoch-0 window
    attempted, failed, problems, _ = metrics.check_windows(expected, rows)
    assert attempted == len(expected) + 1 and failed == 4, (attempted, failed, problems)


def test_union():
    jobs = [(0.0, 10.0), (2.0, 12.0), (4.0, 14.0), (20.0, 25.0), (30.0, None)]
    assert metrics.union_length(jobs) == 19.0
    assert metrics.union_length(jobs, 5.0, 22.0) == 11.0
    # overlapping jobs in a 25 ms query: the summed walls (35 ms) exceed the
    # wall, a union never does
    layer = metrics.exec_layer({}, {"q"}, [[i, s, e, "q"] for i, (s, e) in enumerate(jobs[:4])],
                               [("q", 0.0, 25.0)], 1)
    assert abs(layer["exec.driver_gap_s"] - 0.006) < 1e-12, layer["exec.driver_gap_s"]
    assert metrics.quantile([1, 2, 3, 4], 0.5) == 2.5 and metrics.quantile([], 0.9) == 0.0


def test_library_best_pass():
    # a query's wall is its best pass; a query that threw and one the
    # oracle rejected both count as failed
    raw = {"walls_ms": {"a": [300.0, 100.0], "b": [400.0, 500.0]}, "passes": 2,
           "errors": {"b": "boom"}, "tasks": {"a": {"records_read": 1000}, "b": {"records_read": 200}},
           "setup_end_ms": 5000.0, "jvm_start_ms": 1000.0, "spans": [], "jobs": [], "planning": [],
           "measure_start_ms": 5000.0, "measure_end_ms": 6300.0, "heap_peak_mb": 0.0, "processes_spawned": 8}
    attempted, failed, _, e2e, layer = metrics.library(raw, ["a", "b"], {"a": "rows differ"})
    assert (attempted, failed) == (2, 2), (attempted, failed)
    assert e2e["batch_total_s"] == 0.5 and layer["q.b.wall_s"] == 0.4, (e2e, layer["q.b.wall_s"])
    assert e2e["stream_eps"] == 1200.0, e2e["stream_eps"]  # 600 records a pass in 0.5 s
    assert layer["os.processes_spawned"] == 4.0 and e2e["setup_s"] == 4.0


def recount(sample):
    """Distinct uids per window from the frames alone, the way a correct
    pipeline must count them; also checks late-frame reuse and closability."""
    counted, late, max_ts, closable = {}, 0, None, {}
    kinds = [0, 0, 0, 0]
    for value, due in sample["frames"]:
        try:
            f = json.loads(value)
        except ValueError:
            kinds[0] += 1
            continue
        ts, uid = f.get("ts"), f.get("uid")
        if not isinstance(ts, int):
            kinds[3] += 1
            continue
        if uid is None or uid == "":
            kinds[1 if uid is None else 2] += 1
            continue
        w = ts // 60 * 60
        if max_ts is not None and w < max_ts // 60 * 60:
            late += 1
            assert uid in counted.get(w, ()), f"late frame {value} does not reuse a counted uid"
            continue
        counted.setdefault(w, set()).add(uid)
        if max_ts is None or ts > max_ts:
            max_ts = ts
            for cw in counted:
                if cw + 120 <= ts:
                    closable.setdefault(cw, due)
    return {w: len(u) for w, u in counted.items()}, late, kinds, closable


def test_generator(seed, classes):
    with tempfile.TemporaryDirectory(dir=build.build_dir()) as tmp:
        out = os.path.join(tmp, "gen.json")
        subprocess.run(["java", "-cp", classes + os.pathsep + build.classpath(), "perfbench.GenDump",
                        str(seed), out], check=True, timeout=120)
        with open(out) as f:
            dump = json.load(f)
    for shape, sample in dump.items():
        counts, late, kinds, closable = recount(sample)
        sentinel = int(sample["sentinel_window"])
        assert counts.pop(sentinel) == 1, shape
        expected = {int(w): c for w, c in sample["expected"].items()}
        assert counts == expected, f"{shape}: recount differs from the generator's expected counts"
        assert kinds == sample["malformed_by_kind"] and min(kinds) > 0, (shape, kinds)
        assert late == sample["late"] and (late > 0) == (shape == "steady"), (shape, late)
        recorded = {int(w): t for w, t in sample["closable"].items()}
        assert all(recorded[w] == closable[w] for w in expected), f"{shape}: closable times differ"
        assert set(expected) <= set(recorded), f"{shape}: the sentinel left a window open"


def main():
    for seed in (1, 2, 3):
        test_check_windows(seed)
    test_union()
    test_library_best_pass()
    classes, _ = build.build()
    for seed in (1, 7):
        test_generator(seed, classes)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
