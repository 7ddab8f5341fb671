#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (cached, see build.py),
runs the workload in one JVM, checks every output, and prints as its last
line one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer
metrics with `--trace 1`. The line before it is the run's identification
record. See perfbench/README.md for the protocol.

    python3 perfbench/run.py --selftest    runs perfbench/selftest.py
"""
import sys

sys.dont_write_bytecode = True

import argparse
import contextlib
import io
import json
import os
import signal
import subprocess
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
DATA = os.path.join(HERE, "testdata", "sf0.01")
WORKLOADS = ("flagship_steady", "flagship_saturate", "library_families")
# per-layer metrics of the layers a workload does not run; they read 0 there
NOT_RUN = {
    "library_families": ("streaming.", "state.", "LogFrames.", "UniqueUsersStream.", "source.", "sink."),
    "flagship": ("plan.", "q."),
}
JVM_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    """JVM heap from MemTotal: half of it, clamped to 2..8 GB (the
    same rule as the repo's Tier-1 test command)."""
    return min(8, max(2, mem_total_kb() // 2097152))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def library_names(s):
    return sorted(m["name"][2:-len(".wall_s")] for m in s["per_layer"]
                  if m["name"].startswith("q.") and m["name"].endswith(".wall_s"))


def oracle_failures(oracle_dir):
    """Runs tools/check_oracle.py's DuckDB comparison over the untimed pass's
    outputs; returns {query: reason} for every query that did not pass."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(DATA, oracle_dir)
    fails = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            name = line[5:].split(":", 1)[0].split(".", 1)[0]
            fails.setdefault(name, line[5:])
    return fails


def new_run_dir(stem):
    """A fresh directory for the run's checkpoint, logs and outputs. Earlier
    runs' directories are left in place: deleting the ~10,000 small state
    files of a flagship run takes tens of seconds once the kernel has
    written them back, which would count against the run."""
    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    return tempfile.mkdtemp(prefix=stem + "-", dir=runs)


def run_jvm(classes, args, out, names, budget_s):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for o in JVM_OPENS for x in ("--add-opens", o)] + [
        f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
        "-cp", classes + os.pathsep + build.classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out, "--data", DATA, "--queries", ",".join(names)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # flush what earlier runs left for the kernel to write back, so that
    # this run does not pay for it, and flush this run's own files after it
    os.sync()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        # subprocess.run kills and reaps the JVM if it overruns its budget
        proc = subprocess.run(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=budget_s)
    t = time.time()
    os.sync()
    sync_s = time.time() - t
    if proc.returncode != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}\n{tail}")
    with open(os.path.join(out, "raw.json")) as f:
        return json.load(f), sync_s


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="measured span (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        return selftest.main()
    if not args.workload:
        ap.error("--workload is required")
    # a run stopped from outside still stops and reaps its JVM:
    # subprocess.run kills and waits for its child when SystemExit passes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.time()
    load_start = loadavg()
    s = spec()
    args.seconds = args.seconds or s["run_seconds"]
    classes, source_digest = build.build()
    names = library_names(s) if args.workload == "library_families" else []
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = new_run_dir(stem)
    budget = DEADLINE_S - (time.time() - t_start) - (15 if names else 0)
    raw, sync_s = run_jvm(classes, args, out, names, budget)

    if args.workload == "library_families":
        attempted, failed, problems, e2e, layer = metrics.library(raw, names, oracle_failures(raw["oracle_dir"]))
    else:
        attempted, failed, problems, e2e, layer = metrics.flagship(raw)
    kind = "library_families" if args.workload == "library_families" else "flagship"
    for m in s["per_layer"]:
        if m["name"].startswith(NOT_RUN[kind]):
            layer.setdefault(m["name"], 0.0)
    layer["failed_ops_ratio"] = failed / attempted
    layer["trace.spans"] = len(raw["spans"])
    layer["trace.stream_eps"] = e2e["stream_eps"]
    layer["trace.batch_total_s"] = e2e["batch_total_s"]

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "commit": git_commit(), "source_digest": source_digest,
        "nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(), "heap": f"{heap_gb()}g",
        "jvm": raw["env"], "loadavg_start": load_start, "loadavg_end": loadavg(), "sync_after_s": sync_s,
        "problems": problems[:50],
    }
    # an open-loop generator that fell behind its schedule offered less
    # load than the workload states, so the run's latencies are suspect
    if args.workload == "flagship_steady" and layer["source.gen_late_ms_p90"] > 10.0:
        record["suspect"] = f"generator p90 lateness {layer['source.gen_late_ms_p90']:.1f} ms"
    os.makedirs(os.path.join(build.build_dir(), "records"), exist_ok=True)
    with open(os.path.join(build.build_dir(), "records", stem + ".json"), "w") as f:
        json.dump(dict(record, end_to_end=e2e, per_layer=layer), f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(build.build_dir(), "traces"), exist_ok=True)
        with open(os.path.join(build.build_dir(), "traces", stem + ".json"), "w") as f:
            json.dump({"columns": ["name", "start_ms", "end_ms", "parent"], "spans": metrics.trace_spans(raw),
                       "jobs": raw["jobs"]}, f)

    wanted = s["per_layer"] if args.trace else s["end_to_end"]
    values = layer if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    for p in problems:
        print("problem:", p)
    print("run_record", json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
