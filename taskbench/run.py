#!/usr/bin/env python3
"""Benchmark of the kapacitorspark engine: one workload, one fresh JVM.

    python3 taskbench/run.py --workload batch_tasks --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (see build.py), runs the
harness JVM (taskbench.Main) with a bounded wait over the sf0.1 `events`
table in data/ (batch_tasks) or line-protocol points drawn from the seed
(stream_ingest), checks every output, and prints one JSON object as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it is a stamp of the run (cores,
loadavg, JVM flags, seed, JVM counters). A harness that times out,
crashes or ends early still gets its result line, with "correct": false,
and the exit code is then 1. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
from stats import median, percentile  # noqa: E402

WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")  # the sf0.1 events table, see README.md
WORKLOADS = ("batch_tasks", "stream_ingest")
JVM_TIMEOUT_S = 150
INITIAL_HEAP_MB = 4096
# the --add-opens list build.sbt gives `run`
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# metric names and units, as declared in BENCHMARK.json
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    _spec = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _spec["per_layer"]}


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks():
    """(all, steal) ticks of /proc/stat: on a virtual machine, steal is the
    time the host gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def mem_mb(spec):
    """A JVM memory size ("8g", "4096m", "512k", bytes) in MB."""
    spec = spec.strip().lower()
    scale = {"g": 1024, "m": 1, "k": 1 / 1024}
    if spec[-1] in scale:
        return int(float(spec[:-1]) * scale[spec[-1]])
    return int(spec) // (1 << 20)


def jvm_flags():
    """The flags build.sbt gives `run`, plus a fixed initial heap of 4 GB,
    or the whole heap if that is smaller. Without it G1 grows the heap at
    moments that differ from run to run, and peak RSS, GC time and op
    latency spread with them (measured: peak RSS 4.1-5.2 GB over three
    stream runs from a 2g start, 5,699-5,706 MB from a 4g one)."""
    xmx_mb = mem_mb(os.environ.get("SPARK_DRIVER_MEM", "8g"))
    flags = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return flags + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{xmx_mb}m", "-XX:ReservedCodeCacheSize=1g",
        f"-Xms{min(INITIAL_HEAP_MB, xmx_mb)}m",
    ]


def run_jvm(classes, args, run_dir, log_path):
    """Run the harness; returns (records, exit code or None on timeout)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()), SPARK_LOCAL_DIRS=tmp)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", *jvm_flags(), f"-Djava.io.tmpdir={tmp}", "-cp", cp, "taskbench.Main", *args]
    records = []
    with open(log_path, "w") as log:
        # the set-up is timed from here
        cmd += ["--launched", repr(time.time())]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        deadline = time.monotonic() + JVM_TIMEOUT_S

        def on_alarm(*_):
            raise TimeoutError

        signal.signal(signal.SIGALRM, on_alarm)
        signal.setitimer(signal.ITIMER_REAL, JVM_TIMEOUT_S)
        code = None
        try:
            for line in proc.stdout:
                if line.startswith("TB "):
                    records.append(json.loads(line[3:]))
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except (TimeoutError, subprocess.TimeoutExpired):
            code = None
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return records, code


def _pct(xs, q):
    return percentile(xs, q) if xs else 0.0


def end_to_end(workload, recs, setup, measure):
    """The end-to-end metrics; those the records do not cover read 0."""
    m = {k: 0.0 for k in END_TO_END}
    if setup:
        m["setup_s"] = setup["setup_s"]
    if not measure:
        return m
    ops = [r for r in recs if r["kind"] == "op" and r["phase"] in ("timed", "trickle")]
    m["peak_rss_mb"] = measure["peak_rss_mb"]
    if workload == "stream_ingest":
        drains = [r for r in recs if r["kind"] == "op" and r["phase"] == "drain"]
        m["runs_per_s"] = len(ops) / measure["trickle_s"]
        m["run_ms_p50"] = _pct([o["ack_ms"] for o in ops], 50)
        m["run_ms_p90"] = _pct([o["ack_ms"] for o in ops], 90)
        m["write_ms_p50"] = _pct([o["ms"] for o in ops], 50)
        m["write_ms_p90"] = _pct([o["ms"] for o in ops], 90)
        # all drains together: a GC pause lands on one drain of the run, and
        # the total spreads it instead of letting it pick the median
        if drains:
            m["points_per_s"] = sum(d["points"] for d in drains) / (sum(d["ms"] for d in drains) / 1e3)
    else:
        m["runs_per_s"] = len(ops) / measure["window_s"]
        m["run_ms_p50"] = _pct([o["ms"] for o in ops], 50)
        m["run_ms_p90"] = _pct([o["ms"] for o in ops], 90)
        m["write_ms_p50"] = _pct([o["exec_ms"] for o in ops], 50)
        m["write_ms_p90"] = _pct([o["exec_ms"] for o in ops], 90)
        m["points_per_s"] = measure["input_rows_per_rotation"] * measure["rotations"] / measure["window_s"]
    return m


def warm_first_op_ms(workload, recs, setup):
    """Median time of the set-up's first op once warm: the same query in the
    measured window, or a trickle write."""
    ops = [r for r in recs if r["kind"] == "op"]
    if workload == "stream_ingest":
        xs = [o["ms"] for o in ops if o["phase"] == "trickle"]
    else:
        xs = [o["ms"] for o in ops if o["phase"] in ("timed", "traced")
              and o["query"] == setup.get("first_op")]
    return median(xs) if xs else 0.0


def per_layer(workload, recs, setup, measure, trace):
    """The per-layer metrics; those the records do not cover read 0."""
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in (trace or {}).items() if k in PER_LAYER})
    if measure:
        for k in ("jvm.gc_ms", "jvm.jit_ms", "jvm.cpu_s"):
            m[k] = measure[k]
    if setup:
        # everything the cold set-up costs beyond one warm op of its kind:
        # JVM start, session, class loading, first compiles
        m["jvm.warmup_s"] = setup["setup_s"] - warm_first_op_ms(workload, recs, setup) / 1e3
    return m


def summarise(workload, trace, recs, code, checked):
    """Fold the harness records, its exit code (None on timeout) and the
    oracle results into (result line, problems). A run the harness did not
    finish is incorrect and counts one failed op."""
    kinds = {}
    for r in recs:
        kinds.setdefault(r["kind"], []).append(r)
    ops = kinds.get("op", [])
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    problems = []
    if code is None:
        problems.append(f"harness timed out after {JVM_TIMEOUT_S} s")
    elif code != 0:
        problems.append(f"harness exited with {code}")
    missing = [k for k in ("start", "setup", "check", "measure", "end") if k not in kinds]
    if trace and "trace" not in kinds:
        missing.append("trace")
    if missing:
        problems.append(f"harness ended early: no {', '.join(missing)} record")
    if problems:
        attempted, failed = attempted + 1, failed + 1

    # output checks, outside every timed window
    check_items = kinds.get("check", [{}])[0].get("items", [])
    bad_queries = {it["query"] for it in check_items if it.get("ok") is False}
    for it in check_items:
        if it.get("ok") is False:
            problems.append(f"{it['query']}: {it.get('kind')} check failed {it.get('error') or ''}")
    for q, (ok, detail, rows) in checked.items():
        if not ok:
            bad_queries.add(q)
            problems.append(f"{q}: {detail}")
        else:
            # every op of the query must return the oracle's row count
            bad_rows = [o for o in ops if o.get("query") == q and o["ok"] and o["rows"] != rows]
            failed += len(bad_rows)
            if bad_rows:
                problems.append(f"{q}: {len(bad_rows)} ops returned a row count other than {rows}")
    failed += sum(1 for o in ops if o["ok"] and o.get("query") in bad_queries)

    setup = kinds.get("setup", [None])[0]
    measure = kinds.get("measure", [None])[0]
    if trace:
        metrics = per_layer(workload, recs, setup, measure, kinds.get("trace", [None])[0])
    else:
        metrics = end_to_end(workload, recs, setup, measure)
    units = PER_LAYER if trace else END_TO_END
    result = {
        "correct": not problems and failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    load_start = loadavg()
    classes = build.ensure()
    ticks_start = cpu_ticks()
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(WORK, f"{a.workload}.log")
    recs, code = run_jvm(classes, [
        "--workload", a.workload, "--data", DATA, "--out", run_dir, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)],
        run_dir, log)
    load_end = loadavg()
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]

    items = next((r["items"] for r in recs if r["kind"] == "check"), [])
    checked = oracle.check_all(items, DATA) if a.workload == "batch_tasks" else {}
    result, problems = summarise(a.workload, a.trace, recs, code, checked)
    harness_failed = code != 0 or not any(r["kind"] == "end" for r in recs)
    for p in problems:
        print(f"taskbench: {p}", file=sys.stderr)
    if harness_failed:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))

    def first(kind):
        return next((r for r in recs if r["kind"] == kind), {})

    measure = first("measure")
    ops = [r for r in recs if r["kind"] == "op"]
    print(json.dumps({
        "stamp": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": os.cpu_count(), "loadavg_start": load_start, "loadavg_end": load_end,
            "steal_frac": ticks[1] / max(1, ticks[0]),
            "jvm_args": first("start").get("jvm_args"), "setup_s": first("setup").get("setup_s"),
            "check_s": first("check").get("s"),
            **{k: measure.get(k) for k in ("jvm.gc_ms", "jvm.jit_ms", "jvm.cpu_s", "window_s")},
            "samples": {p: sum(1 for o in ops if o["phase"] == p)
                        for p in ("timed", "traced", "trickle", "drain") if any(o["phase"] == p for o in ops)},
            "problems": problems,
        }}))
    print(json.dumps(result))
    sys.stdout.flush()
    return 1 if harness_failed else 0


if __name__ == "__main__":
    sys.exit(main())
