#!/usr/bin/env python3
"""graft benchmark: one command per run.

    python3 graftbench/run.py --workload <wc_zipf|wc_longtail|dedup_planted>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source if needed (build.py), generates the seeded
input or reuses it from .bench_build/graftbench/data, then:

  1. starts set-up-only JVMs and the measuring JVMs, three in all, and
     takes the median of their three set-up times (process start until the
     session is up and the input located) as setup_s;
  2. in each measuring JVM runs the query cold, warms it up, and runs
     whole executions for its share of --seconds, checking every result;
     query_s and peak_rss_mb are the medians over the measuring JVMs;
  3. prints an `info` JSON line (nproc, load average at start and end,
     JVM flags, per-run details) and, as the last line, the result:
     {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones (a layer the workload never touches
reads 0). Exits non-zero, printing no result, if anything fails.
"""
import argparse
import fcntl
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

OUT = build.OUT
DATA = os.path.join(OUT, "data")
WORKLOADS = ("wc_zipf", "wc_longtail", "dedup_planted")
KEEP_INPUTS = 3           # cached seeded inputs kept on disk (LRU)
SETUP_SAMPLES = 3         # set-up times per run, median reported
# Measuring JVMs per untraced run. On dedup_planted whole JVMs differ by
# up to ~40% from their cold execution on, while executions within one
# JVM agree (README, Warm-up), so its run takes the median over two.
MEASURING_JVMS = {"dedup_planted": 2}
RUN_LIMIT_S = 175         # a run ends within this, build excluded

JVM_FLAGS = [
    "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:SurvivorRatio=4", "-XX:-UseAdaptiveSizePolicy",
    "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


class Child:
    """A JVM in its own process group, killed and reaped on any exit."""
    current = None

    @staticmethod
    def run(args, log_path, deadline):
        cmd = [build.java()] + JVM_FLAGS + [
            "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
            "-Dspark.local.dir=" + os.path.join(OUT, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(OUT, "warehouse"),
            "-cp", build.classpath(), "graftbench.Main"] + args
        with open(log_path, "ab") as log:
            t0 = time.time()
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                 cwd=OUT, start_new_session=True)
            Child.current = p
            try:
                out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                Child.kill()
                fail(f"{args[0]} did not finish in time; log: {log_path}")
            finally:
                Child.current = None
        if p.returncode != 0:
            fail(f"{args[0]} exited {p.returncode}; log: {log_path}")
        return t0, out.decode("utf-8", "replace").splitlines()

    @staticmethod
    def kill():
        p = Child.current
        if p is not None and p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def gen_version():
    src = open(os.path.join(HERE, "src", "Gen.scala")).read()
    return re.search(r"val Version = (\d+)", src).group(1)


def input_path(workload, seed):
    return os.path.join(DATA, f"{workload}-g{gen_version()}-s{seed}")


def evict(current):
    """Deletes all cached inputs but `current` and the KEEP_INPUTS - 1
    most recently used others, in a thread: on a filesystem that discards
    freed blocks, deleting a few hundred MB takes seconds of waiting on
    the device, not CPU."""
    os.makedirs(DATA, exist_ok=True)
    cached = sorted((os.path.join(DATA, x) for x in os.listdir(DATA)
                     if not os.path.join(DATA, x).startswith(current)),
                    key=os.path.getmtime, reverse=True)
    keep = KEEP_INPUTS - 1
    t = threading.Thread(
        target=lambda: [shutil.rmtree(old, ignore_errors=True) for old in cached[keep:]])
    t.start()
    return t


def input_dir(workload, seed, deadline, log_path):
    """The cached input for (workload, seed, generator version); generated
    first if absent."""
    d = input_path(workload, seed)
    if not os.path.isfile(os.path.join(d, "meta.properties")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        Child.run(["gen", workload, str(seed), tmp], log_path, deadline)
        os.rename(tmp, d)
    os.utime(d)
    return d


def ready_time(t0, lines):
    for line in lines:
        if line.startswith("READY "):
            return float(line.split()[1]) - t0
    fail("JVM printed no READY line")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seed < 0 or a.seconds < 1:
        fail("--seed must be >= 0 and --seconds >= 1")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(spec_path):
        fail("run from a checkout of the repository (no engine sources here)")
    spec = json.load(open(spec_path))

    signal.signal(signal.SIGTERM, lambda *_: (Child.kill(), sys.exit(1)))
    os.makedirs(OUT, exist_ok=True)
    # one run at a time per checkout: runs share the input cache and the
    # local directories cleared at the end
    lock = open(os.path.join(OUT, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    load_start = os.getloadavg()
    started = time.time()
    for sub in ("tmp", "spark-local", "warehouse", "logs"):
        os.makedirs(os.path.join(OUT, sub), exist_ok=True)
    log_path = os.path.join(OUT, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    open(log_path, "w").close()
    phases = {}

    def phase(name, t0):
        phases[name] = round(time.time() - t0, 2)
        return time.time()

    with open(log_path, "a") as log:
        build.build(log)
    t = phase("build", started)
    # the first run in a checkout also pays for the build
    deadline = time.time() + RUN_LIMIT_S
    evicting = evict(input_path(a.workload, a.seed))
    try:
        d = input_dir(a.workload, a.seed, deadline, log_path)
        t = phase("input", t)
        measuring = 1 if a.trace else MEASURING_JVMS.get(a.workload, 1)
        setups = []
        for _ in range(SETUP_SAMPLES - measuring):
            t0, lines = Child.run(["setup", a.workload, d], log_path, deadline)
            setups.append(ready_time(t0, lines))
        t = phase("setup_jvms", t)
        trace_file = os.path.join(OUT, "trace", f"{a.workload}-s{a.seed}.json")
        results = []
        for _ in range(measuring):
            t0, lines = Child.run(["run", a.workload, d, str(a.seconds / measuring),
                                   str(a.trace), trace_file], log_path, deadline)
            setups.append(ready_time(t0, lines))
            res = [l for l in lines if l.startswith("RESULT ")]
            if not res:
                fail(f"JVM printed no RESULT line; log: {log_path}")
            results.append(json.loads(res[-1][len("RESULT "):]))
        phase("measuring_jvms", t)
    finally:
        Child.kill()
        for sub in ("tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(OUT, sub), ignore_errors=True)
        evicting.join()
    m = results[0]["metrics"]
    if a.trace:
        wanted = spec["per_layer"]
    else:
        m["query_s"] = statistics.median(r["metrics"]["query_s"] for r in results)
        m["setup_s"] = statistics.median(setups)
        m["peak_rss_mb"] = statistics.median(r["metrics"]["vmhwm_mb"] for r in results)
        wanted = spec["end_to_end"]
    metrics = {}
    for w in wanted:
        v = float(m.get(w["name"], 0.0))
        if v != v or v in (float("inf"), float("-inf")):
            fail(f"metric {w['name']} is not a finite number")
        metrics[w["name"]] = {"value": v, "unit": w["unit"]}
    with open(log_path) as f:
        notes = [l.rstrip() for l in f if l.startswith(("generated ", "cold ", "timed ", "recall ", "CHECK FAILED", "graftbench:"))]
    info = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "load_start": [round(x, 2) for x in load_start],
        "load_end": [round(x, 2) for x in os.getloadavg()],
        "wall_s": round(time.time() - started, 2),
        "phases_s": phases,
        "setup_samples_s": [round(s, 4) for s in setups],
        "jvm_flags": JVM_FLAGS,
        "notes": notes,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": all(r["correct"] for r in results),
                      "attempted": sum(int(r["attempted"]) for r in results),
                      "failed": sum(int(r["failed"]) for r in results),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
