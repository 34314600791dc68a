#!/usr/bin/env python3
"""Steadiness check: runs the benchmark command for two sets of runs and
compares them against the bounds in BENCHMARK.json.

    python3 graftbench/steady.py [--seeds 10] [--first-seed 101] [--out file.json]

Each set runs every workload of BENCHMARK.json once per seed for the
run length BENCHMARK.json gives; the second set runs the workloads in the
opposite order, so neither set always follows the same
neighbour. For every workload and end-to-end metric it prints each set's
median and quartiles, the spread (q3 - q1) / median and the drift of the
second median from the first, and checks:
  - every spread is within the metric's bound;
  - no second median is worse than the first by more than the bound;
  - the failed share of operations is the same in both sets.
Each run's nproc, load average at start and end, and JVM flags come from
the run's `info` line and are kept in --out. Exits 1 if a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec, workload, seed, seconds):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       timeout=900)
    lines = p.stdout.decode().strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "error": p.returncode}
    info = next((json.loads(l)["info"] for l in lines if l.startswith('{"info"')), {})
    res = json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "wall_s": round(time.time() - t0, 1),
            "info": info, "result": res}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    seeds = list(range(a.first_seed, a.first_seed + a.seeds))

    runs = []
    for s in range(2):
        order = workloads if s == 0 else workloads[::-1]
        for seed in seeds:
            for w in order:
                r = run_once(spec, w, seed, seconds)
                r["set"] = s + 1
                runs.append(r)
                info = r.get("info", {})
                print(f"set {s + 1} {w} seed {seed}: "
                      + (json.dumps({k: v["value"] for k, v in r["result"]["metrics"].items()})
                         if "result" in r else f"FAILED {r.get('error')}")
                      + f" load {info.get('load_start', ['?'])[0]}->{info.get('load_end', ['?'])[0]}"
                      + f" wall {r.get('wall_s')}", flush=True)

    ok = True
    summary = {}
    print(f"\n{'workload':14} {'metric':12} {'set':>3} {'q1':>10} {'median':>10} {'q3':>10}"
          f" {'spread':>7} {'bound':>6} {'drift':>7}")
    for w in workloads:
        wr = [r for r in runs if r["workload"] == w]
        if any("result" not in r for r in wr):
            print(f"{w}: a run failed")
            ok = False
            continue
        shares = set()
        for s in (1, 2):
            rs = [r["result"] for r in wr if r["set"] == s]
            shares.add(sum(r["failed"] for r in rs) * 1.0 / sum(r["attempted"] for r in rs)
                       if rs else 0.0)
            if any(r["failed"] * 1.0 / r["attempted"] != rs[0]["failed"] * 1.0 / rs[0]["attempted"]
                   for r in rs):
                print(f"{w}: failed share differs between runs of set {s}")
                ok = False
        if len(shares) > 1:
            print(f"{w}: failed share differs between sets: {sorted(shares)}")
            ok = False
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s in (1, 2):
                xs = [r["result"]["metrics"][name]["value"] for r in wr if r["set"] == s]
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med
                meds.append(med)
                drift = ""
                if s == 2:
                    worse = (med - meds[0]) / meds[0] if m["better"] == "lower" \
                        else (meds[0] - med) / meds[0]
                    drift = f"{worse:+.3f}"
                    if worse > bound:
                        ok = False
                        drift += "!"
                flag = "" if spread <= bound else "!"
                if flag:
                    ok = False
                print(f"{w:14} {name:12} {s:>3} {q1:10.4f} {med:10.4f} {q3:10.4f}"
                      f" {spread:7.3f}{flag:1} {bound:6.2f} {drift:>7}")
                summary.setdefault(w, {}).setdefault(name, []).append(
                    {"set": s, "q1": q1, "median": med, "q3": q3, "spread": spread})
    loads = [r["info"]["load_start"][0] for r in runs if "info" in r and r["info"]]
    if loads:
        print(f"\nload average (1 min) at run start: min {min(loads)}, median "
              f"{statistics.median(loads)}, max {max(loads)}; nproc "
              f"{sorted({r['info']['nproc'] for r in runs if r.get('info')})}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": summary, "ok": ok}, f, indent=1)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
