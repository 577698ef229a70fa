#!/usr/bin/env python3
"""Steadiness check for the benchmark.

Run a set of runs and summarise it:

    python3 perfbench/steady.py run --label a [--workloads migrate,upsert,dedup]
        [--seeds 1-10] [--trace]

runs `perfbench/run.py` once per workload and seed (one at a time), prints
each metric's median, quartiles and quartile spread as a share of the
median beside the bound in BENCHMARK.json, and saves the set to
perfbench/out/steady-<label>.json. With --trace it runs the traced mode
and summarises the per-layer metrics instead.

Measure the tracing overhead:

    python3 perfbench/steady.py overhead [--workloads ...] [--seeds 11-13]

runs each seed untraced and then traced, back to back so that both see the
same machine, prints the medians of rows_per_s and cpu_s of both modes,
and checks that the per-span job counts of each traced run add up to the
untraced run's spark_jobs.

Compare two saved sets, taken apart in time:

    python3 perfbench/steady.py compare a b

prints, per workload and metric, both medians and how much worse the
second is, as a share of the first, beside the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(arg):
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    return res


def summarise(results, metrics):
    """results: workload -> list of run results. Prints one table per workload."""
    ok = True
    for w, runs in results.items():
        fails = {r["failed"] / r["attempted"] for r in runs}
        print(f"\n{w}: {len(runs)} runs, wall {statistics.median([r['wall_s'] for r in runs]):.0f} s "
              f"median, failed share {sorted(fails)}")
        print(f"  {'metric':<26}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}")
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else 0.0
            bound = m.get("bound")
            flag = ""
            if bound is not None:
                flag = " ok" if spread <= bound / 3 else (" wide" if spread <= bound else " OVER")
                ok &= spread <= bound
            print(f"  {m['name']:<26}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}{spread:>9.3f}"
                  f"{'' if bound is None else bound:>7}{flag}")
    return ok


def cmd_run(a):
    s = spec()
    ws = a.workloads.split(",")
    results = {w: [] for w in ws}
    for w in ws:
        for seed in seeds(a.seeds):
            r = one_run(w, seed, a.seconds or s["run_seconds"], 1 if a.trace else 0)
            r["seed"] = seed
            results[w].append(r)
            print(f"[steady] {w} seed {seed}: {r['wall_s']:.0f} s", file=sys.stderr, flush=True)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"steady-{a.label}.json"), "w") as f:
        json.dump({"trace": a.trace, "results": results}, f, indent=1)
    if not a.trace:
        ok = summarise(results, s["end_to_end"])
        print("\nall spreads within bounds" if ok else "\nSOME SPREAD EXCEEDS ITS BOUND")
        return
    summarise(results, s["per_layer"])


def cmd_overhead(a):
    s = spec()
    print("tracing overhead: untraced and traced runs of each seed, back to back")
    for w in a.workloads.split(","):
        plain, traced = [], []
        for seed in seeds(a.seeds):
            p = one_run(w, seed, a.seconds or s["run_seconds"], 0)
            t = one_run(w, seed, a.seconds or s["run_seconds"], 1)
            with open(os.path.join(OUT, f"trace-{w}-seed{seed}.json")) as f:
                plain.append(p["metrics"])
                traced.append(json.load(f)["end_to_end"])
            jobs = sum(v["value"] for k, v in t["metrics"].items() if k.endswith(".jobs"))
            want = p["metrics"]["spark_jobs"]["value"]
            print(f"  {w:<8} seed {seed}: span jobs {jobs:g}, untraced spark_jobs {want:g} "
                  f"{'equal' if jobs == want else 'DIFFERENT'}", flush=True)
        for m in ("rows_per_s", "cpu_s"):
            a0 = statistics.median(x[m]["value"] for x in plain)
            a1 = statistics.median(x[m]["value"] for x in traced)
            print(f"  {w:<8} {m:<11} untraced {a0:.6g}  traced {a1:.6g}  "
                  f"change {(a1 - a0) / a0:+.3f}", flush=True)


def load(label):
    with open(os.path.join(OUT, f"steady-{label}.json")) as f:
        return json.load(f)


def cmd_compare(a):
    s = spec()
    first, second = load(a.first)["results"], load(a.second)["results"]
    ok = True
    for w in first:
        if w not in second:
            continue
        fa = {r["failed"] / r["attempted"] for r in first[w]}
        fb = {r["failed"] / r["attempted"] for r in second[w]}
        print(f"\n{w}: failed share {sorted(fa)} vs {sorted(fb)}")
        print(f"  {'metric':<16}{'median 1':>14}{'median 2':>14}{'worse':>9}{'bound':>7}")
        for m in s["end_to_end"]:
            a1 = statistics.median(r["metrics"][m["name"]]["value"] for r in first[w])
            a2 = statistics.median(r["metrics"][m["name"]]["value"] for r in second[w])
            worse = (a2 - a1) / a1 if m["better"] == "lower" else (a1 - a2) / a1
            good = worse <= m["bound"]
            ok &= good and fa == fb
            print(f"  {m['name']:<16}{a1:>14.6g}{a2:>14.6g}{worse:>+9.3f}{m['bound']:>7}"
                  f"{'' if good else ' OVER'}")
    print("\nsecond set within bounds of the first" if ok else "\nSECOND SET OUTSIDE A BOUND")


def main():
    ap = argparse.ArgumentParser(description="benchmark steadiness check")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--label", required=True)
    r.add_argument("--workloads", default="migrate,upsert,dedup")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int, default=0, help="default: run_seconds")
    r.add_argument("--trace", action="store_true")
    o = sub.add_parser("overhead")
    o.add_argument("--workloads", default="migrate,upsert,dedup")
    o.add_argument("--seeds", default="11-13")
    o.add_argument("--seconds", type=int, default=0, help="default: run_seconds")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    {"run": cmd_run, "overhead": cmd_overhead, "compare": cmd_compare}[a.cmd](a)


if __name__ == "__main__":
    main()
