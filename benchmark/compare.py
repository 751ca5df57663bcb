#!/usr/bin/env python3
"""Run sets of benchmark runs and check their spread against the bounds.

    python3 benchmark/compare.py run --workload interactive --seeds 1-10 --out a.json
    python3 benchmark/compare.py spread a.json [b.json]

`run` calls run.py once per seed, untraced and for BENCHMARK.json's
run_seconds, and stores every result.
`spread` reports, per workload and end-to-end metric of BENCHMARK.json,
the median and the quartile spread (q3 - q1) / median of each set, as
statistics.quantiles(values, n=4) gives the quartiles, next to the
metric's bound. With two sets it also reports how far the second
median moved from the first, signed so that positive is worse. Exit
code 1 if a spread or a worsening exceeds its bound.
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


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cmd_run(a):
    seconds = load_bench()["run_seconds"]
    runs = []
    if os.path.exists(a.out):
        with open(a.out) as f:
            runs = json.load(f)
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-2000:])
            sys.exit(f"compare.py: run failed for seed {s}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"workload": a.workload, "seed": s, "wall_s": round(time.time() - t0, 1),
                     "result": result})
        m = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"{a.workload} seed={s} wall={runs[-1]['wall_s']}s correct={result['correct']} {m}",
              flush=True)
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)


def summarize(runs, workload, metric):
    vals = [r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and metric in r["result"]["metrics"]]
    if len(vals) < 2:
        return None
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return {"n": len(vals), "median": statistics.median(vals), "spread": (q3 - q1) / med}


def cmd_spread(a):
    bench = load_bench()
    sets = []
    for path in a.sets:
        with open(path) as f:
            sets.append(json.load(f))
    bad = False
    workloads = sorted({r["workload"] for s in sets for r in s})
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells = [summarize(s, w, name) for s in sets]
            if any(c is None for c in cells):
                continue
            line = f"{w:12s} {name:16s} bound={bound:<5}"
            for i, c in enumerate(cells):
                flag = ""
                if c["spread"] > bound:
                    flag, bad = " OVER", True
                elif c["spread"] > bound / 3:
                    flag = " (>1/3 bound)"
                line += f" | set{i + 1} n={c['n']} median={c['median']:.4g} spread={c['spread']:.3f}{flag}"
            if len(cells) == 2:
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (cells[1]["median"] - cells[0]["median"]) / cells[0]["median"]
                flag = ""
                if worse > bound:
                    flag, bad = " OVER", True
                line += f" | worse by {worse:+.3f}{flag}"
            print(line)
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    r.add_argument("--out", required=True)
    s = sub.add_parser("spread")
    s.add_argument("sets", nargs="+")
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_spread(a)


if __name__ == "__main__":
    main()
