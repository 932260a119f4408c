#!/usr/bin/env python3
"""Measures how steady the end-to-end metrics are, and whether two sets of
runs of the same code agree.

    python3 pipebench/spread.py run --seeds 51-60 --out .bench_build/set_a.jsonl
    python3 pipebench/spread.py run --seeds 51-60 --out .bench_build/set_b.jsonl
    python3 pipebench/spread.py report .bench_build/set_a.jsonl .bench_build/set_b.jsonl

`run` makes one untraced run per seed and workload, one after another, and
appends each result to a JSON-lines file. `report` prints, per workload and
end-to-end metric of `BENCHMARK.json`, each set's median and spread (the
distance between the first and third quartile, as
`statistics.quantiles(values, n=4)` gives them, as a share of the median)
and how much worse the second set's median is than the first's, as a share
of the first's. Each is set against the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args, bench):
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = str(args.seconds or bench["run_seconds"])
    for w in workloads:
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                                                   "--seconds", seconds, "--trace", "0"],
                               capture_output=True, text=True)
            lines = r.stdout.strip().split("\n")
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
            rec = {"workload": w, "seed": seed, "started": t0, "elapsed_s": time.time() - t0,
                   "exit": r.returncode, "result": result}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {seed}: exit {r.returncode} in {rec['elapsed_s']:.0f} s", flush=True)


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def worse_by(metric, first, second):
    """How much worse the second median is than the first, as a share of it."""
    change = (second - first) / first
    return change if metric["better"] == "lower" else -change


def report(args, bench):
    sets = [load(p) for p in args.sets]
    out = []
    for w in [x["name"] for x in bench["workloads"]]:
        runs = [[r for r in s if r["workload"] == w] for s in sets]
        if not any(runs):
            continue
        out.append(f"## {w}\n")
        for name, rs in zip(args.sets, runs):
            bad = [r["seed"] for r in rs if r["exit"] != 0 or not (r["result"] or {}).get("correct")]
            when = time.strftime("%H:%M", time.gmtime(min(r["started"] for r in rs))) if rs else "-"
            out.append(f"- `{os.path.basename(name)}`: {len(rs)} runs from {when} UTC, "
                       f"seeds {', '.join(str(r['seed']) for r in rs)}; "
                       f"{'all correct' if not bad else f'failed or incorrect: {bad}'}; "
                       f"timed operations per run {sorted({r['result']['attempted'] for r in rs if r['result']})}; "
                       f"median run {statistics.median(r['elapsed_s'] for r in rs):.0f} s")
        out.append("")
        head = "| metric | bound |"
        rule = "|---|---|"
        for i in range(len(sets)):
            head += f" median {i + 1} | spread {i + 1} |"
            rule += "---|---|"
        if len(sets) == 2:
            head += " 2 worse than 1 by |"
            rule += "---|"
        out += [head, rule]
        for m in bench["end_to_end"]:
            row = f"| `{m['name']}` | {m['bound']} |"
            meds = []
            for rs in runs:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs if r["result"]]
                if len(vals) < 2:
                    meds.append(None)
                    row += " - | - |"
                    continue
                med, _, _, spread = stats(vals)
                meds.append(med)
                flag = "" if spread < m["bound"] / 3 or m["name"] == "setup_s" else \
                    (" (over a third of the bound)" if spread <= m["bound"] else " (**over the bound**)")
                row += f" {med:.4g} | {spread:.3f}{flag} |"
            if len(sets) == 2 and None not in meds:
                d = worse_by(m, *meds)
                row += f" {d:+.3f}{' (**over the bound**)' if d > m['bound'] else ''} |"
            elif len(sets) == 2:
                row += " - |"
            out.append(row)
        out.append("")
    print("\n".join(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True, help="first-last, e.g. 51-60")
    r.add_argument("--out", required=True)
    r.add_argument("--seconds", type=int)
    r.add_argument("--workloads", nargs="*")
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if args.mode == "run":
        run(args, bench)
    else:
        report(args, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
