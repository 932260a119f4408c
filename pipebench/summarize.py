#!/usr/bin/env python3
"""Summarizes traced benchmark runs as a per-layer Markdown table.

    python3 pipebench/run.py --workload wx_daily --seed 7 --seconds 15 --trace 0
    python3 pipebench/run.py --workload wx_daily --seed 7 --seconds 15 --trace 1
    python3 pipebench/summarize.py --seed 7 wx_daily corpus_ingest

For each workload it reads the traced run's result file (and the untraced
one, for the tracing overhead) from `.bench_build/results/` and prints, per
layer span: calls, median wall and self time, jobs, task-seconds, busy
fraction, shuffle, spill and bytes written. Then, per timed operation, how
much of its wall time the layer spans cover; the remainder is the
benchmark's own bookkeeping inside the operation.
"""
import argparse
import json
import os
import statistics

LAYERS = ("wx.stage", "wx.marts", "pg.refresh", "pg.append", "pg.labels",
          "nsw.build", "nsw.append", "nsw.query")


def load(results, workload, seed, trace):
    p = os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def mib(b):
    return f"{b / 2**20:.2f}"


def summarize(results, workload, seed):
    t = load(results, workload, seed, 1)
    if t is None:
        return f"## {workload}\n\nno traced run for seed {seed}\n"
    u = load(results, workload, seed, 0)
    spans = t["trace"]["spans"]
    layer = {k: v["value"] for k, v in t["per_layer"].items()}
    out = [f"## {workload} (seed {seed}, {t['cores']} cores, {t['attempted']} timed operations, "
           f"correct={t['correct']})", ""]
    out.append("| span | calls | wall s | self s | jobs | stages | tasks | task s | busy | "
               "shuffle w MiB | shuffle r MiB | spill MiB | out MiB | RDDs after |")
    out.append("|---|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    for name in LAYERS:
        calls = [s for s in spans if s["name"] == name]
        timed = [s for s in calls if s["op"] != "setup"]
        if not calls:
            continue
        where = f"{len(timed)}" if timed else f"{len(calls)} (set-up)"
        g = lambda m: layer[f"{name}.{m}"]
        out.append(f"| `{name}` | {where} | {g('wall_s'):.3f} | {g('driver_s'):.3f} | {g('jobs'):g} | "
                   f"{g('stages'):g} | {g('tasks'):g} | {g('task_s'):.2f} | {g('busy_frac'):.2f} | "
                   f"{mib(g('shuffle_write_bytes'))} | {mib(g('shuffle_read_bytes'))} | "
                   f"{mib(g('spill_bytes'))} | {mib(g('output_bytes'))} | {g('persisted_rdds_after'):g} |")
    out.append("")
    out.append("Medians over the calls made in timed operations (set-up calls where a layer is "
               "only called in set-up). Self time is wall time while none of the span's jobs ran.")
    extras = [k for k in ("wx.stage.files_new_frac", "wx.stage.rows_written_per_new_row",
                          "read_s_p50", "ann_recall_at_k", "ops_failed_frac") if layer.get(k)]
    if extras:
        out.append("")
        out.append(", ".join(f"`{k}` = {layer[k]:.4g}" for k in extras))
    out.append("")
    acc = t["op_accounting"]
    rest = [a["wall_s"] - a["layer_spans_s"] for a in acc]
    out.append("| operation | wall s | layer spans s | bookkeeping s |")
    out.append("|---|---|---|---|")
    for a, r in zip(acc, rest):
        out.append(f"| `{a['op']}` | {a['wall_s']:.3f} | {a['layer_spans_s']:.3f} | {r:.4f} |")
    out.append("")
    out.append("Bookkeeping inside an operation is the benchmark's own work between layer calls: "
               "building the input DataFrames (lazy, no Spark job) and recording spans.")
    out.append("")
    if u is not None:
        a = u["end_to_end"]["op_s_p50"]["value"]
        b = statistics.median([o["wall_s"] for o in t["ops"] if o["kind"] == "write"])
        out.append(f"Tracing overhead: `op_s_p50` {b:.3f} s traced against {a:.3f} s untraced "
                   f"({b - a:+.3f} s, {(b - a) / a:+.1%}); the two runs are separate processes, "
                   "so run-to-run noise is included.")
    else:
        out.append("Tracing overhead: no untraced run of this seed to compare with.")
    out.append("")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--results", default=os.path.join(".bench_build", "results"))
    ap.add_argument("workloads", nargs="+")
    args = ap.parse_args()
    print("\n".join(summarize(args.results, w, args.seed) for w in args.workloads))


if __name__ == "__main__":
    main()
