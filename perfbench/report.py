#!/usr/bin/env python3
"""Write perfbench/REPORT.md from the runs recorded in
`<build dir>/history.jsonl` by the current build (the newest build key).

    python3 perfbench/report.py [--seeds 101-110] [--second 201-210]

Per workload: median and quartiles of every end-to-end metric over the
untraced runs, the same for the traced runs and their difference (the
tracing overhead), and the per-layer self time of the traced runs'
spans. Runs at `--cores 1` form the single-thread baseline section.
`--second` names a second set of untraced runs of the same build; its
medians are compared with the first set's against each metric's bound.
"""
import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def quart(values):
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def e2e_table(spec, runs, traced, second):
    out = ["| metric | unit | untraced median [q1, q3] | spread | bound | traced median "
           "| overhead | second set median [q1, q3] | second spread | second vs first |",
           "|---|---|---|---|---|---|---|---|---|---|"]
    for m in spec["end_to_end"]:
        med, q1, q3 = quart([r["metrics"][m["name"]] for r in runs])
        tmed = quart([r["metrics"][m["name"]] for r in traced])[0] if traced else float("nan")
        smed, sq1, sq3 = quart([r["metrics"][m["name"]] for r in second]) if second \
            else (float("nan"),) * 3
        out.append(f"| {m['name']} | {m['unit']} | {fmt(med)} [{fmt(q1)}, {fmt(q3)}] "
                   f"| {fmt((q3 - q1) / med)} | {m['bound']} | {fmt(tmed)} "
                   f"| {fmt((tmed - med) / med * 100)} % | {fmt(smed)} [{fmt(sq1)}, {fmt(sq3)}] "
                   f"| {fmt((sq3 - sq1) / smed)} | {fmt((smed - med) / med * 100)} % |")
    return out


def named_table(runs):
    names = sorted({k for r in runs for k in r["all"]} - {k for r in runs for k in r["metrics"]})
    out = ["| metric | unit | median [q1, q3] | samples per run |", "|---|---|---|---|"]
    for k in names:
        vals = [r["all"][k][0] for r in runs if k in r["all"]]
        med, q1, q3 = quart(vals)
        out.append(f"| {k} | {runs[0]['all'][k][1]} | {fmt(med)} [{fmt(q1)}, {fmt(q3)}] "
                   f"| {runs[0]['all'][k][2]} |")
    return out


def layer_table(spec, traced):
    out = ["| per-layer metric | unit | traced median [q1, q3] |", "|---|---|---|"]
    for m in spec["per_layer"]:
        vals = [r["metrics"][m["name"]] for r in traced]
        if any(vals):
            med, q1, q3 = quart(vals)
            out.append(f"| {m['name']} | {m['unit']} | {fmt(med)} [{fmt(q1)}, {fmt(q3)}] |")
    return out


def self_time_table(traced):
    rows = {}
    cover = []
    for r in traced:
        path = os.path.join(r["run"]["dir"], "spans.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            sp = json.load(f)
        cover.append(sp["coverage"])
        for layer, (total, self_ms, n) in sp["self_time_ms"].items():
            rows.setdefault(layer, []).append((total, self_ms, n))
    out = [f"Named-layer coverage of the timed wall-clock: median {fmt(quart(cover)[0])} "
           f"over {len(cover)} traced runs.", "",
           "| layer | span time ms (median) | self time ms (median) | spans per run |",
           "|---|---|---|---|"]
    for layer, vals in sorted(rows.items(), key=lambda kv: -quart([v[1] for v in kv[1]])[0]):
        out.append(f"| {layer} | {fmt(quart([v[0] for v in vals])[0])} "
                   f"| {fmt(quart([v[1] for v in vals])[0])} | {vals[0][2]} |")
    return out


def in_range(h, seeds):
    lo, _, hi = seeds.partition("-")
    return int(lo) <= h["run"]["seed"] <= int(hi or lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", help="only runs with a seed in this range, e.g. 101-110")
    ap.add_argument("--second", help="seed range of a second untraced set, e.g. 201-210")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    hist = [json.loads(line) for line in open(os.path.join(BUILD, "history.jsonl"))]
    hist = [h for h in hist if not h["run"].get("tiny")
            and h["run"]["seconds"] == spec["run_seconds"]]
    build = hist[-1]["run"]["build"]
    hist = [h for h in hist if h["run"].get("build") == build and h["correct"]]
    second = [h for h in hist if args.second and in_range(h, args.second)
              and not h["run"]["trace"]]
    if args.seeds:
        hist = [h for h in hist if in_range(h, args.seeds)]
    cores = max(h["run"]["cores"] for h in hist)
    env = hist[-1]["run"]["env"]
    lines = ["# Benchmark report", "",
             f"Host: {cores} cores, JVM heap {env['heap_max_bytes'] / 2**30:.1f} GiB, "
             f"Spark {env['spark_version']}, Java {env['java_version']}; "
             f"run_seconds {spec['run_seconds']}; build `{build}`.",
             "Spread is (q3 - q1) / median over the runs, quartiles from "
             "`statistics.quantiles(values, n=4)`. Overhead is the traced median over "
             "the untraced median, minus one; an overhead smaller than the spread is "
             "run-to-run noise, not a cost of tracing.", ""]
    for w in [x["name"] for x in spec["workloads"]]:
        runs = [h for h in hist if h["run"]["workload"] == w and h["run"]["cores"] == cores]
        untraced = [h for h in runs if not h["run"]["trace"]]
        traced = [h for h in runs if h["run"]["trace"]]
        if not untraced:
            continue
        lines += [f"## {w}", "",
                  f"{len(untraced)} untraced runs (seeds "
                  f"{sorted(h['run']['seed'] for h in untraced)}), {len(traced)} traced.", ""]
        again = [h for h in second if h["run"]["workload"] == w and h["run"]["cores"] == cores]
        if again:
            lines += [f"Second set: {len(again)} untraced runs (seeds "
                      f"{sorted(h['run']['seed'] for h in again)}).", ""]
        lines += e2e_table(spec, untraced, traced, again) + [""]
        lines += ["CPU time stolen by the host per untraced run, s: " +
                  ", ".join(f"{h['run'].get('cpu_steal_s', float('nan')):.1f}" for h in untraced),
                  ""]
        lines += ["Workload metrics (untraced runs):", ""] + named_table(untraced) + [""]
        if traced:
            lines += ["Per-layer metrics that are not zero (traced runs):", ""]
            lines += layer_table(spec, traced) + [""]
            lines += ["Per-layer self time (traced runs):", ""] + self_time_table(traced) + [""]
    base = [h for h in hist if h["run"]["cores"] == 1 and h["run"]["trace"]]
    for h in base:
        lines += [f"## Single-thread baseline: {h['run']['workload']} at local[1], traced, "
                  f"seed {h['run']['seed']}", ""]
        lines += ["| metric | value |", "|---|---|"]
        lines += [f"| {k} | {fmt(v[0])} {v[1]} |" for k, v in sorted(h["all"].items())
                  if k in {m["name"] for m in spec["end_to_end"]} or k not in h["metrics"]]
        lines += [""] + self_time_table([h]) + [""]
    with open(os.path.join(HERE, "REPORT.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {os.path.join(HERE, 'REPORT.md')}")


if __name__ == "__main__":
    main()
