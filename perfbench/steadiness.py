#!/usr/bin/env python3
"""Steadiness evidence for the benchmark's bounds.

Runs every workload in two sets, one after the other, with distinct seeds
and the workload order alternating from run to run. For each workload and
end-to-end metric it reports each set's median and quartiles, the spread
(inter-quartile distance over the median) and the drift of the second
set's median from the first's, checked against BENCHMARK.json's bound:
each spread must stay under the bound and the drift under the bound. It also reports the warm-pass curve, pass index against
wall time, as the median over a workload's runs.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/results/steadiness

Run from the root of a checkout; writes <out>.json and <out>.md.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, ".work", "results")


def run_one(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    out = json.loads(last) if last.startswith("{") else {}
    detail_path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    detail = json.load(open(detail_path)) if os.path.exists(detail_path) else {}
    return {
        "workload": workload, "seed": seed, "exit": r.returncode, "wall_s": time.time() - t0,
        "correct": out.get("correct"), "attempted": out.get("attempted"), "failed": out.get("failed"),
        # every end-to-end metric the run computed, gated or not
        "metrics": detail.get("metrics") or {k: v["value"] for k, v in out.get("metrics", {}).items()},
        "warm_curve_s": detail.get("warm_curve_s"),
        "load_avg_start": detail.get("load_avg_start"), "cpu_steal_frac": detail.get("cpu_steal_frac"),
        "setup_samples_s": detail.get("setup_samples_s"),
        "sink": detail.get("sink"),
    }


def summarize(runs, bench):
    """Per workload and metric: both sets' statistics and the drift. Gated
    metrics (BENCHMARK.json's end_to_end) are checked against their bound;
    the others are reported with bound None."""
    gated = {m["name"]: m for m in bench["end_to_end"]}
    names = list(gated) + sorted({k for r in runs for k in r["metrics"]} - set(gated))
    table = {}
    for w in [x["name"] for x in bench["workloads"]]:
        table[w] = {}
        for name in names:
            sets = [[r["metrics"][name] for r in runs if r["workload"] == w and r["set"] == s
                     and name in r["metrics"]] for s in (1, 2)]
            if any(len(v) < 2 for v in sets):
                continue
            bound = gated[name]["bound"] if name in gated else None
            row = {"bound": bound}
            for i, v in enumerate(sets, 1):
                q1, q3 = stats.quartiles(v)
                row[f"set{i}"] = {"median": stats.median(v), "q1": q1, "q3": q3,
                                  "spread": stats.spread(v), "n": len(v)}
            row["drift"] = row["set2"]["median"] / row["set1"]["median"] - 1
            if bound is not None:
                worse = row["drift"] if gated[name]["better"] == "lower" else -row["drift"]
                spread_ok = all(row[f"set{i}"]["spread"] <= bound for i in (1, 2))
                row["ok"] = spread_ok and worse <= bound
                row["spread_under_third_of_bound"] = all(
                    row[f"set{i}"]["spread"] < bound / 3 for i in (1, 2))
            table[w][name] = row
        curves = [r["warm_curve_s"] for r in runs if r["workload"] == w and r["warm_curve_s"]]
        if curves:
            n = min(len(c) for c in curves)
            table[w]["warm_curve_median_s"] = [stats.median([c[i] for c in curves]) for i in range(n)]
    return table


def markdown(table, runs):
    lines = ["| workload | metric | bound | set 1 median [q1, q3] | spread 1 | "
             "set 2 median [q1, q3] | spread 2 | drift | ok |",
             "|---|---|---|---|---|---|---|---|---|"]
    for w, rows in table.items():
        for name, r in rows.items():
            if name == "warm_curve_median_s":
                continue
            s1, s2 = r["set1"], r["set2"]
            ok = "not gated" if r["bound"] is None else ("yes" if r["ok"] else "NO")
            lines.append(
                f"| {w} | {name} | {r['bound'] or '—'} | {s1['median']:.4g} [{s1['q1']:.4g}, {s1['q3']:.4g}] | "
                f"{s1['spread']:.3f} | {s2['median']:.4g} [{s2['q1']:.4g}, {s2['q3']:.4g}] | "
                f"{s2['spread']:.3f} | {r['drift']:+.3f} | {ok} |")
    lines.append("")
    lines.append("Warm-pass curve (median wall seconds by pass index; pass 0 is the cold pass):")
    lines.append("")
    for w, rows in table.items():
        if "warm_curve_median_s" in rows:
            lines.append(f"- {w}: " + ", ".join(
                f"{i}: {v:.3f}" for i, v in enumerate(rows["warm_curve_median_s"])))
    sinked = [r for r in runs if r.get("sink")]
    if sinked:
        lines += ["", "Declared layout state, in run order: this data dir's sink entries removed "
                  "before the cold pass (0 when absent), the layouts the cold pass built, and "
                  "whether other dirs' entries were left unchanged:", "",
                  "| set | workload | seed | removed before cold | layout builds | cold_pass_s "
                  "| others unchanged |", "|---|---|---|---|---|---|---|"]
        for r in sinked:
            k = r["sink"]
            lines.append(f"| {r['set']} | {r['workload']} | {r['seed']} | {k['removed_before_cold']} | "
                         f"{k['layout_builds']} | {r['metrics'].get('cold_pass_s', 0):.4g} | "
                         f"{'yes' if k['others_unchanged'] else 'NO'} |")
    bad = [r for r in runs if r["exit"] != 0 or not r["correct"]]
    lines.append("")
    lines.append(f"Runs: {len(runs)}; failed or incorrect: {len(bad)}.")
    return "\n".join(lines) + "\n"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--out", required=True, help="output path without extension")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    workloads = [w["name"] for w in bench["workloads"]]
    runs = []
    for s in (1, 2):
        for i in range(a.runs):
            order = workloads if (i + s) % 2 == 0 else workloads[::-1]
            for w in order:
                r = run_one(w, 1000 * s + i, bench["run_seconds"])
                r["set"] = s
                runs.append(r)
                print(f"set {s} run {i} {w}: exit {r['exit']} {r['wall_s']:.0f} s "
                      f"{json.dumps(r['metrics'])}", file=sys.stderr, flush=True)
    table = summarize(runs, bench)
    with open(a.out + ".json", "w") as fh:
        json.dump({"summary": table, "runs": runs}, fh, indent=1)
    with open(a.out + ".md", "w") as fh:
        fh.write(markdown(table, runs))
    print(markdown(table, runs))


if __name__ == "__main__":
    main()
