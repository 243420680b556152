#!/usr/bin/env python3
"""Steadiness report for the graft benchmark.

    python3 graftbench/steadiness.py [--runs 5] [--workloads a,b] [--out FILE]

Runs every workload untraced in two interleaved sets (A B A B ...), each
run with its own seed (set A from the development seed 1, set B from the
held-out seed 9001), for `run_seconds` from BENCHMARK.json. For every
end-to-end metric it prints each set's median and quartiles, the spread of
all runs (interquartile range over median, as `statistics.quantiles(n=4)`
gives it), and whether the two sets agree within the metric's bound: set
B's median is not worse than set A's by more than the bound and, except
for setup_s, the spread stays within the bound. Every draw is kept, with
its peak load average.
"""
import argparse
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402
import run  # noqa: E402


def spread(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else float("inf")


def worse_by(a, b, better):
    """How much worse b is than a, as a share of a (negative: better)."""
    if a == 0:
        return 0.0 if b == a else float("inf")
    d = (b - a) / abs(a)
    return d if better == "lower" else -d


def report(workloads, runs, bench):
    seconds = bench["run_seconds"]
    lines = [f"# Steadiness report", "",
             f"{runs} + {runs} interleaved untraced runs per workload, "
             f"{seconds} s each, nproc {run.nproc()}. Set A uses seeds "
             f"1..{runs} (1 is the development seed), set B seeds "
             f"9001..{9000 + runs} (9001 is the held-out seed).", ""]
    ok_all = True
    for w in workloads:
        vals = {"A": {}, "B": {}}
        draws = []
        for i in range(runs):
            for s, seed in (("A", 1 + i), ("B", 9001 + i)):
                rec = run.run_once(w, seed, seconds, 0)
                line = run.result_line(rec, 0)
                for n, m in line["metrics"].items():
                    vals[s].setdefault(n, []).append(m["value"])
                draws.append((s, seed, line["failed"],
                              max(p["load_max"] for p in rec["passes"]),
                              sum(p["steal_s"] for p in rec["passes"]),
                              line["metrics"]["wall_s"]["value"]))
                print(f"[steadiness] {w} {s} seed {seed}: wall "
                      f"{line['metrics']['wall_s']['value']:.3f} s failed {line['failed']}",
                      file=sys.stderr)
        lines += [f"## {w}", "",
                  "| metric | A median [q1, q3] | B median [q1, q3] | spread (all) | B vs A | bound | agree | spread < bound/3 |",
                  "|---|---|---|---|---|---|---|---|"]
        for m in metrics.END_TO_END:
            n, unit, better, bound = m["name"], m["unit"], m["better"], m["bound"]
            a, b = vals["A"][n], vals["B"][n]
            qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
            sp = spread(a + b)
            wb = worse_by(statistics.median(a), statistics.median(b), better)
            agree = wb <= bound and (n == "setup_s" or sp <= bound)
            ok_all &= agree
            lines.append(
                f"| {n} ({unit}) | {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] | "
                f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] | {sp:.3f} | {wb:+.3f} | "
                f"{bound} | {'yes' if agree else 'NO'} | "
                f"{'-' if n == 'setup_s' else 'yes' if sp < bound / 3 else 'no'} |")
        lines += ["", "Draws (set/seed/failed calls/peak 1-min load/CPU seconds stolen "
                  "by the host during the passes/wall_s): " +
                  ", ".join(f"{s}/{seed}/{f}/{ld:.1f}/{st:.1f}/{wl:.3f}"
                            for s, seed, f, ld, st, wl in draws), ""]
    lines.append(f"All metrics agree: {'yes' if ok_all else 'NO'}")
    lines.append("Contract spread check: every spread except setup_s within its bound; "
                 "target: below a third of it.")
    return "\n".join(lines) + "\n", ok_all


def main():
    ap = argparse.ArgumentParser(description="two-set steadiness report")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads", default=",".join(metrics.WORKLOADS))
    ap.add_argument("--out")
    a = ap.parse_args()
    text, ok = report(a.workloads.split(","), a.runs, metrics.BENCHMARK)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text)
    print(text)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
