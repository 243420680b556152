#!/usr/bin/env python3
"""Layer-breakdown report for the graft benchmark.

    python3 graftbench/trace_report.py [--seed 1] [--workloads a,b] [--out FILE]

Runs each workload once with --trace 1 (same seed and sizes as the
untraced runs) and prints, per leg, how its wall time splits across
disjoint layers, ranked by the dominant one:

- plan: Catalyst analysis + optimization + physical planning
  (`QueryExecution.tracker` phases);
- driver: the rest of the time no Spark job was running (DataFrame
  construction, driver-side solves, collects, result handling);
- exec / exchange / task fixed: the time jobs were running, split by the
  tasks' shares of executor run time, shuffle fetch wait, and
  deserialization + scheduler delay + result serialization.

The tracing overhead and the unattributed share come from the same runs.
"""
import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402
import run  # noqa: E402

LAYERS = ("plan", "driver", "exec", "exchange", "task fixed")


def split(pc: dict) -> dict:
    plan = pc["plan.analysis_s"] + pc["plan.optimization_s"] + pc["plan.planning_s"]
    driver = max(0.0, pc["driver.s"] - plan)
    run_s = max(0.0, pc["exec.run_s"] - pc["exchange.fetch_wait_s"])
    fixed = pc["exec.deser_s"] + pc["exec.sched_delay_s"]
    total = run_s + pc["exchange.fetch_wait_s"] + fixed
    jobs = pc["jobs_s"]
    share = (lambda x: jobs * x / total) if total > 0 else (lambda x: 0.0)
    return {"plan": plan, "driver": driver, "exec": share(run_s),
            "exchange": share(pc["exchange.fetch_wait_s"]), "task fixed": share(fixed)}


def rows_for(rec: dict) -> list:
    """(dominant layer, its share, leg, per-call figures) per leg, from the
    first traced pass, ranked by dominant layer and share."""
    traced = [p for p in rec["passes"] if p["traced"]]
    out = []
    for leg, pc in traced[0]["per_call"].items():
        layers = split(pc)
        dom = max(LAYERS, key=lambda k: layers[k])
        out.append((dom, layers[dom] / pc["wall_s"] if pc["wall_s"] else 0.0, leg,
                    {**pc, **layers}))
    return sorted(out, key=lambda r: (LAYERS.index(r[0]), -r[1]))


def report(workloads, seed):
    lines = ["# Trace report", "",
             f"One traced run per workload, seed {seed}, nproc {run.nproc()}; "
             "per-leg times are from the first traced pass. Legs are "
             "grouped by their dominant layer and ranked by its share of the "
             "leg's wall time; 'unattr.' is the part of the leg's wall time that "
             "no build call, planning phase, SQL execution or job covers.", "",
             "| leg | wall s | plan | driver | exec | exchange | task fixed | unattr. | "
             "dominant (share) | exec cpu s | tasks | fixed ms/task | shuffle MB | build jobs |",
             "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|"]
    summary = []
    for w in workloads:
        rec = run.run_once(w, seed, metrics.BENCHMARK["run_seconds"], 1)
        pl = rec["per_layer"]
        summary.append(f"| {w} | {pl['trace.overhead_frac']:+.3f} | "
                       f"{pl['trace.unattributed_frac']:.4f} | "
                       f"{pl['exec.task_fixed_ms']:.2f} | {pl.get('kernels.useful_frac', 0):.3f} | "
                       f"{rec['failed']} |")
        for dom, share, leg, g in rows_for(rec):
            lines.append(
                f"| {w}: {leg} | {g['wall_s']:.3f} | " +
                " | ".join(f"{g[k]:.3f}" for k in LAYERS) +
                f" | {g['unattributed_s']:.3f} | {dom} ({share:.0%}) | {g['exec.cpu_s']:.3f} | "
                f"{g['exec.tasks']:.0f} | {g['exec.task_fixed_ms']:.1f} | "
                f"{g['exchange.write_mb']:.2f} | {g['plan.build_jobs']:.0f} |")
    lines += ["", "| workload | trace.overhead_frac | trace.unattributed_frac | "
              "exec.task_fixed_ms | kernels.useful_frac | failed calls |",
              "|---|---|---|---|---|---|"] + summary
    return "\n".join(lines) + "\n"


def main():
    ap = argparse.ArgumentParser(description="per-leg layer breakdown")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(metrics.WORKLOADS))
    ap.add_argument("--out")
    a = ap.parse_args()
    text = report(a.workloads.split(","), a.seed)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
