#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (see
build.py), starts one benchmark JVM at local[nproc] with a fixed heap, runs
the DuckDB output checks on what it left behind, and prints one JSON line
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (named in BENCHMARK.json; see README.md). A readable
summary, the generated input sizes and the load averages go to standard
error; the full run record is kept under <target>/graftbench/records/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402

HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class RunError(Exception):
    pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def java_cmd(classpath: str, work: str, args: list) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m"] + opens +
            [f"-Djava.io.tmpdir={work}", "-cp", classpath, "graftbench.Main"] + args)


def end_to_end(rec: dict) -> dict:
    """The end-to-end figures of a run record, from its untraced passes."""
    med = statistics.median
    passes = [p for p in rec["passes"] if not p["traced"]]
    return {
        "setup_s": rec["setup_s"],
        "wall_s": med(p["wall_s"] for p in passes),
        "cpu_s": med(p["cpu_s"] for p in passes),
        "peak_rss_mb": rec["peak_rss_mb"],
        "ok_frac": 1.0 - rec["failed"] / rec["attempted"],
    }


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; returns the run record with checks applied."""
    import checks  # needs duckdb; imported here so --help works without it
    classpath = build.ensure_built()
    work = os.path.join(build.target_dir(), "work",
                        f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    log = os.path.join(work, "jvm.log")
    cmd = java_cmd(classpath, work, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", out,
        "--nproc", str(nproc())])
    try:
        with open(log, "w") as lf:
            p = subprocess.run(cmd, stdout=lf, stderr=lf, cwd=work,
                               timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            raise RunError(f"benchmark JVM exited with {p.returncode}")
        with open(out) as f:
            rec = json.load(f)
        failures = dict(rec["errors"])
        failures.update(rec["check_failures"])
        for k, v in checks.run(workload, rec, work).items():
            failures.setdefault(k, v)
        rec["failures"] = failures
        rec["attempted"] = len(rec["calls"])
        rec["failed"] = sum(1 for c in rec["calls"] if c in failures)
        rec["end_to_end"] = end_to_end(rec)
        keep = os.path.join(build.target_dir(), "records")
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(keep, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
            json.dump(rec, f)
        return rec
    except subprocess.TimeoutExpired as e:
        raise RunError(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s") from e
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(rec: dict, trace: int) -> dict:
    values = rec["per_layer"] if trace else rec["end_to_end"]
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                        for n, u in metrics.names(trace)}}


def summary(rec: dict, line: dict) -> str:
    out = [f"[graftbench] {rec['workload']} seed={rec['seed']} nproc={rec['nproc']} "
           f"passes={len(rec['passes'])} heap={rec['jvm_max_heap_mb']:.0f}MB "
           f"setup rounds={rec['setup']['rounds_s']}"]
    out.append("[graftbench] input " + json.dumps(rec["input"]))
    for p in rec["passes"]:
        out.append(f"[graftbench] pass {p['index']}{' traced' if p['traced'] else ''}: "
                   f"wall {p['wall_s']:.3f} s cpu {p['cpu_s']:.3f} s jit {p['jit_s']:.3f} s "
                   f"codegen {p['codegen_compiles']} steal {p['steal_s']:.2f} s load "
                   f"{p['load_start']:.2f}/{p['load_end']:.2f}/max {p['load_max']:.2f}")
    for n, m in line["metrics"].items():
        out.append(f"[graftbench] {n:32s} {m['value']:.6g} {m['unit']}")
    for k, v in rec["failures"].items():
        out.append(f"[graftbench] FAILED {k}: {v}")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        rec = run_once(a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, RunError) as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 3
    line = result_line(rec, a.trace)
    print(summary(rec, line), file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
