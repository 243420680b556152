#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles, from source, the engine (`src/main/scala`) and then the
benchmark driver (`graftbench/scala`) with the Scala compiler that ships in
the Spark distribution's `jars/` directory, so no build tool and no
dependency resolution is involved. Classes land under
`$CARGO_TARGET_DIR/graftbench/` (default `.bench_build/graftbench/`), one
directory per stage; a stage is recompiled only when one of its sources
changed.

Usage: python3 graftbench/build.py        (prints the run classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def target_dir() -> str:
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "graftbench")


def spark_jars() -> str:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `jars/` next to the `spark-submit` found on PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def _sources(root: str) -> list:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(paths: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(name: str, srcs: list, classpath: str, jars: str) -> str:
    out = os.path.join(target_dir(), name)
    stamp = out + ".stamp"
    digest = _digest(srcs, classpath)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    print(f"[graftbench] compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {name}")
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def ensure_built() -> str:
    """Compile what changed; return the classpath that runs the benchmark."""
    engine = _sources(ENGINE_SRC)
    if not any(p.endswith(os.path.join("graft", "SparkEntry.scala")) for p in engine):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    engine_out = _compile("engine", engine, jar_cp, jars)
    bench_out = _compile("bench", _sources(BENCH_SRC),
                         os.pathsep.join([engine_out, jar_cp]), jars)
    return os.pathsep.join([bench_out, engine_out, jar_cp])


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(3)
