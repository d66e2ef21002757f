"""Builds the program and the benchmark harness from source.

The program's main sources (`src/main/scala`, plus `src/main/resources`)
and the harness (`perfbench/src`) are compiled with the Scala compiler
that ships in the Spark jar directory named by `build.sbt`'s
`unmanagedBase`, against those same jars. Output goes under
`.bench_build/` in the checkout; a build is skipped when a hash of every
input file matches the last successful one.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory `build.sbt` compiles against (`unmanagedBase`)."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("build.sbt not found: run from the root of a checkout")
    with open(path) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def _sources(d, ext=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, out_dir, sources):
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", "4", "-d", out_dir]
    if classpath:
        cmd += ["-cp", classpath]
    proc = subprocess.run(cmd + sources, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])


def build():
    """Compiles if any input changed. Returns the jar directory, the
    program and harness class directories, and whether it compiled."""
    jars = spark_jars()
    program = _sources(PROGRAM_SRC)
    harness = _sources(HARNESS_SRC)
    if not program:
        raise BuildError("no program sources under src/main/scala")
    resources = [os.path.join(b, f) for b, _, fs in os.walk(PROGRAM_RES) for f in fs]
    prog_out = os.path.join(OUT, "program")
    harn_out = os.path.join(OUT, "harness")
    stamp = os.path.join(OUT, "stamp")
    digest = _digest(program + sorted(resources) + harness)
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return jars, prog_out, harn_out, False
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    _scalac(jars, None, prog_out, program)
    for r in resources:
        dst = os.path.join(prog_out, os.path.relpath(r, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    _scalac(jars, prog_out, harn_out, harness)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jars, prog_out, harn_out, True


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
