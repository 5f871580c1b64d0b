#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) from source with the Scala compiler that ships in
the Spark distribution whose jars build.sbt names as `unmanagedBase`.

    python3 perfbench/build.py        # prints the runtime classpath

Classes go under $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench)
in the checkout. Each step is skipped when a hash of its sources matches the
stamp of the last build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                   "perfbench")

# (step, source directories, steps it compiles against)
STEPS = [("main", ["src/main/scala"], []),
         ("bench", ["perfbench/src"], ["main"])]


def sources(dirs):
    files = []
    for d in dirs:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: source directory {d} is missing")
        for base, _, names in os.walk(top):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    if not files:
        raise SystemExit(f"perfbench: no Scala sources under {dirs}")
    return sorted(files)


def spark_jars():
    """The jar directory build.sbt compiles against."""
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError:
        raise SystemExit("perfbench: build.sbt is missing")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no existing unmanagedBase")
    return m.group(1)


def build():
    """Compile what changed; return the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    stamps = {}
    for step, dirs, deps in STEPS:
        files = sources(dirs)
        h = hashlib.sha256(jars.encode())
        for d in deps:
            h.update(stamps[d].encode())
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        stamps[step] = h.hexdigest()
        classes = os.path.join(OUT, step)
        stamp = os.path.join(OUT, step + ".stamp")
        if os.path.exists(stamp) and open(stamp).read() == stamps[step]:
            continue
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, step + ".sources")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cp = os.pathsep.join([os.path.join(OUT, d) for d in deps] + [jars])
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
               "-classpath", cp, "-d", classes, "-nowarn", "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit(f"perfbench: compiling {step} failed")
        with open(stamp, "w") as fh:
            fh.write(stamps[step])
    return os.pathsep.join([os.path.join(OUT, "bench"), os.path.join(OUT, "main"),
                            jars])


if __name__ == "__main__":
    print(build())
