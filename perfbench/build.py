#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources, then the
harness in perfbench/src, with the Scala compiler that ships among the
Spark jars named by the repository's build.sbt (`unmanagedBase`).

Usage (from the repository root): python3 perfbench/build.py
Prints the run classpath. Outputs go to perfbench/.work/build/, keyed by a
digest of the sources, so an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def spark_jars():
    """The jar directory build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        raise SystemExit(f"no jars in {m.group(1)}")
    return jars


def digest(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(sources, classpath, jars, out):
    """Compile `sources` into `out` (atomically: via a temporary directory)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    argfile = os.path.join(WORK, "tmp", "scalac.args")
    with open(argfile, "w") as f:
        f.write("-classpath\n" + os.pathsep.join(classpath) + "\n-d\n" + tmp + "\n")
        f.write("\n".join(sources) + "\n")
    compiler = [j for j in jars if re.search(r"/scala-(library|compiler|reflect)-[^/]*\.jar$", j)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile]
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"scalac failed ({rc}) on {len(sources)} sources")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Returns the classpath (list) to run the harness with."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    graft_srcs = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True))
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not graft_srcs:
        raise SystemExit(f"no graft sources under {main_src}")
    jars = spark_jars()
    build_dir = os.path.join(WORK, "build")
    os.makedirs(build_dir, exist_ok=True)
    graft_out = os.path.join(build_dir, "graft-" + digest(graft_srcs))
    bench_out = os.path.join(build_dir, "bench-" + digest(graft_srcs + bench_srcs))
    if not os.path.isdir(graft_out):
        print(f"[build] compiling {len(graft_srcs)} graft sources", file=sys.stderr)
        scalac(graft_srcs, jars, jars, graft_out)
    if not os.path.isdir(bench_out):
        print(f"[build] compiling {len(bench_srcs)} harness sources", file=sys.stderr)
        scalac(bench_srcs, [graft_out] + jars, jars, bench_out)
    # keep only the current outputs
    for d in glob.glob(os.path.join(build_dir, "*")):
        if d not in (graft_out, bench_out):
            shutil.rmtree(d, ignore_errors=True)
    return [bench_out, graft_out] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
