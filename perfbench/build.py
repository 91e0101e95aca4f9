#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships among the engine's jars, the jar directory named by the repo's
build.sbt (`unmanagedBase`). No sbt, no network. The run classpath also
carries src/main/resources (the data source registrations).

Each of the two class trees is rebuilt only when a hash of its sources
changes. Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jars_dir(root):
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt under {root}: not a checkout of the engine")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar in {d}")
    return d


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(files, out, classpath, stamp, log):
    stamp_file = out + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return False
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out} (exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def build(root, log=sys.stderr):
    """Compile what changed; return (classpath, code stamp)."""
    jars = os.path.join(jars_dir(root), "*")
    main_src = sources(os.path.join(root, "src", "main", "scala"))
    if not main_src:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    bench_src = sources(os.path.join(BENCH_DIR, "src"))
    out = os.path.join(root, ".perfbench", "build")
    os.makedirs(out, exist_ok=True)
    main_out = os.path.join(out, "main")
    bench_out = os.path.join(out, "bench")
    main_stamp = digest(main_src, jars)
    compile_tree(main_src, main_out, jars, main_stamp, log)
    compile_tree(bench_src, bench_out, f"{main_out}:{jars}",
                 digest(bench_src, main_stamp), log)
    resources = os.path.join(root, "src", "main", "resources")
    return f"{bench_out}:{main_out}:{resources}:{jars}", main_stamp[:16]


if __name__ == "__main__":
    here = os.getcwd()
    try:
        print(build(here)[0])
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
