#!/usr/bin/env python3
"""Build the program and the benchmark for perfbench.

Compiles every Scala source under `src/main/scala` (plus the resources under
`src/main/resources`) and then the benchmark's own sources under
`perfbench/src` with `scalac` from the Spark distribution the program runs
on. No sbt is involved, and the repository's own build is not touched.

Outputs go to `.bench_build/perfbench/` under the checkout root. A build is
skipped when a stamp of every input (source paths and contents, jar list)
matches the last one.

Usage (from the checkout root):  python3 perfbench/build.py
Prints the runtime classpath on success.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")


def spark_jars(root):
    """Directory of the Spark jars: `$SPARK_HOME/jars`, else the directory
    the root build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    comp = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
            if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", n)]
    if len(comp) != 3:
        raise SystemExit("perfbench: scala-compiler/library/reflect not found in %s" % jars)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-cp", classpath, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: scalac failed (exit %d)" % r.returncode)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(root="."):
    """Compiles what changed; returns the runtime classpath string."""
    root = os.path.abspath(root)
    main_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "src")
    prog = _sources(main_src)
    bench = _sources(bench_src)
    if not prog or not bench:
        raise SystemExit("perfbench: program sources not found under %s" % main_src)
    jars = spark_jars(root)
    bdir = os.path.join(root, BUILD_DIR)
    os.makedirs(bdir, exist_ok=True)
    prog_out = os.path.join(bdir, "program")
    bench_out = os.path.join(bdir, "bench")
    jar_cp = os.path.join(jars, "*")

    stamp_file = os.path.join(bdir, "program.stamp")
    resources = [f for f in glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True)
                 if os.path.isfile(f)]
    stamp = _stamp(prog + sorted(resources), jars)
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isdir(prog_out)):
        _scalac(jars, jar_cp, prog_out, prog)
        res = os.path.join(root, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, prog_out, dirs_exist_ok=True)
        open(stamp_file, "w").write(stamp)
        if os.path.exists(os.path.join(bdir, "bench.stamp")):
            os.remove(os.path.join(bdir, "bench.stamp"))

    stamp_file = os.path.join(bdir, "bench.stamp")
    stamp = _stamp(bench, jars) + open(os.path.join(bdir, "program.stamp")).read()
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isdir(bench_out)):
        _scalac(jars, prog_out + ":" + jar_cp, bench_out, bench)
        open(stamp_file, "w").write(stamp)

    return ":".join([bench_out, prog_out, jar_cp])


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else "."))
