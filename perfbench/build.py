#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships among the Spark jars, into the build directory.

The build directory is $CARGO_TARGET_DIR when set (relative to the checkout
root), else .bench_build. A stamp over every source file skips the compile
when nothing changed. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jar directory the repo's build.sbt compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def jvm_opens():
    """The --add-opens list build.sbt gives forked JVMs (Spark on JDK 17)."""
    sbt = os.path.join(ROOT, "build.sbt")
    pkgs = re.findall(r'"(java\.base/[\w.]+)"', open(sbt).read()) if os.path.exists(sbt) else []
    return [a for p in pkgs for a in ("--add-opens", p + "=ALL-UNNAMED")]


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("program sources src/main/scala not found under " + ROOT)
    own = os.path.join(ROOT, "perfbench", "src")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))
    resources = sorted(glob.glob(os.path.join(ROOT, "src", "main", "resources", "*")))
    return files, resources


def build():
    """Compile when a source changed; return the classes directory."""
    out = build_dir()
    classes = os.path.join(out, "classes")
    files, resources = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + out, "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        raise BuildError("Scala compile failed")
    for r in resources:
        shutil.copy(r, tmp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
