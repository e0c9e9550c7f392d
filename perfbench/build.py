"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) into
one class directory, with the Scala compiler that ships among the engine's
Spark jars. A stamp over every source file skips the work when nothing
changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def spark_jars():
    """The jar directory the engine's own build uses (`unmanagedBase` in
    build.sbt), else `$SPARK_HOME/jars`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala; run from a checkout root")
    own = sorted(glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True))
    return engine + own


def build():
    """Compile if needed; returns the run classpath."""
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(out_dir(), "classes")
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(classes, ".stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    os.makedirs(classes, exist_ok=True)
    for old in glob.glob(os.path.join(classes, "**/*.class"), recursive=True):
        os.remove(old)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-classpath", f"{jars}/*", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
