"""Build file of the benchmark: compiles the library (src/main) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/classes` of the checkout.

A build is reused while a digest of every source file matches the one it
was made from. Also records the query registry (name → oracle SQL) that
the planner draws from.

    python3 perfbench/build.py
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.digest")
REGISTRY = os.path.join(OUT, "registry.json")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _files(d, ext=None):
    for base, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            if ext is None or n.endswith(ext):
                yield os.path.join(base, n)


def digest():
    h = hashlib.sha256()
    for d in SOURCES + [RESOURCES]:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for f in _files(d):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile if the sources changed; return the runtime classpath."""
    want = digest()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    srcs = [f for d in SOURCES for f in _files(d, ".scala")]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    jars = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    r = subprocess.run(["java", "-XX:-UsePerfData", *ADD_OPENS, "-cp", classpath(),
                        "graft.perfbench.Main", "list"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit("perfbench: listing the query registry failed")
    with open(REGISTRY, "w") as fh:
        fh.write(r.stdout.strip().splitlines()[-1])
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath()


def registry():
    with open(REGISTRY) as fh:
        return json.load(fh)


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    build()
    print(f"built {CLASSES}; {len(registry())} registry queries")
