"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (`src/main/scala`, `src/main/java`) and the benchmark's
sources (`perfbench/src`) are compiled together with the Scala compiler that
ships in the Spark distribution, against the Spark jars, into
`<target>/classes-<hash>`. `<target>` is `$CARGO_TARGET_DIR` when set, else
`.bench_build`, relative to the checkout root. `<hash>` covers every source
file, so an edited program is rebuilt and an unchanged one is reused.

    python3 perfbench/build.py          # prints the classes directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "src/main/java", "perfbench/src"]


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the directory
    the root build.sbt names as its `unmanagedBase`."""
    jars_dir = None
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars_dir = m and m.group(1)
    if not jars_dir or not os.path.isdir(jars_dir):
        raise SystemExit(f"build: no Spark jars under {jars_dir} (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        top = os.path.join(ROOT, d)
        for base, _, files in os.walk(top):
            out += [os.path.join(base, f) for f in files
                    if f.endswith((".scala", ".java"))]
    if not any(p.startswith(os.path.join(ROOT, "src", "main")) for p in out):
        raise SystemExit("build: no program sources under src/main; "
                         "run from the root of a full checkout")
    return sorted(out)


def target_dir():
    t = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return t if os.path.isabs(t) else os.path.join(ROOT, t)


def build():
    """Compiles if needed and returns (classes dir, classpath list)."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(target_dir(), "classes-" + h.hexdigest()[:16])
    done = os.path.join(out, ".complete")
    cp = [out] + jars
    if os.path.exists(done):
        return out, cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(target_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_srcs = [p for p in srcs if p.endswith(".java")]
    scalac = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
              "-d", out, "-classpath", os.pathsep.join(jars)] + srcs
    subprocess.run(scalac, check=True, stdout=sys.stderr)
    if java_srcs:
        javac = ["javac", "-J-XX:-UsePerfData", "-nowarn", "-d", out,
                 "-cp", os.pathsep.join(cp)] + java_srcs
        subprocess.run(javac, check=True, stdout=sys.stderr)
    open(done, "w").close()
    return out, cp


if __name__ == "__main__":
    try:
        print(build()[0])
    except subprocess.CalledProcessError as e:
        raise SystemExit(f"build: compiler failed ({e.returncode})")
