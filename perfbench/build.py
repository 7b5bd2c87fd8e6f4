"""Build the program and the benchmark from source.

The program (`src/main/scala`) and the benchmark (`perfbench/src`) are
compiled together by the Scala compiler that ships in Spark's jar
directory, against those jars, with no dependency resolution and no
network. The output lands in `<build dir>/graftbench-<digest>/classes`,
where the digest covers every source file, so a build is reused exactly
when no source changed.

    python3 perfbench/build.py            # build into .bench_build
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside the spark-submit
    on PATH, else the `unmanagedBase` the repository's build.sbt names."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    if os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("no Spark jars found: set SPARK_HOME")


def compiler_classpath(jars):
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-{SCALA_VERSION}.*.jar")))
        if not found:
            raise SystemExit(f"no {name} {SCALA_VERSION} jar under {jars}")
        parts.append(found[-1])
    return os.pathsep.join(parts)


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not program:
        raise SystemExit("no program sources under src/main/scala: run from the repository root")
    if not bench:
        raise SystemExit("no benchmark sources under perfbench/src")
    return program + bench


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root, build_dir):
    """Return (classes dir, source digest), compiling when needed."""
    files = sources(root)
    key = digest(root, files)
    out = os.path.join(build_dir, f"graftbench-{key[:16]}")
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "_OK")):
        return classes, key
    jars = spark_jars()
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(tmp, "classes"),
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compilation failed (exit {done.returncode})")
    open(os.path.join(tmp, "_OK"), "w").close()
    # keep one build: older ones are never reused once the sources moved on
    for old in glob.glob(os.path.join(build_dir, "graftbench-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return classes, key


if __name__ == "__main__":
    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    print(ensure_built(root, build_dir)[0])
