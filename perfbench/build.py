#!/usr/bin/env python3
"""The benchmark's build: compiles the program and the benchmark from source.

Run from the root of a checkout:

    python3 perfbench/build.py

It prints the runtime classpath. Both source trees (`src/main/scala` and
`perfbench/src/main/scala`) are compiled in one pass of the Scala compiler
into `.bench_build/perfbench/classes`, against the jar directory that the
program's `build.sbt` names as `unmanagedBase` (else `$SPARK_HOME/jars`).
That directory also holds the compiler, the library and reflect jars of the
program's Scala version. sbt is not used: its launcher takes locks and
writes caches under the user's home directory, and the benchmark reads and
writes only inside its checkout. The build is reused while no source file,
no build file and not this script change.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
BUILD_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def log_tail(path, n=25):
    """The last `n` lines of a log, for error messages."""
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def jar_dir():
    """The directory of the program's dependency jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not (os.path.isfile(sbt) and os.path.isdir(SOURCES[0])):
        raise BuildError("the program's sources (build.sbt, src/main) are missing")
    with open(sbt) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError(f"no jar directory with a Scala compiler among {candidates}")


def sources():
    files = []
    for r in SOURCES:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    java = [f for f in files if f.endswith(".java")]
    if java:
        raise BuildError(f"Java sources are not built by this script: {java[0]}")
    return [f for f in files if f.endswith(".scala")]


def digest(files, jar_paths):
    h = hashlib.sha256()
    for f in files + [os.path.join(ROOT, "build.sbt"), os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jar_paths).encode())
    return h.hexdigest()


def build():
    """Compiles what changed since the last build; returns the classpath."""
    jar_paths = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    classpath = os.pathsep.join([CLASSES] + jar_paths)
    files = sources()
    stamp = os.path.join(OUT, "build.json")
    want = digest(files, jar_paths)
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if json.load(fh).get("digest") == want:
                return classpath
    tmp = os.path.join(OUT, "tmp")
    fresh = CLASSES + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    compiler = [j for j in jar_paths if re.search(
        r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    log = os.path.join(OUT, "build.log")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
           "-d", fresh, "-classpath", os.pathsep.join(jar_paths)] + files
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            raise BuildError(f"build timed out; see {log}")
    if rc != 0:
        raise BuildError(f"build failed; see {log}:\n{log_tail(log)}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    with open(stamp, "w") as fh:
        json.dump({"digest": want}, fh)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
