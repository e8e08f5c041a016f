"""The benchmark's build file: compiles the engine (src/main/scala) and the
harness (perfbench/harness/src) with the Scala compiler that ships in the
Spark distribution's jars, into the build directory. A stamp of every
source file's content skips the compile when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "harness", "src")
SCALAC_OPTS = ["-nowarn"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repo's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m is None:
        raise FileNotFoundError("no SPARK_HOME and no unmanagedBase in "
                                "build.sbt to find the Spark jars")
    return m.group(1)


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(files, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", tmp, "-cp", classpath, "@" + argfile]
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf,
                            stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        raise RuntimeError(f"scalac failed (exit {rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure():
    """Compile what changed; return the run classpath."""
    if not os.path.isdir(ENGINE_SRC) or not _sources(ENGINE_SRC):
        raise FileNotFoundError(f"engine sources missing: {ENGINE_SRC}")
    if not os.path.isdir(spark_jars()):
        raise FileNotFoundError(f"Spark jars missing: {spark_jars()}")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    engine = os.path.join(bd, "classes", "engine")
    harness = os.path.join(bd, "classes", "harness")
    log = os.path.join(bd, "build.log")
    steps = [(ENGINE_SRC, engine, jars),
             (HARNESS_SRC, harness, engine + os.pathsep + jars)]
    for src, out, cp in steps:
        files = _sources(src)
        stamp = _stamp(files) + ":" + (
            open(engine + ".stamp").read() if out == harness else "")
        stamp_file = out + ".stamp"
        if os.path.isdir(out) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            continue
        _scalac(files, out, cp, log)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([harness, engine, jars])


if __name__ == "__main__":
    try:
        print(ensure())
    except (FileNotFoundError, RuntimeError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
