"""Build file of the benchmark package: compiles the program
(`src/main/scala`) together with the benchmark harness
(`perfbench/harness/src`) into `.bench_build/classes` with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars).

The build is skipped when a stamp of every source file and the jar
listing matches the last build, so only the first run in a checkout
pays for it.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = pathlib.Path(__file__).resolve().parent / "harness" / "src"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not pathlib.Path(home, "jars").is_dir():
        raise BuildError("set SPARK_HOME to a Spark distribution with a jars/ directory")
    jars = pathlib.Path(home, "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources not found under {PROGRAM_SRC.relative_to(ROOT)}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns (classes_dir, jars_dir, seconds_spent_building)."""
    jars = spark_jars()
    files = sources()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    want = stamp(files, jars)
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return classes, jars, 0.0
    t0 = time.monotonic()
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp_file.unlink(missing_ok=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-cp", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        log.write(r.stdout[-4000:])
        raise BuildError("scalac failed")
    stamp_file.write_text(want)
    return classes, jars, time.monotonic() - t0


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
