"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into one
class directory with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py        # prints the class directory

The output lives under $CARGO_TARGET_DIR (default .bench_build) and is
reused while the sources are unchanged (a sha256 over every source file).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jar
    directory the program's build.sbt declares as its unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"], "jars"))
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        dirs += [Path(m) for m in re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())]
    for d in dirs:
        jars = sorted(d.glob("*.jar"))
        if jars:
            return [str(j) for j in jars]
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not program:
        sys.exit("perfbench: no program sources under src/main/scala")
    return program + bench


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns (class directory, source fingerprint), compiling if needed."""
    files = sources()
    stamp = fingerprint(files)
    out = build_dir()
    classes = out / "classes"
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp and classes.is_dir():
        return classes, stamp
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    (out / "sources.txt").write_text("".join(f"{f}\n" for f in files))
    cp = os.pathsep.join(spark_jars())
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", str(tmp), "@" + str(out / "sources.txt")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (out / "stamp").write_text(stamp)
    return classes, stamp


if __name__ == "__main__":
    print(build()[0])
