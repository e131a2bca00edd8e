"""Build file of the curation benchmark.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/scala``) with the Scala compiler that ships in
Spark's ``jars`` directory, into ``.bench_build/classes``. A stamp of every
source file's contents skips the compile when nothing changed, so only the
first run in a checkout pays for it.

Usage: ``python3 perfbench/build.py`` (prints the classes directory).
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build"


def spark_jars():
    """The jar files of the Spark installation (SPARK_HOME, else the one
    whose ``spark-submit`` is on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = sorted(Path(home, "jars").glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no jars under {home}/jars")
    return [str(j) for j in jars]


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted((BENCH / "scala").glob("*.scala"))


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(Path(j).name for j in jars).encode())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes, stamp
    OUT.mkdir(exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
           "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes, stamp


if __name__ == "__main__":
    print(build()[0])
