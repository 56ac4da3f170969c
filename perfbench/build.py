"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perfbench/src) into .bench_build/classes.

It is one scalac run over the same sources and class path build.sbt uses:
the Spark jars, which also ship the Scala compiler. That is much quicker
than starting sbt. The build is skipped while the digest of every input
file is unchanged.

    python3 perfbench/build.py        # from the root of the checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", HERE / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars() -> str:
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` that
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return str(Path(os.environ["SPARK_HOME"]) / "jars" / "*")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
    return str(Path(m.group(1)) / "*")


def inputs():
    files = []
    for d in SOURCES + [RESOURCES]:
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def digest(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built() -> Path:
    """Returns the class directory, compiling first if any input changed."""
    for d in SOURCES:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d}")
    classes = BUILD / "classes"
    stamp = BUILD / "classes.sha256"
    files = inputs()
    want = digest(files)
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    scala = [str(p) for p in files if p.suffix == ".scala"]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", spark_jars()] + scala
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout)
        raise SystemExit(f"perfbench: compilation failed ({done.returncode})")
    shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(want)
    return classes


if __name__ == "__main__":
    print(ensure_built())
