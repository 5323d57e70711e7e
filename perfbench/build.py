"""Build file of the benchmark.

Compiles the library (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) into one class directory, using the Scala
compiler that ships among Spark's jars. A stamp of the sources' digest
skips the compile when nothing changed.

    python3 perfbench/build.py [build dir]     # default: .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, or the first `jars` beside a `bin/spark-submit` on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = Path(d).parent / "jars"
        if (Path(d) / "spark-submit").exists() and jars.is_dir():
            return jars
    return Path("jars")


def sources(root: Path) -> list:
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += sorted((root / base).rglob("*.scala"))
    return found


def build(root: Path, build_dir: Path) -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    classes = build_dir / "classes"
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    stamp = build_dir / "classes.stamp"
    if not (stamp.exists() and stamp.read_text() == digest and classes.is_dir()):
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        cp = f"{jars}/*"
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(classes), "-classpath", cp] + [str(f) for f in srcs]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit(f"build failed (exit {r.returncode})")
        stamp.write_text(digest)
    return f"{classes}:{jars}/*"


if __name__ == "__main__":
    root = Path.cwd()
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else root / ".bench_build"
    print(build(root, out))
