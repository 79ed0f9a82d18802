#!/usr/bin/env python3
"""Build the benchmark: compile the library (src/main/scala) together with
the benchmark's own JVM sources (perfbench/src) with scalac from the Spark
distribution, into <build dir>/classes.

Usage: python3 perfbench/build.py        (from the repository root)

The build directory is $CARGO_TARGET_DIR when set, else .bench_build at the
repository root. A stamp (sha256 over every source file) makes a second call
a no-op until a source changes. Spark's jars come from $SPARK_HOME/jars
(the distribution build.sbt uses); they also carry the Scala 2.13 compiler.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def build_dir() -> Path:
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    p = Path(d)
    return p if p.is_absolute() else ROOT / p


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"perfbench: library sources not found at {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    res = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    return files, resources


def stamp(files, resources) -> str:
    h = hashlib.sha256()
    for f in files + resources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{build_dir() / 'classes'}:{spark_jars()}/*"


def build(quiet: bool = True) -> None:
    files, resources = sources()
    jars = spark_jars()
    if not (jars / "spark-sql_2.13-4.1.2.jar").exists() and not list(jars.glob("spark-sql_2.13-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars}")
    out = build_dir()
    classes = out / "classes"
    st = stamp(files, resources)
    stamp_file = out / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == st and classes.is_dir():
        return
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    if not quiet:
        sys.stderr.write(r.stdout)
    res_root = ROOT / "src" / "main" / "resources"
    for f in resources:
        dst = classes / f.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    stamp_file.write_text(st)


if __name__ == "__main__":
    build(quiet=False)
    print(classpath())
