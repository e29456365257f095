#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (kgbench/src) using the Scala compiler that ships in
Spark's jar directory, into <build dir>/classes. The build dir is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the checkout
root. A rebuild happens only when a source file changed.

    python3 kgbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "kgbench" / "src"


def build_dir() -> pathlib.Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_classpath() -> str:
    """Spark's jar directory: $SPARK_HOME/jars, else the first Spark
    installation whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(pathlib.Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if pathlib.Path(d, "spark-submit").is_file()]
    for home in homes:
        if home and (pathlib.Path(home) / "jars").is_dir():
            return str(pathlib.Path(home) / "jars" / "*")
    raise SystemExit("kgbench: Spark's jars not found; set SPARK_HOME")


def build() -> pathlib.Path:
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"kgbench: program sources not found at {PROGRAM_SRC}")
    sources = sorted(p for d in (PROGRAM_SRC, BENCH_SRC) for p in d.rglob("*.scala"))
    digest = hashlib.sha256()
    for p in sources:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    out = build_dir() / "classes"
    stamp = build_dir() / "classes.sha256"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", spark_classpath(), "-d", str(out), f"@{argfile}"],
        check=True, stdout=sys.stderr)
    stamp.write_text(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
