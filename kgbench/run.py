#!/usr/bin/env python3
"""Production-path KG benchmark.

Runs one workload in one JVM at local[4] and prints, as the last line of
standard output, one JSON object with `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1). Earlier lines name the input (row counts and a content
hash), the output checks, and each workload's own named metrics.

    python3 kgbench/run.py --workload kg-build --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --smoke     # all workloads, tiny fixed input

Builds the program from source first (see build.py). Everything it
writes stays under the build dir: compiled classes, a work dir
that each run removes, and the span files of traced runs.
"""
import argparse
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("kg-build", "kg-incremental")
RUN_TIMEOUT_S = 175
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required unless --smoke")

    classes = build.build()
    work = build.build_dir() / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jvm = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}:{build.spark_classpath()}",
    ]
    args = ["--work", str(work)] + (["--smoke"] if a.smoke else [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    sys.stdout.flush()
    try:
        return subprocess.run(["java", *jvm, "kgbench.Main", *args], timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"kgbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
