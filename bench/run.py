#!/usr/bin/env python3
"""The graft benchmark. Run it from the root of a source checkout:

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 bench/run.py --selftest     # the output checks catch broken outputs
    python3 bench/run.py --record       # gate digest table + per-gate records

It builds the engine and the benchmark from source into `.bench_build/`
(once per source digest), runs one workload in a fresh JVM and prints the
JVM's stamp and summary lines, then the result object as the last line.
Scratch output (reference CSV files, Spark local dirs, the trace JSONL)
goes to `.bench_out/`. Workloads and metrics are described in
BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

START = time.monotonic()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
OUT = ROOT / ".bench_out"
# A run must end within 180 s; the JVM gets what is left of that.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH. They include the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not list(jars.glob("scala-compiler-2.13.*.jar")):
        fail(f"no Spark distribution with the Scala 2.13 compiler at {jars}; set SPARK_HOME")
    return jars


def sources():
    files = sorted(ENGINE_SOURCES.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return files, h.hexdigest()


def build(jars):
    files, digest = sources()
    classes = BUILD / f"classes-{digest[:16]}"
    if (classes / ".complete").is_file():
        return classes, digest
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*"] + [str(f) for f in files]
    print(f"graftbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed", 3)
    (tmp / ".complete").touch()
    if classes.exists():
        shutil.rmtree(tmp)
    else:
        tmp.rename(classes)
    for old in BUILD.glob("classes-*"):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes, digest


def commit():
    if not (ROOT / ".git").exists():
        return "unknown"
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def java(jars, classes, main, args, limit_s=RUN_LIMIT_S):
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           ["-Xmx2g", f"-Djava.io.tmpdir={OUT / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{jars}/*", main] + args)
    limit = limit_s - (time.monotonic() - START)
    try:
        return subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                              timeout=max(limit, 60))
    except subprocess.TimeoutExpired:
        fail("the benchmark JVM ran out of time and was stopped", 4)


def check_result(line, trace):
    """The last line must be the result object, with exactly the metrics
    BENCHMARK.json declares for this mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    res = json.loads(line)
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result keys {sorted(res)}", 5)
    if sorted(res["metrics"]) != sorted(want):
        missing = sorted(set(want) - set(res["metrics"]))
        extra = sorted(set(res["metrics"]) - set(want))
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}", 5)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (ENGINE_SOURCES / "graft").is_dir():
        fail(f"no graft sources under {ENGINE_SOURCES}; run from a graft checkout")
    if not (a.selftest or a.record or a.workload):
        fail("give --workload, --selftest or --record")
    jars = spark_jars()
    classes, digest = build(jars)
    common = ["--bench", str(BENCH), "--out", str(OUT)]
    if a.selftest or a.record:
        main_class = "graftbench.SelfTest" if a.selftest else "graftbench.Record"
        r = java(jars, classes, main_class, common, limit_s=1800)
        sys.stdout.write(r.stdout)
        return r.returncode
    r = java(jars, classes, "graftbench.Main", common + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--commit", commit(), "--source", digest])
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        fail(f"the benchmark JVM exited with code {r.returncode}", r.returncode or 1)
    check_result(lines[-1], a.trace == "1")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
