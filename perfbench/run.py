#!/usr/bin/env python3
"""Builds graft and the benchmark from source, runs one workload, prints the result.

    python3 perfbench/run.py --workload fk_dump|stores --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The build compiles ``src/main/scala`` and
``perfbench/src`` with the Scala compiler shipped in Spark's jars into one jar
under ``$CARGO_TARGET_DIR/perfbench`` (default ``.bench_build/perfbench``),
then runs the self-test once to record a class-data archive of the classes a
run loads, which every run maps instead of loading them from Spark's jars
again. Both are reused while no source changes. The program runs in one JVM
launched directly (no build tool in between) in one fixed configuration: a
2 GiB heap (``-Xms`` = ``-Xmx``), JIT stopped at C1 and code-cache flushing
off so that compilation settles within warmup, and Spark at ``local[2]`` (set
in ``perfbench.Main``). Its scratch files stay under the build directory and
are deleted when the run ends.

The last line of standard output is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics of BENCHMARK.json with
``--trace 0`` and its per-layer metrics with ``--trace 1``. The line before it
carries every recorded metric with its sample count and tail percentile. A run
in which an op failed its check still prints the result, with ``correct``
false and whatever metrics the passing ops recorded.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RUN_TIMEOUT_S = 170
HEAP = "2g"
# JIT must settle within warmup: C2 kept compiling through every op of a
# one-minute run, and with code-cache flushing the sweeper evicted methods
# after warmup, so that their recompilation (about 4 s of compile time per op)
# slowed one timed round of every run
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:-UseCodeCacheFlushing"]

# Spark 4 on JDK 17 outside spark-submit needs these (the flags the
# project's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"


def spark_jars():
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in homes:
        if (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    fail("no Spark jars found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build():
    """Compiles the program and the benchmark into a jar and records the
    class-data archive; returns the jar."""
    for s in SOURCES:
        if not s.is_dir():
            fail(f"missing source directory {s.relative_to(ROOT)}; run from a graft checkout")
    files = sorted(p for s in SOURCES for p in s.rglob("*.scala"))
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    jar = out / "perfbench.jar"
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp and jar.is_file():
        return jar
    (out / "stamp").unlink(missing_ok=True)
    archive().unlink(missing_ok=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = out / "sources.txt"
    args.write_text("\n".join(str(p) for p in files) + "\n")
    t = time.time()
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    # a jar, not a directory: the class-data archive covers only classes from jars
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(tmp.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    print(f"perfbench: built {len(files)} sources in {time.time() - t:.1f}s", file=sys.stderr)
    t = time.time()
    scratch = out / "archive-run"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        run_jvm(jar, "perfbench.SelfTest", [str(scratch)], scratch, out / "last-archive.log",
                [f"-XX:ArchiveClassesAtExit={archive()}"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if not archive().is_file():
        print("perfbench: no class-data archive recorded; runs load classes from the jars",
              file=sys.stderr)
    print(f"perfbench: recorded the class-data archive in {time.time() - t:.1f}s", file=sys.stderr)
    (out / "stamp").write_text(stamp)
    return jar


def archive():
    return build_dir() / "classes.jsa"


def jvm_command(jar, main, args, scratch, extra):
    shared = [f"-XX:SharedArchiveFile={archive()}"] if archive().is_file() and not extra else []
    return [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={scratch / 'tmp'}",
            "-Dspark.ui.enabled=false"] + JVM_OPTS + shared + extra + \
        [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-cp", f"{jar}:{spark_jars()}/*", main] + args


def run_jvm(jar, main, args, scratch, log, extra=()):
    """Runs one JVM to completion (killed past the time limit); returns its exit code."""
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(jvm_command(jar, main, args, scratch, list(extra)),
                             cwd=scratch, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # a terminated run still stops and reaps its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_path.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]

    jar = build()
    out = build_dir()
    scratch = out / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    result = scratch / "result.json"
    log = out / f"last-{a.workload}.log"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace,
            "--scratch", str(scratch), "--out", str(result)]
    if a.trace == "1":
        args += ["--spans", str(out / f"spans-{a.workload}-{a.seed}.jsonl")]
    t_jvm = time.time()
    try:
        code = run_jvm(jar, "perfbench.Main", args, scratch, log)
        print(f"perfbench: JVM ran {time.time() - t_jvm:.1f}s", file=sys.stderr)
        if code != 0 or not result.is_file():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"benchmark JVM exited with {code}; log at {log}")
        full = json.loads(result.read_text())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    for f in full["failures"]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(full))
    # a failed op drops its samples, so a run with failures may lack a metric;
    # it is still reported as incorrect rather than as a crash
    metrics = {}
    for m in wanted:
        got = full["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            if full["failed"] > 0:
                continue
            fail(f"the run recorded no value for {m['name']}")
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} is in {got['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    print(json.dumps({"correct": full["failed"] == 0, "attempted": full["attempted"],
                      "failed": full["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
