#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage (from the repository root):

    python3 perfbench/run.py --workload ocsf_trickle|operator_suite \
        --seed N --seconds S --trace 0|1

Steps:
 1. Build: compile the repository's `src/main/scala` together with the
    harness in `perfbench/src` with the Scala compiler that ships in the
    Spark jar directory named by the root build.sbt (`unmanagedBase`).
    Classes go to `.bench_build/perfbench/classes` and are reused while
    the sources are unchanged.
 2. Inputs: `ocsf_trickle` gets a seeded SARIF corpus from
    `sarifgen.py`, with as many timed arrivals as `--seconds` holds;
    `operator_suite` reads the parquet tables in `perfbench/data/sf0.01`
    (its inputs and query order are the same for every seed).
 3. Run `perfbench.Harness` in a fresh JVM, then print one JSON object:
    {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
    metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
    they are the per-layer metrics. A traced run times twice as many
    units as `--seconds` gives it and traces half of them, in the order
    traced, untraced, untraced, traced (new-scan arrivals only on
    `ocsf_trickle`), so it
    also reports the tracing overhead (`trace.overhead_s`, median traced
    unit minus median untraced unit of the same kind). A metric the
    harness did not produce fails the run, except the metrics of layers
    the workload never calls (NOT_CALLED), which read 0.

Exits non-zero, without a result line, if the build, the JVM or the
input generation fails (a JVM out-of-memory error included).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
HEAP = "3g"
JVM_TIMEOUT_S = 165
WORKLOADS = ("ocsf_trickle", "operator_suite")
# ocsf_trickle: an arrival takes about 3.5 s on 4 cores
ARRIVAL_S = 3.5
# per-layer metric prefixes of the layers each workload never calls
NOT_CALLED = {
    "ocsf_trickle": ("queries.", "shared_build."),
    "operator_suite": ("bulk.", "convert.", "enrich.", "landing.", "monitor.", "staging.",
                       "core."),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the root build compiles against."""
    build = ROOT / "build.sbt"
    if not build.is_file():
        fail("no build.sbt at the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
    if not m or not Path(m.group(1)).is_dir():
        fail("build.sbt names no readable unmanagedBase jar directory")
    jars = sorted(Path(m.group(1)).glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        fail("no scala-compiler jar in the unmanagedBase directory")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail("no src/main/scala: run from a full checkout of the repository")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    stamp, classes = BUILD / "stamp", BUILD / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return classes
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(str(j) for j in jars)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(h.hexdigest())
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, args, work, traced):
    out = work / f"result_{int(traced)}.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes)] + [str(j) for j in jars])
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:+ExitOnOutOfMemoryError", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if traced else "0",
            "--inputs", str(work / "inputs"), "--work", str(work / f"state_{int(traced)}"),
            "--data", str(BENCH / "data" / "sf0.01"),
            "--expected", str(BENCH / "expected" / "operator_suite.tsv"),
            "--out", str(out)]
    if args.record:
        # record_expected.py: observed counts and hashes, and each result
        cmd += ["--record", str(Path(args.record) / "operator_suite.tsv"),
                "--dump", str(Path(args.record) / "dump")]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=str(work))
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness JVM did not finish within {JVM_TIMEOUT_S} s")
    if code != 0:
        fail(f"harness JVM exited with code {code}"
             + (" (out of memory)" if code == 3 else ""))
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help=argparse.SUPPRESS)
    # ocsf_trickle corpus variant, for the UID-mix sensitivity check
    ap.add_argument("--uid-mix", default="mixed", help=argparse.SUPPRESS)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("no BENCHMARK.json at the repository root")
    spec = json.loads(spec_path.read_text())
    jars = spark_jars()
    classes = build(jars)

    work = ROOT / ".bench_build" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if args.workload == "ocsf_trickle":
            # a fixed count, not a deadline, so every run of a seed
            # times the same arrivals
            timed = max(3, round(args.seconds / ARRIVAL_S)) * (2 if args.trace else 1)
            r = subprocess.run([sys.executable, str(BENCH / "sarifgen.py"),
                                str(work / "inputs"), str(args.seed), "--timed", str(timed),
                                "--uid-mix", args.uid_mix])
            if r.returncode != 0:
                fail("SARIF generation failed")
        result = run_jvm(classes, jars, args, work, traced=bool(args.trace))
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        names = [m["name"] for m in wanted]
        for m in wanted:
            n = m["name"]
            if result["metrics"].get(n, {}).get("value") is not None:
                continue
            if args.trace and n.startswith(NOT_CALLED[args.workload]):
                # a layer the workload never calls did no work
                result["metrics"][n] = {"value": 0.0, "unit": m["unit"]}
            else:
                print(f"[perfbench] CHECK FAILED: metric {n} was not produced", file=sys.stderr)
                result["correct"] = False
                result["metrics"].pop(n, None)
        if args.trace:
            (ROOT / ".bench_build" / "traces").mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "state_1" / "trace.jsonl",
                        ROOT / ".bench_build" / "traces" / f"{args.workload}-{args.seed}.jsonl")
        known = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
        extra = sorted(set(result["metrics"]) - known)
        if extra:
            print(f"[perfbench] not in BENCHMARK.json, dropped: {extra}", file=sys.stderr)
        result["metrics"] = {n: result["metrics"][n] for n in names if n in result["metrics"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for n, m in result["metrics"].items():
        print(f"[perfbench] {args.workload} {n} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
