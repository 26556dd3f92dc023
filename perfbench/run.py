#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result line.

    python3 perfbench/run.py --workload knn_map --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (into `target/` dirs and `.bench_build/`);
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from the seed under a scratch directory, measures
one closed loop for `--seconds`, checks the outputs, removes the scratch
directory and prints one JSON object as its last line. See README.md.
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

import checks

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["knn_map", "transform_scan", "stream_sessions"]

# Spark needs these module openings on JDK 17 outside spark-submit; the
# root build.sbt passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
BUILD_SECONDS = 840


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2):
    log(msg)
    sys.exit(code)


def source_stamp() -> str:
    """Digest of every file the build reads, by path, size and mtime."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath() -> tuple:
    """The benchmark's runtime classpath, building first when stale.
    Returns (classpath, whether this call built)."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if (cp_file.is_file() and stamp_file.is_file()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text(), False
    log("building graft and the benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_SECONDS, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout)
        fail(f"sbt build failed with code {proc.returncode}", 1)
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1], True


def run_jvm(cp: str, args, work: Path, trace_out: Path, timeout: float) -> dict:
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              f"-Dderby.system.home={work / 'tmp'}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--cpus", str(cpus),
              "--trace-out", str(trace_out)])
    try:
        proc = subprocess.run(cmd, cwd=work, timeout=timeout, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"the benchmark JVM did not finish within {timeout:.0f} s", 1)
    if proc.returncode != 0:
        fail(f"the benchmark JVM exited with code {proc.returncode}", 1)
    return json.loads((work / "result.json").read_text())


def run_checks(name: str, seed: int, work: Path) -> list:
    inp, chk = work / "input", work / "check"
    if name == "knn_map":
        return checks.check_knn(inp, chk, seed)
    if name == "transform_scan":
        oracles = json.loads((chk / "oracle_sql.json").read_text())
        return checks.check_transform(inp, chk, oracles)
    return checks.check_stream(chk)


def main() -> None:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala" / "graft").is_dir()):
        fail(f"{ROOT} is not a graft checkout: build.sbt or src/main/scala/graft is missing")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp, built = classpath()
    budget = (900 if built else 180) - 8 - (time.monotonic() - started)
    work = BUILD / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    trace_out = BUILD / "traces" / f"{args.workload}-seed{args.seed}.json"
    trace_out.parent.mkdir(parents=True, exist_ok=True)
    try:
        res = run_jvm(cp, args, work, trace_out, budget)
        fails = ([f"verify: {res['verify_error']}"] if res["verify_error"]
                 else run_checks(args.workload, args.seed, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = not fails
    attempted = res["attempted"]
    # checks read one verification pass; a wrong output is wrong for every op
    failed = res["failed"] if correct else attempted
    for f in fails:
        log(f"CHECK FAILED {f}")
    log(f"checks {'passed' if correct else 'FAILED'}; fail_frac={failed / attempted:.4f} "
        f"({failed}/{attempted}); setup {json.dumps(res['setup'])}; host {json.dumps(res['host'])}; "
        f"loop {json.dumps(res['loop'])}")
    if args.trace:
        wanted, measured = spec["per_layer"], res["per_layer"]
        idle = [m["name"] for m in wanted if m["name"] in measured["not_applicable"]]
        log(f"per-layer metrics not exercised by {args.workload} read 0: "
            f"{', '.join(idle) or 'none'}; spans in {trace_out}")
    else:
        wanted, measured = spec["end_to_end"], res["end_to_end"]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
