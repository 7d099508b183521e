#!/usr/bin/env python3
"""Table-layer benchmark of the graft engine.

Builds the engine and the benchmark (perfbench/build.sbt) from source, runs
one workload in a fresh JVM and prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload crud_cycle --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones. `--workload all` runs every workload in turn (the gated ones of
BENCHMARK.json plus the dedup_corpus control). Every run also prints its detail
metrics by name and unit. The full record of each run (host context, per-op
latencies, per-layer split) is written under .bench_build/records/. The exit code is non-zero when any op's result differs
from its plain-Spark reference, or when the run fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Runnable here and by `--workload all`, but left out of BENCHMARK.json so the
# gated runs fit their time budget.
CONTROL_WORKLOADS = ["dedup_corpus"]
# Per-layer metrics of layers a workload never drives read 0 there; any
# other missing per-layer metric is an instrumentation fault.
NOT_EXERCISED = {
    "crud_cycle": ("ops.", "catalog.load_"),
    "trickle_lookup": ("ops.", "mutate.", "compact."),
    "dedup_corpus": ("mutate.", "compact.", "catalog.load_"),
}

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "src" / "main", ROOT / "project", BENCH / "src" / "main",
                 BENCH / "project"):
        if base.is_dir():
            files += [p for p in base.rglob("*")
                      if p.is_file() and "target" not in p.relative_to(ROOT).parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    BUILD.mkdir(exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve only from the local caches, as the engine's test tier does
        repos = Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if repos.is_file() else "")
    (BUILD / "tmp").mkdir(exist_ok=True)
    env["SBT_OPTS"] += f" -Dsbt.server.autostart=false -Djava.io.tmpdir={BUILD / 'tmp'}"
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(proc)
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
        out.write(stdout)
    if proc.returncode != 0:
        fail(f"build failed (log: {log})")
    lines = [l for l in stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath (log: {log})")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def kill(proc):
    """Stop a child and everything it started, then wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_jvm(cp, workload, seed, seconds, trace):
    """One workload in a fresh JVM; returns (result dict or None, record path)."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    record = BUILD / "records" / f"{tag}.json"
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), "-Xmx3g",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", str(work), "--record", str(record)]
    env = dict(os.environ)
    env["PERFBENCH_CLK_TCK"] = str(os.sysconf("SC_CLK_TCK"))
    with open(BUILD / "logs" / f"{tag}.stderr", "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(proc)
            stdout = ""
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return result, record


def load_spec():
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        fail("BENCHMARK.json not found at the repository root")
    return json.loads(spec.read_text())


def print_record(record):
    """Every detail metric of a run, by name and unit."""
    rec = json.loads(record.read_text())
    units = {"s": "s", "ms": "ms", "mb": "MB", "amp": "ratio", "share": "ratio"}
    for name, value in rec["metrics"].items():
        unit = units.get(name.rsplit("_", 1)[-1], "")
        print(f"{rec['workload']}: {name} = {value:.6g} {unit}".rstrip())
    for f in rec["failures"]:
        print(f"{rec['workload']}: FAILED {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]] + CONTROL_WORKLOADS
    wanted = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in wanted):
        fail(f"unknown workload {args.workload!r} (known: {', '.join(names)})")
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    cp = build()

    correct, attempted, failed, out = True, 0, 0, {}
    for w in wanted:
        result, record = run_jvm(cp, w, args.seed, args.seconds, args.trace)
        if result is None:
            fail(f"{w}: the run produced no result (see .bench_build/logs/)", 1)
        if record.is_file():
            print_record(record)
        correct &= bool(result["correct"])
        attempted += int(result["attempted"])
        failed += int(result["failed"])
        for m in metrics:
            got = result["metrics"].get(m["name"])
            if got is None and args.trace and m["name"].startswith(NOT_EXERCISED[w]):
                got = {"value": 0}
            if got is None or not isinstance(got.get("value"), (int, float)) \
                    or not math.isfinite(got["value"]):
                fail(f"{w}: metric {m['name']} missing or not a number", 1)
            key = m["name"] if len(wanted) == 1 else f"{w}.{m['name']}"
            out[key] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
