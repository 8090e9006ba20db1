#!/usr/bin/env python3
"""Benchmark runner: builds the program and the harness from source, runs
one workload in a fresh JVM, and prints the result.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. `--workload all` runs every workload in
turn, each in its own JVM, and prefixes each metric with the workload.

Build output goes to perfbench/target; inputs, outputs, logs and span files
go to .perfbench/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
STATE = ROOT / ".perfbench"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890
# -XX:-UsePerfData: no hsperfdata file outside the checkout.
JAVA_OPTS = [
    "-Xmx3g",
    "-XX:+UseG1GC",
    "-XX:-UsePerfData",
] + [
    arg
    for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]
# Metrics that only one workload has; the other reports them as 0.
ONLY_ON = {"etl.": "migration_full", "graph.": "graph_hot"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build(deadline):
    """Compile once per source state; returns the runtime classpath."""
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    cp_file = STATE / "build" / "classpath.txt"
    if cp_file.exists():
        cached = cp_file.read_text().split("\n", 1)
        if cached[0] == stamp:
            return cached[1].strip(), False
    log = STATE / "build" / "sbt.log"
    tmp = STATE / "build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = str(pathlib.Path(submit).resolve().parent.parent)
    with open(log, "w") as out:
        proc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
    lines = log.read_text().splitlines()
    classes = str(BENCH / "target" / "scala-2.13" / "classes")
    if proc.returncode != 0 or not lines or classes not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    cp_file.write_text(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip(), True


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec, {
        "0": [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        "1": [(m["name"], m["unit"]) for m in spec["per_layer"]],
    }


def run_one(workload, seed, seconds, trace, classpath, deadline):
    """One fresh JVM; returns (correct, attempted, failed, {name: (value, unit)})."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = STATE / "work" / f"{tag}-{os.getpid()}"
    runs = STATE / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    out = runs / f"{tag}.txt"
    log = runs / f"{tag}.log"
    out.unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
           "--out", str(out), "--launch-ms", str(int(time.time() * 1000))]
    try:
        with open(log, "w") as lf:
            proc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"{workload}: run exceeded its time limit (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not out.exists():
        fail(f"{workload}: JVM exited with {proc.returncode} (log: {log})")
    metrics, status = {}, None
    for line in out.read_text().splitlines():
        if line.startswith("#status"):
            status = line
        elif line.startswith("#"):
            print(f"{workload}: {line[1:].strip()}")
        elif line.strip():
            name, value, unit = line.split()
            metrics[name] = (float(value), unit)
            print(f"{workload}: {name} = {value} {unit}")
    if status is None or status == "#status error":
        fail(f"{workload}: run did not complete (log: {log})")
    fields = dict(kv.split("=") for kv in status.split()[1:])
    attempted, failed = int(fields["attempted"]), int(fields["failed"])
    return failed == 0, attempted, failed, metrics


def select(workload, trace, metrics, wanted):
    """The declared metrics of this mode, in declared order."""
    chosen = {}
    for name, unit in wanted:
        owner = next((w for p, w in ONLY_ON.items() if name.startswith(p)), None)
        if name in metrics:
            value, got_unit = metrics[name]
            if got_unit != unit:
                fail(f"{workload}: {name} reported in {got_unit}, declared in {unit}")
            chosen[name] = {"value": value, "unit": unit}
        elif trace == "1" and owner is not None and owner != workload:
            chosen[name] = {"value": 0, "unit": unit}
        else:
            fail(f"{workload}: declared metric {name} was not reported")
    return chosen


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    started = time.time()
    # a terminated runner raises SystemExit, so subprocess.run kills and
    # reaps the build or the JVM it is waiting for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("program sources (src/main/scala/graft) not found; run from the repository root")
    spec, wanted = declared()
    names = [w["name"] for w in spec["workloads"]]
    workloads = names if a.workload == "all" else [a.workload]
    if any(w not in names for w in workloads):
        fail(f"unknown workload {a.workload!r} (known: {', '.join(names)}, all)")

    classpath, built = build(started + BUILD_LIMIT_S)
    limit = BUILD_LIMIT_S if built else RUN_LIMIT_S
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        deadline = (started + limit) if len(workloads) == 1 else time.time() + RUN_LIMIT_S
        ok, attempted, failed, metrics = run_one(w, a.seed, a.seconds, a.trace, classpath, deadline)
        chosen = select(w, a.trace, metrics, wanted[a.trace])
        total["correct"] &= ok
        total["attempted"] += attempted
        total["failed"] += failed
        prefix = f"{w}." if len(workloads) > 1 else ""
        total["metrics"].update({prefix + k: v for k, v in chosen.items()})
    print(json.dumps(total))


if __name__ == "__main__":
    main()
