#!/usr/bin/env python3
"""The graft benchmark: one workload, one closed-loop client, every answer
checked.

    python3 perfbench/run.py --workload <point_reads|analytics|dml_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), generates the workload's inputs from the seed
(gen.py), runs them in one JVM on local[nproc] (scala/graft/perfbench),
checks every answer against DuckDB over the fixture (oracle.py), and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run
alternates traced and untraced calls and prints the per-layer metrics.
The fixture directory is $GRAFT_FIXTURE, by default testdata/sf0.1 in the
home directory; it is only read.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_mem():
    """Half the machine's memory, clamped to 2..8 GiB (the test suite's
    SPARK_DRIVER_MEM rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, args, work, share):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: a run is too short for C2 to settle, and its compiles
    # landing at random points of the timed window swung call times ±30%
    cmd = (["java", f"-Xmx{driver_mem()}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", share,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    # PYSPARK_PYTHON names no program: the benchmark uses no Python data
    # source, and Spark's lookup of them would start a Python worker
    # inside the timed set-up
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                            env=dict(os.environ, TMPDIR=tmp, PYSPARK_PYTHON="perfbench-no-python"))
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark process exceeded {JVM_TIMEOUT_S}s")
    if rc != 0:
        fail(f"benchmark process exited with code {rc}")


def jvm_args(workload, inputs, work, fixture, seconds, trace):
    path = os.path.join(work, "inputs.json")
    with open(path, "w") as f:
        json.dump(inputs, f)
    return ["--workload", workload, "--inputs", path, "--out", os.path.join(work, "out.json"),
            "--fixture", os.path.abspath(fixture), "--work", work,
            "--seconds", str(seconds), "--trace", str(trace)]


def class_archive(cp, fixture, dom):
    """The JVM's class data archive of the classes a session loads, made
    once per build by an untimed point_reads set-up. It takes a few
    seconds off every later process start."""
    if not os.path.exists(build.ARCHIVE):
        work = os.path.join(build.OUT, "train")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        tmp = build.ARCHIVE + ".tmp"
        run_jvm(cp, jvm_args("point_reads", gen.inputs("point_reads", 0, dom), work, fixture, 0, 0),
                work, f"-XX:ArchiveClassesAtExit={tmp}")
        os.replace(tmp, build.ARCHIVE)
        shutil.rmtree(work, ignore_errors=True)
    return f"-XX:SharedArchiveFile={build.ARCHIVE}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    fixture = os.environ.get("GRAFT_FIXTURE") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(fixture, "orders.parquet")):
        fail(f"no fixture at {fixture!r}")
    cp = build.build()
    con = oracle.connect(fixture, os.cpu_count() or 1)
    dom = oracle.domain(con)
    share = class_archive(cp, fixture, dom)

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = gen.inputs(a.workload, a.seed, dom)
    run_jvm(cp, jvm_args(a.workload, inputs, work, fixture, a.seconds, a.trace), work, share)
    with open(os.path.join(work, "out.json")) as f:
        result = json.load(f)

    w = result["workload"]
    print(f"perfbench: jvm boot {result['jvm_boot_s']:.1f}s, session {result['session_s']:.1f}s, "
          f"build {w['build_s']:.1f}s, warm-up {w['warmup_s']:.1f}s, "
          f"{sum(op['phase'] == 'timed' for op in result['ops'])} timed calls", file=sys.stderr)
    t0 = time.time()
    ops, changed = result["ops"], {}
    if a.workload == "point_reads":
        wrong = oracle.check_point_reads(con, inputs, result)
    elif a.workload == "analytics":
        wrong = oracle.check_analytics(con, result, ops)
    else:
        wrong, changed = oracle.check_dml(con, inputs, ops)
    bad = metrics.failures(ops, wrong)
    print(f"perfbench: checked {len(ops)} calls in {time.time() - t0:.1f}s, {len(bad)} failed",
          file=sys.stderr)
    for i in sorted(bad)[:5]:
        print(f"perfbench: failed {ops[i]['kind']} {ops[i]['name']}: {ops[i]['error']}", file=sys.stderr)

    if a.trace:
        values = layers.per_layer(a.workload, result, bad, changed)
    else:
        values = metrics.end_to_end(a.workload, result, bad)
    print(json.dumps({
        "correct": not bad,
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
