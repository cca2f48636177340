#!/usr/bin/env python3
"""Benchmark of the tweet ETL and the query registry.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark (perfbench/build.sh) into .bench_build/. Each run starts one JVM
on local[nproc], prints one line per metric with its unit and whether the
correctness check passed, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Per-batch and
per-query detail and the trace spans go to perfbench/out/<workload>-seed<N>-
trace<T>.json; a traced run whose untraced twin (same workload and seed) has
already run also reports the tracing overhead there.

Workloads: etl_trickle and queries_heavy (BENCHMARK.json says why each was
chosen), and etl_bulk, which runs the same way but is not in BENCHMARK.json
(see README.md). --fault rowcount|fingerprint feeds the correctness check a
wrong expectation; the run must then report "correct": false.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench-classes")
STAMP = os.path.join(BUILD, "perfbench-classes.stamp")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["etl_bulk", "etl_trickle", "queries_heavy"]
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_digest():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sh")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Builds unless the classes match the sources. Returns True if it built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found; "
                 "run from the root of a checkout")
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return False
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), CLASSES],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    return True


def jvm(main, args, work, log_path, limit_s):
    """Runs one JVM to completion; returns its stdout lines, or exits 1."""
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + work,
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            main] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                env=env, cwd=work, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {limit_s:.0f} s", log_path)
    if proc.returncode != 0:
        fail(f"JVM exited with code {proc.returncode}", log_path)
    return out.decode("utf-8", "replace").splitlines()


def fail(msg, log_path):
    sys.stderr.write(f"perfbench: {msg}; last lines of {log_path}:\n")
    with open(log_path, errors="replace") as f:
        sys.stderr.write("".join(f.readlines()[-30:]))
    sys.exit(1)


def parse_summary(line, traced):
    s = json.loads(line)
    if set(s) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"summary keys {sorted(s)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    missing = [n for n in want if n not in s["metrics"]]
    if missing:
        raise ValueError(f"summary lacks metrics {missing}")
    return s


def tracing_overhead(artifact_path, untraced_path):
    """Traced minus untraced end-to-end figures, written into the traced
    artifact and returned as printable lines."""
    if not os.path.isfile(untraced_path):
        return []
    with open(artifact_path) as f:
        traced = json.load(f)
    with open(untraced_path) as f:
        plain = json.load(f)
    over = {}
    for name, m in traced["end_to_end"].items():
        base = plain["end_to_end"].get(name, {}).get("value")
        if base:
            d = m["value"] - base
            over[name] = {"traced": m["value"], "untraced": base,
                          "overhead": d, "overhead_share": d / base, "unit": m["unit"]}
    traced["tracing_overhead"] = over
    with open(artifact_path, "w") as f:
        json.dump(traced, f)
    return [f"tracing overhead {n}: {o['overhead']:+.4f} {o['unit']} "
            f"({o['overhead_share']:+.2%} of untraced)" for n, o in over.items()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", choices=["rowcount", "fingerprint"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    start = time.time()
    built = build()
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - start)
    os.makedirs(OUT, exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    log_path = os.path.join(OUT, tag + ".log")
    try:
        if a.selftest:
            lines = jvm("perfbench.SelfTest", ["--work", work], work, log_path, limit)
            print("\n".join(lines))
            sys.exit(0 if lines and lines[-1] == "selftest: passed" else 1)
        artifact = os.path.join(OUT, tag + ".json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--bench-dir", HERE, "--work", work, "--artifact", artifact]
        if a.fault:
            args += ["--fault", a.fault]
        lines = jvm("perfbench.Main", args, work, log_path, limit)
        if not lines:
            fail("no output", log_path)
        try:
            summary = parse_summary(lines[-1], a.trace == 1)
        except ValueError as e:
            fail(f"unusable summary line ({e})", log_path)
        print("\n".join(lines[:-1]))
        if a.trace == 1:
            untraced = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace0.json")
            for line in tracing_overhead(artifact, untraced):
                print(line)
        print(f"artifact: {os.path.relpath(artifact, ROOT)}")
        print(json.dumps(summary, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
