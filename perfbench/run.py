#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive_topn --seed 1 \
        --seconds 6 --trace 0

Run from the repository root. Builds the harness with the library
sources (sbt, offline) on first use, launches one JVM with a local[N]
Spark session and one closed-loop client, checks every operation's
output, and prints as its last stdout line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones (and keeps the
spans under perfbench/out/). See perfbench/README.md.
"""
import argparse
import atexit
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
sys.path.insert(0, HERE)
import report  # noqa: E402

WORKLOADS = ("interactive_topn", "pipeline_iterative", "lake_write_read")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "digests.json")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.json")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the harness build depends on."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """The harness classpath, compiling first if any source changed."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    print("[perfbench] building the harness and library (sbt)", file=sys.stderr, flush=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def cores():
    """local[N] with N at most 4 and at most the CPUs this process may use."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def heap_mb():
    """SPARK_DRIVER_MEM if set, else a fifth of host memory, 1-3 GiB."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        unit = {"g": 1024, "m": 1}[mem[-1].lower()]
        return int(float(mem[:-1]) * unit)
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(3072, total_kb // 1024 // 5))


def host_sample():
    """(1-min loadavg, cumulative CPU ticks from /proc/stat)."""
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return load, ticks


def tick_share(t0, t1, field):
    """Percent of all CPU ticks between two samples spent in `field`
    (4 iowait, 7 steal)."""
    return round(100.0 * (t1[field] - t0[field]) / max(1, sum(t1) - sum(t0)), 2)


def run_jvm(classpath, scratch, main_args):
    """Run perfbench.Main with `main_args` in a pinned-heap JVM whose
    temp and Spark local dirs are under `scratch`; its exit code."""
    heap = heap_mb()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           # heap pinned (Xms = Xmx) and the young generation fixed, so
           # how much of the heap the collector touches, and with it the
           # peak RSS, does not drift with the collector's adaptive sizing
           ["-Xms%dm" % heap, "-Xmx%dm" % heap, "-Xmn%dm" % (heap // 3),
            # a fixed set of JIT compiler threads, whose CPU the harness
            # reads per op and leaves out of cpu_s_per_op
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-Dspark.local.dir=" + os.path.join(scratch, "local"),
            "-cp", classpath, "perfbench.Main",
            "--data", DATA, "--scratch", scratch, "--cores", str(cores())] + main_args)
    proc = subprocess.Popen(cmd, env=dict(os.environ, LC_ALL="C.utf8"),
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    missing = [d for d in (os.path.join(ROOT, "src", "main", "scala", "graft"), DATA)
               if not os.path.isdir(d)]
    if missing:
        raise SystemExit("perfbench: no library sources or fixtures at " + ", ".join(missing))
    classpath = build()

    scratch = os.path.join(TARGET, "run-%d-%d" % (os.getpid(), int(time.time())))
    os.makedirs(os.path.join(scratch, "tmp"))
    atexit.register(shutil.rmtree, scratch, True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    load, ticks0 = host_sample()
    out = os.path.join(scratch, "raw.json")
    rc = run_jvm(classpath, scratch, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--expected", EXPECTED, "--out", out,
        "--spawn-ms", str(int(time.time() * 1000))])
    _, ticks1 = host_sample()
    if rc != 0 or not os.path.exists(out):
        raise SystemExit("perfbench: workload JVM exited with %d" % rc)
    with open(out) as fh:
        raw = json.load(fh)

    ops = raw["ops"]
    # every warm-up and timed op is checked, and the lake mix checks its
    # final table once more
    failures = [o["error"] for o in raw["warmup_ops"] + ops if not o["ok"]]
    failures += raw["final_failures"]
    attempted = len(raw["warmup_ops"]) + len(ops) + (args.workload == "lake_write_read")
    failed = len(failures)
    if args.trace:
        metrics = report.per_layer(raw)
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        trace_file = os.path.join(HERE, "out", "trace-%s-%d.json" % (args.workload, args.seed))
        with open(trace_file, "w") as fh:
            json.dump({"ops": ops, "spans": raw["spans"]}, fh)
    else:
        metrics = report.end_to_end(raw)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": raw["cores"], "heap_mb": raw["heap_mb"],
        "loadavg_start": load,
        "steal_pct": tick_share(ticks0, ticks1, 7),
        "iowait_pct": tick_share(ticks0, ticks1, 4),
        "rounds": raw["rounds"], "samples": len(ops),
        "jit_cpu_s_per_op": sum(o["jit_cpu_s"] for o in ops) / len(ops),
        "client": {k: {"value": v, "unit": u} for k, (v, u) in report.client(
            [o for o in ops if not o["traced"]]).items()},
        "setup_phases_s": {
            "session": (raw["session_ms"] - raw["spawn_ms"]) / 1000.0,
            "fixtures": (raw["fixtures_ms"] - raw["session_ms"]) / 1000.0,
            "warmup": (raw["first_op_ms"] - raw["fixtures_ms"]) / 1000.0},
        "failed_ratio": failed / attempted,
        "failures": failures[:20],
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
