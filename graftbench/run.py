#!/usr/bin/env python3
"""Build and run the graftbench harness.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the library
and the harness with sbt (offline) into the build directory
($CARGO_TARGET_DIR, default .bench_build) and reuses that build while the
sources are unchanged. Each run starts one JVM, which prints a readable
report and, as its last stdout line, the JSON result. With `--trace 1` an
untraced run of the same seed comes first, and the result adds the tracing
overhead (traced minus untraced workload_s). `--workload all` runs every
workload in turn and ends with one combined JSON line.
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
WORKLOADS = ["glm_dense", "glm_sparse_cv", "corpus"]
# a run must end within 180 s, or 900 s when it also builds: the JVMs of
# one workload (two in a traced run) share RUN_BUDGET_S after the build
JVM_TIMEOUT_S = 170
RUN_BUDGET_S = 172
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# library's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if not d.startswith(os.path.join(HERE, "project", "target"))
            and not d.startswith(os.path.join(HERE, "project", "project")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    interruption and always waits for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"graftbench: {cmd[0]} exceeded {timeout}s, killed", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(build_dir):
    """Compiles with sbt unless the stamp matches; returns the classpath."""
    stamp = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    for o in ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]:
        if o not in opts:
            opts.append(o)
    env["SBT_OPTS"] = " ".join(opts)
    out_file = os.path.join(build_dir, "sbt-export.txt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dgraftbench.target={os.path.join(build_dir, 'sbt-target')}",
           "compile", "export Runtime / fullClasspath"]
    with open(out_file, "w") as out:
        code = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT)
    with open(out_file) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def run_workload(classpath, build_dir, args, workload, trace, timeout):
    """Runs one JVM; prints its report and returns its JSON result, or
    None if it failed."""
    work = os.path.join(build_dir, "work", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(trace), "--work", work]
    try:
        log = os.path.join(work, "stdout.txt")
        with open(log, "w") as fh:
            code = run_child(cmd, timeout, cwd=ROOT, stdout=fh)
        with open(log) as fh:
            lines = fh.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        print("\n".join(lines))
        return None
    print("\n".join(lines[:-1]))
    return json.loads(lines[-1])


def measure(classpath, build_dir, args, workload, deadline):
    """The result of one workload. A traced run is preceded by an untraced
    run of the same seed; the difference of their workload_s is the tracing
    overhead."""
    def left():
        return min(JVM_TIMEOUT_S, deadline - time.time())
    if not args.trace:
        return run_workload(classpath, build_dir, args, workload, 0, left())
    plain = run_workload(classpath, build_dir, args, workload, 0, left())
    if plain is None:
        return None
    res = run_workload(classpath, build_dir, args, workload, 1, left())
    if res is None:
        return None
    untraced = plain["metrics"]["workload_s"]["value"]
    traced = res["metrics"]["trace.workload_s"]["value"]
    res["attempted"] += plain["attempted"]
    res["failed"] += plain["failed"]
    res["correct"] = res["correct"] and plain["correct"]
    res["metrics"]["trace.untraced_workload_s"] = {"value": untraced, "unit": "s"}
    res["metrics"]["trace.overhead_s"] = {"value": traced - untraced, "unit": "s"}
    print(f"  {'trace.untraced_workload_s':58s} {untraced:14.6f} s")
    print(f"  {'trace.overhead_s':58s} {traced - untraced:14.6f} s")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala/graft")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    t0 = time.time()
    classpath = build(build_dir)
    print(f"graftbench: build ready in {time.time() - t0:.1f}s", file=sys.stderr)

    if args.workload != "all":
        res = measure(classpath, build_dir, args, args.workload, time.time() + RUN_BUDGET_S)
        if res is None:
            fail(f"workload {args.workload} did not finish")
        print(json.dumps(res))
        return

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        res = measure(classpath, build_dir, args, w, time.time() + RUN_BUDGET_S)
        if res is None:
            fail(f"workload {w} did not finish")
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{w}.{k}"] = v
    print(json.dumps(combined))


if __name__ == "__main__":
    main()
