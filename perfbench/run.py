#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result.

    python3 perfbench/run.py --workload <record_morph|table_read|table_write|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (into target directories, reused while the
sources are unchanged); every run then starts one JVM with one local
SparkSession, local[min(4, cpus)], for the workload. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics; lines starting
with `#` before it give the workload's numbers under their per-op names.
A JSON artifact with the run's bases (and, traced, its spans) is written
under perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target", "bench-build")
WORKLOADS = ("record_morph", "table_read", "table_write")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (as the engine's build.sbt)
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


def source_files():
    """Every file whose change means the build must run again."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and benchmark if needed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not next to perfbench/")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    want = stamp(source_files())
    cp_file, stamp_file = os.path.join(BUILD_DIR, "classpath"), os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[") and os.pathsep in l), None)
    if out.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]")) + "\n")
        fail(f"build failed (sbt exit {out.returncode})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def run_one(cp, args, workload):
    """One workload in its own JVM; returns (exit code, stdout lines)."""
    work = os.path.join(HERE, ".work", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_file = os.path.join(HERE, "results", f"{workload}-seed{args.seed}-trace{args.trace}.json")
    java = shutil.which("java") or fail("java is not on PATH")
    cmd = [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", os.path.join(work, "run"), "--out", out_file,
            "--cores", str(min(4, os.cpu_count() or 1)), "--scale", str(args.scale),
            "--setup-reps", str(args.setup_reps)]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return 124, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, proc.stdout.splitlines()


def parse_result(lines):
    try:
        r = json.loads(lines[-1])
        return r if set(r) == {"correct", "attempted", "failed", "metrics"} else None
    except (IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke checks use less)")
    ap.add_argument("--setup-reps", type=int, default=3, help="set-ups per run; setup_s is their median")
    args = ap.parse_args()

    cp = build()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for w in names:
        code, lines = run_one(cp, args, w)
        result = parse_result(lines)
        if code != 0 or result is None:
            for l in lines[:-1] if result else lines:
                print(l)
            fail(f"workload {w} failed (exit {code})")
        for l in lines[:-1]:
            print(l)
        results[w] = result
    print(json.dumps(results[names[0]] if len(names) == 1 else results))


if __name__ == "__main__":
    main()
