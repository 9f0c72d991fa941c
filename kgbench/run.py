#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
benchmark (kgbench/build.sh) into the build directory ($CARGO_TARGET_DIR, or
.bench_build); later runs reuse it while the sources are unchanged. Every
file a run writes stays under the build directory; its scratch directory is
removed when the run ends. A full report (stamp, metrics, and with --trace 1
the span tree) goes to <build dir>/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

JAVA_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for top in ("src/main/scala", "kgbench/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + ["kgbench/build.sh"]


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def ensure_built(build_dir):
    if not os.path.isdir("src/main/scala") or not os.path.isdir("kgbench/src"):
        fail("run from the repository root: src/main/scala or kgbench/src is missing")
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    stamp = source_hash(source_files())
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    r = subprocess.run(["bash", "kgbench/build.sh", classes], stdout=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def git_commit():
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None if r.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes, stamp = ensure_built(build_dir)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{spark_jars()}/*", "kgbench.Bench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", run_dir,
            "--commit", git_commit() or f"src-sha256:{stamp[:16]}",
            "--out", os.path.join(build_dir, "results", f"{tag}.json")]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JAVA_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {r.returncode}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
