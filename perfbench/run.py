"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload find_arrow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program from source (see
build.py), starts one fresh JVM for the workload with its temp and Spark
local directories inside ``.bench_work/``, checks that those directories
hold no bytes once the JVM has exited, and prints the JVM's record line
followed by the result line
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Exits non-zero when any check fails. See README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("find_arrow", "wire_serve")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def source_rev(root):
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classpath, stamp = build.ensure(root, build_dir)
    except build.BuildError as e:
        fail(str(e))

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, ".bench_out")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    shutil.rmtree(work, ignore_errors=True)
    for d in (tmp, local, out_dir):
        os.makedirs(d, exist_ok=True)
    start_bytes = tree_bytes(tmp) + tree_bytes(local)

    rev = source_rev(root) or f"src-sha256:{stamp[:16]}"
    # a fixed heap (-Xms = -Xmx) keeps GC behaviour from depending on
    # when the heap happened to grow
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.rev={rev}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out_dir])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_LOCAL_IP="127.0.0.1")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    log_path = os.path.join(out_dir, f"{tag}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               env=env, cwd=work, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"JVM exceeded {JVM_TIMEOUT_S}s (log: {log_path})", 1)

    t1 = time.time()
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    left = tree_bytes(tmp) + tree_bytes(local)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    if len(lines) < 2:
        sys.stderr.write(p.stdout[-3000:])
        fail(f"JVM exited {p.returncode} without a result (log: {log_path})", 1)
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    record["temp_bytes"] = {"start": start_bytes, "after_exit": left}
    record["jvm_wall_s"] = round(t1 - t0, 3)
    if left != start_bytes:
        result["correct"] = False
        record.setdefault("check_failures", []).append(
            f"temp/local dirs hold {left} bytes after exit (start {start_bytes})")
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    if p.returncode != 0 or not result["correct"] or result["failed"]:
        for m in record.get("check_failures", [])[:20]:
            print(f"perfbench: check failed: {m}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
