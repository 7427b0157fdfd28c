"""Build step of the benchmark: compiles the program and the benchmark.

The program (``src/main/scala`` at the checkout root) and the benchmark
sources (``perfbench/src``) are compiled with the Scala compiler that
ships in the Spark jar directory the root ``build.sbt`` names as its
``unmanagedBase``; no sbt, no dependency resolution. Output lands in the
build directory (``$CARGO_TARGET_DIR`` or ``.bench_build``); a stamp over
every source byte skips the compile when nothing changed.

    python3 perfbench/build.py        # build, print the classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jars_dir(root):
    """The Spark jar directory: the root build's ``unmanagedBase``, else
    ``$SPARK_HOME/jars``."""
    candidates = []
    try:
        with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def _sources(top):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith((".scala", ".java")))
    return sorted(out)


def _stamp(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp",
           os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-cp", os.pathsep.join(classpath)] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def _fresh(stamp_file, stamp):
    try:
        with open(stamp_file) as f:
            return f.read().strip() == stamp
    except OSError:
        return False


def _stage(jars, classpath, out, sources, stamp, resources=None):
    """Compile `sources` into `out` unless its stamp matches."""
    stamp_file = out + ".stamp"
    if _fresh(stamp_file, stamp) and os.path.isdir(out):
        return False
    shutil.rmtree(out, ignore_errors=True)
    _scalac(jars, classpath, out, sources)
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return True


def ensure(root, build_dir):
    """Compile what changed; return (runtime classpath, program stamp).
    The program compiles first; the benchmark compiles against it."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError(f"no program sources at {main_src}")
    jars = jars_dir(root)
    jar_cp = os.path.join(jars, "*")
    resources = os.path.join(root, "src", "main", "resources")
    main_files = _sources(main_src)
    res_files = sorted(os.path.join(d, f) for d, _, fs in os.walk(resources) for f in fs)
    bench_files = _sources(os.path.join(BENCH_DIR, "src"))
    main_stamp = _stamp(main_files + res_files, jars)
    bench_stamp = _stamp(bench_files, jars) + main_stamp
    main_out = os.path.join(build_dir, "main-classes")
    bench_out = os.path.join(build_dir, "bench-classes")
    os.makedirs(build_dir, exist_ok=True)
    if _stage(jars, [jar_cp], main_out, main_files, main_stamp, resources):
        shutil.rmtree(bench_out, ignore_errors=True)
    _stage(jars, [main_out, jar_cp], bench_out, bench_files, bench_stamp)
    return [main_out, bench_out, jar_cp], main_stamp


if __name__ == "__main__":
    root = os.getcwd()
    try:
        cp, _ = ensure(root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(os.pathsep.join(cp))
