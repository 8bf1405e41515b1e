#!/usr/bin/env python3
"""Run one workload of the raquet benchmark.

    python3 rqbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The script

1. builds the engine (the root sbt build) and the benchmark package with
   sbt, once per source tree: the classpath is cached under
   .bench_build/rqbench/build-<hash>, keyed by a hash of the engine's and
   the benchmark's sources and build definitions;
2. writes the fixtures with the engine under test (a separate JVM, so
   fixture writing never touches the measured process), cached under
   .bench_build/rqbench/fixtures/<hash>; a seed's fixture is that of its
   variant, the seed modulo VARIANTS, and the first run writes all of them;
3. runs the measuring JVM and prints its result JSON as the last line of
   standard output.

Everything it writes stays under .bench_build/ and the sbt target
directories of the checkout.
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
WORK = os.path.join(ROOT, ".bench_build", "rqbench")
WORKLOADS = ("interactive", "scan")
# inputs depend on the seed modulo this (Fixtures.Variants in the benchmark)
VARIANTS = 4
HEAP = "2g"
YOUNG = "640m"
FIXTURE_WRITER = os.path.join(HERE, "src", "main", "scala", "rqbench", "Fixtures.scala")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[rqbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """Hash of the named files and of every file under the named directories."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isdir(p):
            for dirpath, dirnames, names in os.walk(p):
                dirnames.sort()
                files += [os.path.join(dirpath, n) for n in sorted(names)]
        elif os.path.isfile(p):
            files.append(p)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build_inputs(base):
    """Files that decide the sbt build rooted at `base`: its sources and its
    build definition (not the target directories sbt writes under project/)."""
    paths = [os.path.join(base, "src", "main"), os.path.join(base, "build.sbt")]
    project = os.path.join(base, "project")
    if os.path.isdir(project):
        paths += [os.path.join(project, f) for f in sorted(os.listdir(project))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    return paths


def run_child(cmd, cwd, timeout, env=None, capture=True):
    """Run a child in its own process group; kill the group on timeout or
    when this script is told to stop, and wait for it either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[rqbench] stopped by signal {signum}")

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[rqbench] timed out after {timeout} s: {' '.join(cmd[:3])}")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out or ""


def build(build_dir):
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            classpath = fh.read().strip()
        # a cleaned target directory leaves a stale classpath: rebuild then
        if all(os.path.exists(e) for e in classpath.split(os.pathsep)):
            return classpath
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log("building engine + benchmark with sbt")
    t0 = time.time()
    rc, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                         "export Runtime/fullClasspath"], HERE, 850, env)
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"[rqbench] build failed (exit {rc})")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def prune(fixture_id):
    """Drop the fixtures of other engine builds."""
    fx_root = os.path.join(WORK, "fixtures")
    if not os.path.isdir(fx_root):
        return
    for d in os.listdir(fx_root):
        if d != fixture_id:
            shutil.rmtree(os.path.join(fx_root, d), ignore_errors=True)


def fixtures_ready(fixtures):
    return all(os.path.exists(os.path.join(fixtures, f"{name}.ok"))
               for v in range(VARIANTS) for name in (f"slope-v{v}", f"tci-v{v}.tif"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    args = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "raquet", "RaquetIO.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(engine)):
        raise SystemExit("[rqbench] no engine sources next to the benchmark "
                         "(expected build.sbt and src/main/scala at the repository root)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("[rqbench] sbt and java are required")

    # the classpath depends on every source; fixtures only on the engine and
    # on the benchmark's fixture writer
    build_id = tree_hash(build_inputs(ROOT) + build_inputs(HERE))
    fixture_id = tree_hash(build_inputs(ROOT) + [FIXTURE_WRITER])
    classpath = build(os.path.join(WORK, f"build-{build_id}"))
    prune(fixture_id)
    fixtures = os.path.join(WORK, "fixtures", fixture_id)
    tmp = os.path.join(WORK, "tmp")
    for d in (fixtures, tmp):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # Spark's scratch space stays in the checkout whatever the environment says
    # (and few malloc arenas: glibc's per-thread arenas otherwise make the
    # native part of the peak RSS depend on which threads happened to run)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, MALLOC_ARENA_MAX="2")
    # a fixed heap, touched at start, and a fixed young generation, with
    # regions large enough that a decoded 256² tile (512 KB of doubles) is
    # an ordinary young object rather than a humongous one: the peak RSS is
    # then the heap plus the native memory the run used, not how much of
    # the heap the collector happened to touch
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
            "-XX:G1HeapRegionSize=2m", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "rqbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", WORK, "--fixtures", fixtures, "--cores", str(cores)]

    if not fixtures_ready(fixtures):
        t0 = time.time()
        rc, _ = run_child(java + ["--phase", "prepare"], ROOT, 600, env, capture=False)
        if rc != 0:
            raise SystemExit(f"[rqbench] fixture preparation failed (exit {rc})")
        log(f"fixtures written in {time.time() - t0:.1f} s")

    rc, out = run_child(java + ["--phase", "measure"], ROOT, 170, env)
    result = None
    for line in out.splitlines():
        if line.startswith("RQBENCH_RESULT "):
            result = json.loads(line[len("RQBENCH_RESULT "):])
        else:
            print(line)
    if rc != 0 or result is None:
        raise SystemExit(f"[rqbench] measuring run failed (exit {rc})")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
