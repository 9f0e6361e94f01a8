#!/usr/bin/env python3
"""News-pipeline benchmark runner.

Run from the repository root:

    python3 newsbench/run.py --workload ingest_batch --seed 1 --seconds 10 --trace 0
    python3 newsbench/run.py --make-golden 1,2,3    # rewrite newsbench/golden.tsv

Builds the engine and the harness with sbt when their sources changed
(the build lives under newsbench/ and compiles the engine through the
root build), then runs one measurement in a fresh JVM. Everything the
run writes stays under .bench_build/ in the current directory and is
removed when the run ends. The last line of standard output is the
result object; any failure exits non-zero without printing one.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ingest_batch", "stream_refinery")
BENCH = "newsbench"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"newsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("src/main", f"{BENCH}/src/main", "project", f"{BENCH}/project"):
        base = os.path.join(root, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(root, "build.sbt"), os.path.join(root, BENCH, "build.sbt")]


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    want = stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            cp = cf.read()
            if fh.read() == want and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    t = time.time()
    r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=os.path.join(root, BENCH),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    print(f"# built in {time.time() - t:.1f}s", file=sys.stderr)
    shutil.copyfile(os.path.join(root, BENCH, "target", "runtime-classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as fh:
        return fh.read()


def heap_gb():
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, choices=(0, 1), default=0,
                    help="break the first timed operation on purpose")
    ap.add_argument("--make-golden", metavar="SEEDS",
                    help="write the golden digests of these comma-separated seeds")
    a = ap.parse_args()
    if not a.make_golden and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the repository root: the engine sources are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("needs sbt and java on PATH")
    out = os.path.join(root, ".bench_build", BENCH)
    cp = build(root, out)

    work = os.path.join(out, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    golden = os.path.join(root, BENCH, "golden.tsv")
    if a.make_golden:
        cmd += ["-cp", cp, "newsbench.Golden", "--seeds", a.make_golden,
                "--out", golden, "--work", work]
        timeout = None
    else:
        cmd += ["-cp", cp, "newsbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--selftest", str(a.selftest),
                "--golden", golden, "--work", work]
        timeout = RUN_TIMEOUT_S
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # shuffle and block files inside the run's directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # a terminated runner still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    text = stdout.decode(errors="replace")
    lines = [l for l in text.splitlines() if l.strip()]
    if a.make_golden and proc.returncode == 0:
        return
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(text)
        fail(f"run failed (exit {proc.returncode})")
    sys.stdout.write(text)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
