#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first call builds the harness in
perfbench/src with sbt (offline). perfbench/build.sbt depends on the
repository's own build, so the engine (src/main) compiles with the root
build's settings. The build writes the classpath and the engine's JVM
options under perfbench/target; later calls reuse them while the
sources are unchanged. Each run starts one JVM,
which generates the workload's inputs from the seed, measures for the
given seconds and prints one JSON result as its last stdout line.
Everything a run writes lives under perfbench/.work and is removed when
it ends. The exit code is non-zero when the build fails, an answer is
wrong or the run does not finish in time.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CP_FILE = os.path.join(TARGET, "bench-classpath.txt")
JVM_OPTS_FILE = os.path.join(TARGET, "bench-jvm-options.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(TARGET, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def read_spec():
    """(classpath, engine JVM options) the last build wrote."""
    with open(CP_FILE) as fh:
        cp = fh.read().strip()
    with open(JVM_OPTS_FILE) as fh:
        return cp, [ln for ln in fh.read().splitlines() if ln]


def build():
    """Classpath and JVM options of the built engine + harness, building
    when stale."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft")
    stamp = source_stamp()
    if os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                return read_spec()
    os.makedirs(TARGET, exist_ok=True)
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "benchRunSpec"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(), text=True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(JVM_OPTS_FILE):
        sys.stderr.write("\n".join(out.splitlines()[-40:]) + "\n")
        fail(f"build failed (sbt exit {code})")
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    return read_spec()


def heap_mb():
    """Explicit heap well below physical memory (a third, at most 4 GiB)."""
    with open("/proc/meminfo") as fh:
        for ln in fh:
            if ln.startswith("MemTotal:"):
                return max(1024, min(4096, int(ln.split()[1]) // 1024 // 3))
    return 2048


def selftest():
    build()
    code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
                        stdin=subprocess.DEVNULL)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    if not a.workload:
        fail("--workload is required")
    cp, jvm_opts = build()
    cores = min(4, len(os.sched_getaffinity(0)))
    heap = heap_mb()
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", f"-Djava.io.tmpdir={tmp}"]
           + jvm_opts
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--cores", str(cores), "--heap-mb", str(heap)])
    try:
        with open(log, "w") as err:
            try:
                code, out = run_child(cmd, RUN_TIMEOUT_S, text=True,
                                      stdout=subprocess.PIPE, stderr=err,
                                      stdin=subprocess.DEVNULL)
            except subprocess.TimeoutExpired:
                code, out = 124, ""
        if code != 0:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
        sys.stdout.write(out)
        sys.stdout.flush()
        sys.exit(code)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
