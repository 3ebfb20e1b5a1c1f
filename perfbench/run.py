#!/usr/bin/env python3
"""Benchmark driver for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Builds the benchmark (its own sbt project in this directory, which
compiles the engine sources next to it) on first use, runs one workload
in a fresh JVM under a private work directory inside the checkout, and
prints the JVM's result line as the last line of standard output.

The run fails, printing no result, when the engine sources are missing,
the build fails, the JVM exceeds its time limit, or any file of the
checkout outside the benchmark's own output changes during the run.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(OUT, "classes.jsa")
# Output of this benchmark, and of its build, that the write guard skips.
OWN = [
    os.path.join(ROOT, ".bench_build"),
    os.path.join(ROOT, ".git"),
    os.path.join(HERE, "target"),
    os.path.join(HERE, "project", "target"),
    os.path.join(HERE, "project", "project"),
]
ENGINE = [os.path.join(ROOT, "src", "main", "scala", "graft")]
SOURCES = [
    os.path.join(HERE, "build.sbt"),
    os.path.join(HERE, "project", "build.properties"),
    os.path.join(HERE, "src", "main"),
    os.path.join(ROOT, "src", "main"),
]
WORKLOADS = ["etl_daily", "warehouse"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def files_under(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
        for d, dirs, names in os.walk(p):
            dirs.sort()
            for n in sorted(names):
                yield os.path.join(d, n)


def source_stamp():
    h = hashlib.sha256()
    for f in files_under(SOURCES):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    return env


def build():
    """Compiles the benchmark and records its class-data archive if its
    sources changed; returns the runtime classpath."""
    stamp_file = os.path.join(OUT, "stamp")
    cp_file = os.path.join(OUT, "classpath")
    stamp = source_stamp()
    if all(os.path.exists(f) for f in (cp_file, stamp_file, ARCHIVE)):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log("building the benchmark")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    if "perfbench" not in cp or os.pathsep not in cp:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit("build printed no classpath")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    record_archive(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def record_archive(cp):
    """Records the classes a warehouse run loads into a class-data archive,
    which every measured run maps at start instead of loading those classes
    again. The recording run is part of the build and is never measured,
    so every measured run starts the same way."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    dump = ARCHIVE + f".{os.getpid()}"
    work = os.path.join(OUT, "work", f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, _ = run_jvm(cp, ["--workload", "warehouse", "--seed", "0", "--seconds", "0",
                               "--trace", "0"], work, f"-XX:ArchiveClassesAtExit={dump}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(dump):
        if os.path.exists(dump):
            os.remove(dump)
        raise SystemExit(f"recording the class-data archive failed (exit {code})")
    os.replace(dump, ARCHIVE)


def snapshot():
    """(size, mtime) of every file of the checkout outside OWN."""
    own = tuple(p + os.sep for p in OWN)
    snap = {}
    for d, dirs, names in os.walk(ROOT):
        dirs[:] = [x for x in dirs if os.path.join(d, x) + os.sep not in own]
        for n in names:
            f = os.path.join(d, n)
            try:
                st = os.lstat(f)
            except FileNotFoundError:
                continue
            snap[f] = (st.st_size, st.st_mtime_ns)
    return snap


def run_jvm(cp, main_args, work, cds):
    """Runs perfbench.Main in a fresh JVM; returns its exit code and
    standard output."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Dspark.callstack.depth=400", f"-Djava.io.tmpdir={tmp}", cds] + opens +
           ["-cp", cp, "perfbench.Main"] + main_args + ["--work", work])
    env = dict(os.environ)
    env["TMPDIR"] = tmp
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    # a terminated driver still stops the JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in ENGINE if not os.path.isdir(p)]
    if missing:
        raise SystemExit(f"engine sources not found: {missing}; run from a checkout root")
    cp = build()

    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = snapshot()
    try:
        code, out = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                            work, f"-XX:SharedArchiveFile={ARCHIVE}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = snapshot()
    changed = sorted(f for f in set(before) | set(after) if before.get(f) != after.get(f))
    if changed:
        raise SystemExit("files outside the benchmark's output changed: " +
                         ", ".join(os.path.relpath(f, ROOT) for f in changed[:20]))
    lines = [ln for ln in out.splitlines() if ln.strip()]
    results = [ln for ln in lines if ln.startswith('{"correct":')]
    sys.stderr.write("".join(ln + "\n" for ln in lines if ln not in results))
    if code != 0 or not results:
        raise SystemExit(f"workload failed (exit {code})")
    result = json.loads(results[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    print(results[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
