#!/usr/bin/env python3
"""Validation benchmark runner.

    python3 perfbench/run.py --workload bulk|batches|snapshots --seed N \
        --seconds S --trace 0|1 [--smoke] [--perturb CHECK-ID]

Run from the root of a checkout. Builds the benchmark (the repo's main
sources plus perfbench/src) with sbt when the sources changed since the last
build, then runs one workload in a single JVM and prints, as its last line,
the JSON result: end-to-end metrics with --trace 0, per-layer metrics of a
separate traced run with --trace 1. Full results (environment block, every
op, spans) are kept under perfbench/results/<workload>/seed-<N>-*.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
RESULTS = BENCH / "results"
WORK = BENCH / ".work"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "project"]
    files = [BENCH / "build.sbt"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        st = f.stat()
        h.update(f"{f.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when sources changed; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and "classes" in l and os.pathsep in l]
    if not lines:
        fail("build printed no classpath")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["bulk", "batches", "snapshots"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--perturb", help="add one to this check's expected count")
    a = ap.parse_args()

    classpath = build()
    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work / "data"), "--results", str(RESULTS)]
    if a.smoke:
        cmd.append("--smoke")
    if a.perturb:
        cmd += ["--perturb", a.perturb]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    for k in ("SPARK_GRAFT_MASTER", "SPARK_LOCAL_DIRS"):
        env.pop(k, None)

    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if WORK.exists() and not any(WORK.iterdir()):
            WORK.rmdir()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark JVM exited {proc.returncode}")
    body = [l for l in lines if l.strip()]
    try:
        result = json.loads(body[-1])
    except (IndexError, ValueError):
        fail("no JSON result on the last line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}")
    for l in body[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
