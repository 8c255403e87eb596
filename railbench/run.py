#!/usr/bin/env python3
"""Run one benchmark workload of the NS-disruption pipeline and its gates.

    python3 railbench/run.py --workload daily_increments|gates \
        --seed N --seconds S --trace 0|1
    python3 railbench/run.py --selftest

Run from the repository root. The first run builds the repository's
main sources together with the harness in railbench/ (sbt, offline) into
.bench_build/, and later runs reuse that build while the sources are
unchanged. Each run then starts one JVM with a fixed heap, which prints
the result as one JSON line, the last line of stdout; the full run
record goes to .bench_build/records/. The exit code is non-zero when any
op failed or any output check did not match.

--selftest checks that a failing run turns red: a daily run with an op
that throws, a daily run with a wrong expected count and a gates run with
a wrong expected fingerprint must each exit non-zero with correct=false.
"""

import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("daily_increments", "gates")
HEAP = "3g"  # -Xms = -Xmx: a fixed heap, a fifth of a 15 GB machine
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"railbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compiles once per source state; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        die("run from a checkout of the repository: src/main/scala/graft is missing")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip())
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"],
                      cwd=HERE, env=env, stdout=out, timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout
    and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"railbench: {cmd[0]} timed out after {timeout}s", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_cmd(classpath, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+ExplicitGCInvokesConcurrent",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "railbench.Bench"]


def run(workload, seed, seconds, trace, inject=None, write_fingerprints=False):
    """One benchmark run; returns (exit code, last stdout line)."""
    classpath = build()
    launched_ms = int(time.time() * 1000)
    tag = f"{workload}-seed{seed}-trace{trace}" + (f"-{inject}" if inject else "")
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(BUILD, "records", f"{tag}.json")
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--src", os.path.join(ROOT, "src", "main", "scala", "graft"),
            "--record", record, "--fingerprints", os.path.join(HERE, "gate_fingerprints.json"),
            "--launched-ms", str(launched_ms)]
    if inject:
        args += ["--inject", inject]
    if write_fingerprints:
        args += ["--write-fingerprints"]
    out_file = os.path.join(work, "stdout.txt")
    try:
        with open(out_file, "w") as out, open(log, "w") as err:
            rc = run_proc(java_cmd(classpath, work) + args, cwd=ROOT,
                          stdout=out, stderr=err, timeout=RUN_TIMEOUT_S)
        with open(out_file) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    last = lines[-1] if lines and lines[-1].startswith("{") else None
    if rc != 0:
        with open(log) as fh:
            failed = [l for l in fh.read().splitlines() if l.startswith("FAILED")]
        sys.stderr.write("\n".join(failed[-20:]) + "\n")
        sys.stderr.write(f"railbench: run failed (exit {rc}); log {log}, record {record}\n")
    return rc, last


def selftest():
    """Each injected fault must turn a short run red."""
    ok = True
    for workload, inject in (("daily_increments", "throw"), ("daily_increments", "count"),
                             ("gates", "count")):
        rc, last = run(workload, 1, 1, 0, inject=inject)
        res = json.loads(last) if last else {}
        red = rc != 0 and res.get("correct") is False and res.get("failed", 0) >= 1
        print(f"selftest {workload} {inject}: exit {rc}, failed {res.get('failed')}: "
              f"{'red as expected' if red else 'NOT RED'}")
        ok = ok and red
    print("selftest passed" if ok else "selftest FAILED")
    return 0 if ok else 1


def main():
    # a terminated run still stops the JVM it started (run_proc's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-fingerprints", action="store_true",
                    help="record the gate fingerprints of this build (gates only)")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    rc, last = run(a.workload, a.seed, a.seconds, a.trace,
                   write_fingerprints=a.write_fingerprints)
    if last:
        print(last)
    sys.exit(rc if rc != 0 else (0 if last else 1))


if __name__ == "__main__":
    main()
