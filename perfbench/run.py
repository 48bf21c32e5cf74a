#!/usr/bin/env python3
"""Served-path benchmark: one run of one workload.

    python3 perfbench/run.py --workload dashboard|mixed \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the load generator
(perfbench/build.sbt, which compiles the checkout's own program through
its root build) and caches the result under perfbench/target; later runs
reuse it while the sources are unchanged. Each run starts one JVM that
serves the engine over loopback HTTP and drives it, then prints the
run's facts (a DETAIL line) and, as the last line, the result object:
{"correct", "attempted", "failed", "metrics"}.

Everything a run writes stays under perfbench/: build output in target/,
scratch in work/ (deleted when the run ends), spans of traced runs in out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("dashboard", "mixed")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# a fixed, pre-touched heap: page faults of a growing heap would otherwise
# land in the timed phase (first touches of memory are slow on VMs)
HEAP = "2g"
# Spark on JDK 17 outside spark-submit (the root build's javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: a change anywhere rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    target = HERE / "target"
    cp_file, stamp_file = target / "classpath.txt", target / "build.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    cp_file.unlink(missing_ok=True)
    try:
        done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                              cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if done.returncode != 0 or not cp_file.exists():
        fail(f"build failed (sbt exit {done.returncode})", 3)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def clear(tmp):
    """Empty the private tmp dir; returns how many entries it held. Only
    runs use it (java.io.tmpdir and Spark's local dir point there), so
    every entry is scratch some run left behind."""
    left = list(tmp.iterdir()) if tmp.exists() else []
    for p in left:
        if p.is_dir() and not p.is_symlink():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)
    return len(left)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)", 2)

    cp = build()
    nproc = len(os.sched_getaffinity(0))
    tmp = HERE / "work" / "tmp"
    work = HERE / "work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp_at_start = clear(tmp)
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=str(tmp))
    env.pop("SPARK_GRAFT_CONF", None)  # no ad-hoc conf overrides in a measured run
    # -UsePerfData: no hsperfdata file in the system tmp dir
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", cp, "perfbench.Main", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", str(work), "--out", str(HERE / "out")]
    log = work / "jvm.log"
    proc = None

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(*_):
        # no wait() here: the interrupted communicate() may hold the lock
        # wait() takes; the finally block below reaps the JVM
        if proc:
            kill()
        raise SystemExit(5)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                kill()
                proc.wait()
                sys.stderr.write(log.read_text()[-4000:])
                fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
        lines = out.splitlines()
        tagged = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in lines
                  if l.startswith(("DETAIL ", "RESULT "))}
        if proc.returncode != 0 or "RESULT" not in tagged:
            sys.stderr.write(log.read_text()[-6000:])
            fail(f"run failed (exit {proc.returncode})", 1)
        detail = json.loads(tagged["DETAIL"])
        detail["private_tmp_at_start"] = tmp_at_start
        detail["private_tmp_left_after"] = clear(tmp)
        for l in lines:
            if not l.startswith(("DETAIL ", "RESULT ")):
                print(l)
        print(json.dumps({"detail": detail}))
        print(tagged["RESULT"], flush=True)
    finally:
        if proc and proc.poll() is None:
            kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
