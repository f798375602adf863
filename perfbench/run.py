#!/usr/bin/env python3
"""Run one benchmark workload:

    python3 perfbench/run.py --workload street --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (perfbench/build.py), starts a
fresh JVM with a pinned heap ($SPARK_DRIVER_MEM, default 4g) and one Spark
session at local[<cores>], and relays its output. The last line of stdout is
the result JSON. Exits 0 when every output check passed, 1 when one failed,
2 when the build or the run broke, 3 on timeout.

    python3 perfbench/run.py --selftest        # the benchmark's own test
    python3 perfbench/run.py --record OUT      # re-record registry digests
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def java_cmd(classes, work, main, args):
    heap = os.environ.get("SPARK_DRIVER_MEM") or "4g"
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             # A run is too short for C2 to settle: with it, compiler threads
             # burned about 25 s of CPU inside a 13 s timed region on 4 cores
             # and set the run-to-run spread. C1 alone finishes in set-up.
             "-XX:TieredStopAtLevel=1"] + build.jvm_opens() +
            ["-cp", cp, main] + args)


def run_java(cmd, timeout):
    """Relay the JVM's stdout; kill its process group after `timeout` s."""
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    expired = threading.Event()

    def kill():
        expired.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(timeout, kill) if timeout else None
    if timer:
        timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        if timer:
            timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if expired.is_set():
        print("[perfbench] run timed out", file=sys.stderr)
        return 3
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record")
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    name = "selftest" if a.selftest else "record" if a.record else a.workload
    work = os.path.join(build.build_dir(), "work", f"{name}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.selftest:
            return run_java(java_cmd(classes, work, "perfbench.SelfTest", []), RUN_TIMEOUT_S)
        args = ["--workload", str(a.workload), "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--root", build.ROOT, "--work", work,
                "--trace-dir", os.path.join(build.build_dir(), "traces")]
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
        return run_java(java_cmd(classes, work, "perfbench.Main", args),
                        None if a.record else RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
