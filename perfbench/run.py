#!/usr/bin/env python3
"""Replay benchmark of the incremental entity ETL loop.

    python3 perfbench/run.py --workload backfill|incremental \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from source (see build.py), runs one
JVM that replays the workload through `EntityEtlJob` over loopback HTTP,
and prints its JSON result as the last line of standard output. Exits 0
only when the run passed its correctness checks. All files go under the
build directory (`.bench_build`, or `$CARGO_TARGET_DIR`).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def java_cmd(classes, work, main, args):
    tmp = work / "jvm-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *build.ADD_OPENS,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djdk.lang.Process.launchMechanism=FORK", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(classes), main] + args)


def run_jvm(cmd, log_path):
    """Run the JVM in its own process group; return (exit code, stdout lines)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode, out.splitlines()


def main():
    # a terminated run still stops its compiler or JVM (see the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    classes = build.build()
    name = "self-test" if a.self_test else f"{a.workload}-{a.seed}-t{a.trace}"
    work = build.build_dir() / "runs" / f"{name}-{os.getpid()}"
    logs = build.build_dir() / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{name}.log"
    if a.self_test:
        cmd = java_cmd(classes, work, "perfbench.SelfTest", [])
    else:
        cmd = java_cmd(classes, work, "perfbench.Bench", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", str(work),
            "--spans", str(logs / f"{name}.spans.json")])
    t0 = time.time()
    try:
        code, lines = run_jvm(cmd, log_path)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s; log: {log_path}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0:
        print(f"perfbench: JVM exited {code} after {time.time() - t0:.1f}s; log: {log_path}",
              file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.writelines(f.readlines()[-40:])
    if lines and lines[-1].startswith("{"):
        print(lines[-1])
    elif lines:
        print(lines[-1], file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
