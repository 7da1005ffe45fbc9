#!/usr/bin/env python3
"""End-to-end benchmark of the engine: ingest -> sink -> query -> index.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 e2ebench/run.py --self-test

Builds the repository's current sources (see build.py), then runs one
workload in one JVM, in a fresh directory under `e2ebench/work/` that is
deleted on exit, failure included. The last line of standard output is
the result object; the line before it (`{"info": ...}`) names the
commit and gives the workload's own figures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "work")
WORKLOADS = ("ingest_jsonl", "index_maintain")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_state():
    """(commit, dirty) of the checkout, or "unknown" outside a git tree."""
    if not os.path.isdir(os.path.join(build.REPO, ".git")):
        return "unknown", "unknown"
    try:
        head = subprocess.run(["git", "-C", build.REPO, "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=True).stdout.strip()
        status = subprocess.run(["git", "-C", build.REPO, "status", "--porcelain", "--",
                                 "src", "e2ebench"],
                                capture_output=True, text=True, check=True).stdout
        return head, str(bool(status.strip())).lower()
    except (OSError, subprocess.CalledProcessError):
        return "unknown", "unknown"


def jvm(cp, root, main, args, env):
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            f"-Dderby.system.home={root}",
            "-cp", cp, main] + args
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    return subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)


def stop(proc):
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    t0 = time.monotonic()
    try:
        cp, sources, built = build.build()
    except build.BuildError as e:
        print(f"e2ebench: {e}", file=sys.stderr)
        return 2
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    commit, dirty = git_state()
    env = dict(os.environ, GRAFTBENCH_COMMIT=commit, GRAFTBENCH_DIRTY=dirty,
               GRAFTBENCH_SOURCES=sources)
    root = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(root)
    proc = None
    try:
        if a.self_test:
            proc = jvm(cp, root, "graftbench.SelfTest", ["--root", root], env)
        else:
            proc = jvm(cp, root, "graftbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--root", root], env)
        try:
            out, _ = proc.communicate(timeout=max(10.0, limit))
        except subprocess.TimeoutExpired:
            stop(proc)
            print(f"e2ebench: run exceeded {limit:.0f} s", file=sys.stderr)
            return 3
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if a.self_test:
            print("\n".join(lines))
            return proc.returncode
        try:
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
        except (IndexError, ValueError, AssertionError):
            print("e2ebench: no result line", file=sys.stderr)
            print("\n".join(lines[-5:]), file=sys.stderr)
            return 4
        print("\n".join(lines))
        return proc.returncode
    finally:
        if proc is not None:
            stop(proc)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
