"""Serving benchmark for the garamond_jl_spark engine.

Usage, from the root of a checkout::

    python3 servebench/run.py --workload serve_search --seed 1 \
        --seconds 15 --trace 0

Workloads: ``serve_search`` (two clients of the TCP socket server over
a resident index) and ``ingest_live`` (append / delete / reload /
search cycles with compaction on a live index).  The last line of
standard output is the result JSON; the line before it
(``servebench-detail``) holds the workload's own figures.

This script supervises: it runs ``worker.py`` in a new process session
with every scratch path (Spark local dirs, JVM and Python temp files)
under ``.servebench/`` in the checkout, kills the whole session if it
outlives the time limit, and waits until each of its processes has
exited.  ``--smoke`` runs a tiny corpus for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import session_pids  # noqa: E402

TIME_LIMIT_S = 170          # the whole run, set-up included


def stop_session(sid: int, grace_s: float = 20.0) -> None:
    """Terminate every process of session ``sid`` and wait for all of
    them to exit, escalating to SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in pids:
            try:
                os.kill(int(p), sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_search", "ingest_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus (the benchmark's own tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one answer before checking it (tests "
                         "that a wrong answer counts as failed)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "garamond_jl_spark",
                                       "__init__.py")):
        print("servebench: run from the root of a garamond_jl_spark "
              "checkout (package not found)", file=sys.stderr)
        return 2
    base = os.path.join(root, ".servebench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out = os.path.join(base, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ,
               TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "2g"))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    cmd += ["--smoke"] * args.smoke + ["--corrupt"] * args.corrupt
    log_path = os.path.join(out, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True, text=True)
        try:
            stdout, _ = proc.communicate(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            stdout = None
        finally:
            stop_session(proc.pid)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = (stdout or "").strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"servebench: worker failed (exit {proc.returncode}); "
              f"log: {log_path}", file=sys.stderr)
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
