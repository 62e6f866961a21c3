#!/usr/bin/env python3
"""Benchmark entry point for the near-duplicate engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Each run happens in a fresh worker
process (``worker.py``) with its own temporary Spark local dirs and store
root under ``.perfbench_run/``, removed on exit.  This supervisor refuses
to start while a process from an earlier run is alive, stops every process
the run started and waits for them, and prints the run's diagnostics
followed, as the last line, by the result object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "minimizer_jaccard_estimator_spark"
MARKER = "PERFBENCH_RUN"
# the whole run, clean-up included, ends before 180 s
DEADLINE_S = 170.0


def marked_pids(value: str | None = None) -> list[int]:
    """Processes carrying the run marker in their environment (any run when
    ``value`` is None), other than this one."""
    want = f"{MARKER}={value}".encode() if value else f"{MARKER}=".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
        except OSError:
            continue
        if any(e.startswith(want) for e in env):
            out.append(int(name))
    return out


def stop_all(value: str, grace_s: float = 10.0) -> list[int]:
    """Stop every process of run ``value`` and wait until all are gone;
    returns those still alive after the grace period."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in marked_pids(value):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace_s / 2
        while time.monotonic() < end and marked_pids(value):
            time.sleep(0.1)
    return marked_pids(value)


def _terminate(signum, frame):
    # turn SIGTERM into an exception so the clean-up below still runs
    raise SystemExit(128 + signum)


def main() -> int:
    t0 = time.monotonic()
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/; run from a "
              "full checkout", file=sys.stderr)
        return 2
    stale = marked_pids()
    if stale:
        print(f"perfbench: processes of an earlier run are still alive: {stale}; "
              "refusing to start", file=sys.stderr)
        return 3

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(ROOT, ".perfbench_run", f"run-{run_id}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        MARKER: run_id,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM of the run (launcher and driver) keeps its temp files in
        # the run dir and writes no hsperfdata file to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.pop("SPARK_MASTER_URL", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir]
    code = None
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE_S - 15.0 - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            proc.kill()
            proc.wait()
        result_path = os.path.join(run_dir, "result.json")
        out = None
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as fh:
                out = json.load(fh)
    finally:
        left = stop_all(run_id)
        shutil.rmtree(run_dir, ignore_errors=True)
    if left:
        print(f"perfbench: could not stop processes {left}", file=sys.stderr)
        return 4
    if out is None:
        print(f"perfbench: worker failed (exit code {code})", file=sys.stderr)
        return 1
    print(json.dumps({"diagnostics": out["diagnostics"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
