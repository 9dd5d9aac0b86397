"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload lake_cdc --seed 1 --seconds 25 --trace 0

Run from the repository root. The run gets a private scratch directory
under `.perfbench_runs/` (TMPDIR, SPARK_LOCAL_DIRS and the JVM's
java.io.tmpdir all point into it), so every fixture and index is built
inside the run and removed with it. Spark runs at `local[nproc]`. The
workload runs in a child process (`worker.py`); this parent relays its
output, whose last line is the result JSON, stops every process the
child started, and exits non-zero without a result if the child fails.
The run's record (environment, git SHA, every op sample, failures, and
with `--trace 1` the spans and counters) goes to
`.perfbench_out/<workload>-seed<seed>-trace<0|1>.json`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("lake_cdc", "corpus_batch")
CHILD_TIMEOUT_S = 170


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _stop_group(pgid: int, wait_s: float = 15.0) -> None:
    """SIGKILL whatever is left in the process group, then wait until
    the group is empty."""
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(REPO, "novelti_dingo_spark",
                                       "session.py")):
        print("perfbench: the novelti_dingo_spark package is not here",
              file=sys.stderr)
        return 2

    launched = time.monotonic()
    run_dir = os.path.join(REPO, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    root = os.path.join(run_dir, "work")
    for d in (tmp, local, root):
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "TZ": "UTC",
        # every JVM the run starts keeps its temp files in the run, and
        # writes no hsperfdata file (HotSpot puts those under /tmp)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", root, "--launched", repr(launched)]
    cmd += ["--out", os.path.join(
        REPO, ".perfbench_out",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")]
    err_path = os.path.join(run_dir, "worker.stderr")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stderr=err,
                                    stdout=subprocess.PIPE, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                _stop_group(proc.pid)
                proc.communicate()
                print("perfbench: the run timed out", file=sys.stderr)
                return 3
            finally:
                # the JVM and Python workers share the child's group
                _stop_group(proc.pid)
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            with open(err_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"perfbench: the run failed (exit {proc.returncode})",
                  file=sys.stderr)
            return 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    try:
        json.loads(lines[-1])
    except json.JSONDecodeError:
        print("perfbench: the run printed no result", file=sys.stderr)
        return 5
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
