"""One benchmark run of one workload, in a process of its own.

`run.py` starts this with a private TMPDIR and SPARK_LOCAL_DIRS and the
parent's clock reading at launch. The run:

1. starts Spark through `session.get_spark` and runs a first job;
2. generates the workload's inputs SETUP_REPEATS times, keeps the last,
   and builds what the workload derives from them (the lake tables);
3. runs one cold pass, then warm passes until `--seconds` have passed;
4. checks outputs (outside the timed region) and prints the result as
   the last line of stdout.

With `--trace 1` warm passes alternate untraced and traced; the per-layer
metrics come from the traced ones and the difference between the two
kinds is the tracing overhead. Spans, per-op records and every counter
are written to `--out`, with the run's environment and every op sample.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, REPO)

import numpy as np  # noqa: E402

from harness import Harness, OpFailed, geomean  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402
from corpus_batch import CorpusBatch  # noqa: E402
from lake_cdc import LakeCdc  # noqa: E402

SETUP_REPEATS = 3

# per-layer metrics every workload reports, per traced warm pass
GENERIC_LAYER = {
    "catalyst.plan_ms": "ms", "spark.exec_ms": "ms",
    "spark.driver_gap_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    "pyworker.bytes_sent": "bytes",
}
# at least two warm passes, so a slow first warm pass (the JVM is still
# warming) never stands alone; a traced run needs an untraced warm pass on
# each side of a traced one to measure the tracing overhead
MIN_WARM = 2
TRACED_MIN_WARM = 3


WORKLOADS = {"lake_cdc": LakeCdc, "corpus_batch": CorpusBatch}


def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--launched", type=float, required=True,
                    help="time.monotonic() of the parent at launch")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    workload_cls = WORKLOADS[args.workload]

    from novelti_dingo_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    spark.range(1).collect()
    t2 = time.monotonic()

    tracer = Tracer(spark) if args.trace else NullTracer()
    h = Harness()
    rng = np.random.default_rng(args.seed)
    wl = workload_cls(spark, args.root, rng, h)
    prep = []
    for _ in range(SETUP_REPEATS):
        s = time.monotonic()
        wl.generate()
        prep.append(time.monotonic() - s)
    s = time.monotonic()
    wl.build()
    build_s = time.monotonic() - s
    setup_s = (t2 - args.launched) + statistics.median(prep) + build_s
    wl.check_prep()

    traced_passes, untraced_passes = [], []
    stopped = False
    try:
        h.start_pass()
        wl.run_pass()
        deadline = time.monotonic() + args.seconds
        min_warm = TRACED_MIN_WARM if args.trace else MIN_WARM
        while (time.monotonic() < deadline
               or len(h.pass_ms) - 1 < min_warm):
            traced = bool(args.trace) and len(h.pass_ms) % 2 == 0
            h.tracer = tracer if traced else NullTracer()
            (traced_passes if traced else untraced_passes).append(
                len(h.pass_ms))
            h.start_pass()
            wl.run_pass()
    except OpFailed:
        stopped = True  # the op's failure is in h.failed_ops
    finally:
        h.tracer = NullTracer()

    warm = list(h.warm_passes())
    correct = h.failed == 0 and len(warm) > 0
    metrics: dict[str, tuple[float, str]] = {}
    extra: dict[str, float] = {}
    if not stopped and warm:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median_low(h.pass_ms[p] for p in warm)
                       / 1e3, "s"),
            "op_geomean_ms": (geomean(h.op_median_ms(n)
                                      for n in h.op_names()), "ms"),
        }
        # one sample per run, too noisy to gate on: reported, not scored
        extra = {"cold_pass_s": h.pass_ms[0] / 1e3, **wl.summary()}
        if args.trace:
            metrics = _per_layer(spark, tracer, wl, h, t0, t1, t2,
                                 traced_passes, untraced_passes)

    env = {k: os.environ.get(k) for k in (
        "SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "TMPDIR", "TZ",
        "SPARK_DINGO_SHUFFLE_PARTITIONS", "SPARK_DINGO_DRIVER_MEM")}
    info = {
        "workload": args.workload, "seed": args.seed,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]), "git_sha": _git_sha(),
        "python": platform.python_version(), "env": env,
        "passes": len(h.pass_ms), "pass_ms": h.pass_ms,
        "op_samples": {n: [v for p in h.samples for v in p.get(n, [])]
                       for n in h.op_names()},
        "setup_generate_s": prep, "setup_build_s": build_s,
        "summary": extra,
        "failures": list(h.failed_ops.values()),
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({**info, **(tracer.dump() if args.trace else {}),
                   "metrics": metrics}, f, indent=1, default=str)
    spark.stop()

    print("perfbench " + json.dumps(
        {k: info[k] for k in ("workload", "seed", "nproc", "git_sha",
                              "passes", "summary", "failures")}))
    print(json.dumps({
        "correct": correct,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _per_layer(spark, tracer, wl, h, t0, t1, t2, traced, untraced):
    """Per-layer metrics of the traced run, per traced warm pass."""
    n = max(1, len(traced))
    c = tracer.counters
    out: dict[str, tuple[float, str]] = {
        "session.start_ms": ((t1 - t0) * 1e3, "ms"),
        "session.first_job_ms": ((t2 - t1) * 1e3, "ms"),
    }
    for k, unit in GENERIC_LAYER.items():
        out[k] = (c.get(k, 0.0) / n, unit)
    # every workload reports every workload's layer metrics; a layer the
    # workload bypasses reads 0
    own = wl.per_layer(tracer)
    for cls in WORKLOADS.values():
        for k, unit in cls.LAYER_METRICS.items():
            out[k] = (own.get(k, 0.0), unit)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    out["jvm.peak_rss_mb"] = (_peak_rss_mb(jvm_pid), "MB")
    # each traced pass against the mean of the untraced passes around it,
    # so the warm-up trend across passes cancels
    fracs = [h.pass_ms[p] / ((h.pass_ms[p - 1] + h.pass_ms[p + 1]) / 2) - 1
             for p in traced if p + 1 in untraced]
    out["tracing.overhead_frac"] = (
        statistics.median(fracs) if fracs else 0.0, "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
