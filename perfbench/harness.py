"""Op timing, pass bookkeeping and failure accounting shared by workloads.

Every call the benchmark times goes through `Harness.timed`, which counts
it as attempted. An op fails when it raises or when a later output check
on it fails; each op counts as failed at most once.
"""

from __future__ import annotations

import contextlib
import math
import statistics
import time
from collections import defaultdict

from spans import NullTracer


class OpFailed(Exception):
    """An op raised; the workload cannot continue from a known state."""


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Harness:
    def __init__(self):
        self.tracer = NullTracer()
        self.attempted = 0
        self.failed_ops: dict[int, str] = {}
        # samples[pass][op_name] -> list of ms; pass 0 is the cold pass
        self.samples: list[dict[str, list[float]]] = []
        self.pass_ms: list[float] = []

    def start_pass(self) -> None:
        self.samples.append(defaultdict(list))
        self.pass_ms.append(0.0)

    def timed(self, name: str, fn):
        """Run `fn()` as one op; returns (op id, result). An exception is
        counted as a failed op and re-raised as OpFailed."""
        self.attempted += 1
        op_id = self.attempted
        with self.tracer.op(name):
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception as e:  # noqa: BLE001 - any error fails the op
                self.failed_ops[op_id] = f"{name}: {type(e).__name__}: {e}"
                raise OpFailed(self.failed_ops[op_id]) from e
            ms = (time.perf_counter() - t0) * 1e3
        self.samples[-1][name].append(ms)
        self.pass_ms[-1] += ms
        self.tracer.add(f"{name}_ms", ms)
        return op_id, result

    @contextlib.contextmanager
    def step(self, name: str):
        """A traced sub-step of an op (open, build, plan, execute)."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.tracer.add(f"{name}_ms", (time.perf_counter() - t0) * 1e3)

    def check(self, op_id: int, ok: bool, what: str) -> None:
        if not ok and op_id not in self.failed_ops:
            self.failed_ops[op_id] = what

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def warm_passes(self) -> range:
        return range(1, len(self.samples))

    def op_median_ms(self, name: str) -> float:
        """Lower median of the op's warm samples: with two warm passes,
        the faster one, so one pass slowed by a neighbour on the machine
        does not move the result."""
        return statistics.median_low(
            [v for p in self.warm_passes() for v in self.samples[p][name]])

    def op_names(self) -> list[str]:
        return sorted({n for p in self.samples for n in p})
