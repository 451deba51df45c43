"""Shared pieces of the workloads: the closed loop, results and statistics."""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

#: set-up runs this many times per run; setup_s is the median, a warm
#: set-up (the first one pays the session's cold start)
SETUP_REPS = 3


@dataclass
class Op:
    """One timed operation of the closed loop."""

    kind: str  # "light" or "heavy"; each workload says which is which
    name: str
    seconds: float
    ok: bool
    pass_no: int  # which pass of the workload's fixed mix it belongs to


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    #: timed operations
    ops: list[Op] = field(default_factory=list)
    #: failed or wrong operations, set-up and final checks included
    failed: int = 0
    #: checked operations outside the timed loop (set-up, final checks)
    extra_attempts: int = 0
    info: dict = field(default_factory=dict)
    #: per-layer metrics of a traced run: name -> (value, unit)
    layers: dict = field(default_factory=dict)
    #: the last output of each operation name, for checks after the loop
    outputs: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked outcome outside the timed loop."""
        self.extra_attempts += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)
        return ok

    def passes(self) -> list[list[Op]]:
        """The timed operations grouped by pass."""
        out: dict[int, list[Op]] = {}
        for o in self.ops:
            out.setdefault(o.pass_no, []).append(o)
        return list(out.values())


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    dir: Path
    tracer: object

    def run_op(self, name: str, fn, check, probe, res: Result, span: str = "op") -> tuple[float, bool]:
        """Time fn(), then check its output; a traced run wraps fn() in a
        ``span`` span (``op`` for a timed operation) and follows it with
        ``probe``, which times lazy layers outside the operation."""
        ok = False
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn()
            seconds = time.perf_counter() - t0
            res.outputs[name] = out
            ok = bool(check(out))
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            seconds = time.perf_counter() - t0
        if ok and self.trace and probe is not None:
            probe()
        if not ok:
            res.failed += 1
            print(f"operation failed: {name}", file=sys.stderr)
        return seconds, ok

    def loop(self, passes, res: Result, warmup: int = 0, min_passes: int = 1) -> None:
        """Closed loop over ``passes``, an iterator of passes of a
        workload's fixed mix, each a list of (kind, name, fn, check, probe)
        operations, run one at a time.

        The first ``warmup`` passes are not timed (their outputs are still
        checked and counted), so timing starts on a warm session. Then the
        loop runs ``min_passes`` whole passes, and after them whole passes
        until ``seconds`` have elapsed; each workload sizes its pass so
        that ``min_passes`` outlast the run's usual ``seconds``, so every
        run takes as many samples of each operation."""
        passes = iter(passes)
        t0 = time.perf_counter()
        for _ in range(warmup):
            for kind, name, fn, check, probe in next(passes):
                res.extra_attempts += 1
                self.run_op(name, fn, check, None, res, span="warmup")
        res.info["warmup_wall_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        for p, ops in enumerate(passes):
            if p >= min_passes and time.perf_counter() >= deadline:
                break
            for kind, name, fn, check, probe in ops:
                seconds, ok = self.run_op(name, fn, check, probe, res)
                res.ops.append(Op(kind, name, seconds, ok, p))
        res.info["loop_wall_s"] = time.perf_counter() - t0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as (value,
    percentile, sample count); the maximum when there are ten or fewer."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


def span_median(tracer, name: str, attr: str = "duration") -> float:
    """Median duration (or counter ``attr``) of the spans of ``name`` inside
    timed operations, or of all of them when none is."""
    spans = tracer.timed(name) or tracer.named(name)
    if attr == "duration":
        return median(s.duration for s in spans)
    return median(tracer.counter([s], attr) for s in spans)
