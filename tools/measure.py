"""The one op-timing primitive: bench.py and the op-timing tools time a
registry op with `measure()`; regress.py's parity sweep bounds each op
with the same `Watchdog`.

Protocol:
- an untimed `System.gc()` settle, so the previous op's major-GC debt
  does not land in this op's window (seen: 0.3 s ops reading 3.7 s);
- best of `reps` construction + action runs, going on to 5 runs while
  the best is under 1 s: first runs pay JVM codegen/cleanup stalls
  that are session artifacts, and the fixed +- tens-of-ms session
  noise weighs most where repeats are cheapest;
- action `noop` (the noop sink computes every column of every row,
  where `count()` lets Catalyst prune a narrow op to a column-less
  scan) or `count`, for tools that need the row count.

Construction and action run under separate Spark job groups. They
split the result into `build_s` and `action_s`, count `build_jobs`,
and carry the watchdog: past `budget_s` the current group is
cancelled and the result comes back with `timed_out` set.

    m = measure(spark, op.fn, sf_dir)  # noop action, best of 3
    m = measure(spark, op.fn, sf_dir, action="count", reps=2, budget_s=120)
"""

from __future__ import annotations

import threading
import time
import uuid
from dataclasses import dataclass

ACTIONS = ("noop", "count")


class Watchdog:
    """Tags this thread's Spark jobs with one job group at a time and,
    once `budget_s` has passed, cancels the current group. `fired`
    records that OUR timer cancelled the work, so a budget cancel is
    told apart from a genuine failure. The job group is cleared on
    exit."""

    def __init__(self, sc, budget_s: float | None = None):
        self.sc, self.group, self.fired = sc, None, threading.Event()
        self._timer = threading.Timer(budget_s, self._cancel) if budget_s else None

    def _cancel(self) -> None:
        self.fired.set()
        if self.group is not None:
            self.sc.cancelJobGroup(self.group)

    def enter(self, group: str) -> None:
        # group first, check last: a timer firing in between either
        # cancels the new group or is caught here
        self.group = group
        self.sc.setJobGroup(group, group, interruptOnCancel=True)
        if self.fired.is_set():
            raise TimeoutError(group)

    def __enter__(self) -> Watchdog:
        if self._timer is not None:
            self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        if self._timer is not None:
            self._timer.cancel()
        self.sc._jsc.clearJobGroup()


@dataclass(frozen=True)
class Measurement:
    best_s: float  # best construction + action seconds (elapsed if timed out)
    build_s: float  # construction seconds of the best run
    action_s: float  # action seconds of the best run
    build_jobs: int  # Spark jobs the best run's construction launched
    runs: int
    rows: int | None = None  # action="count" only
    timed_out: bool = False


def measure(
    spark,
    fn,
    sf_dir: str,
    *,
    action: str = "noop",
    reps: int = 3,
    budget_s: float | None = None,
) -> Measurement:
    """Time `fn(spark, sf_dir)` plus `action` by the protocol above."""
    if action not in ACTIONS:
        raise ValueError(f"action {action!r} is not one of: {', '.join(ACTIONS)}")
    sc = spark.sparkContext
    prefix = f"measure-{uuid.uuid4().hex[:12]}-{getattr(fn, '__name__', 'op')}"
    sc._jvm.System.gc()
    runs: list[tuple[float, float, str]] = []  # (build_s, action_s, build group)
    rows = None
    t_start = time.perf_counter()
    with Watchdog(sc, budget_s) as wd:
        try:
            while len(runs) < reps or (
                len(runs) < 5 and min(b + a for b, a, _ in runs) < 1.0
            ):
                group = f"{prefix}-{len(runs)}"
                wd.enter(f"{group}-build")
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                build_s = time.perf_counter() - t0
                wd.enter(f"{group}-action")
                t0 = time.perf_counter()
                if action == "count":
                    rows = df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
                runs.append((build_s, time.perf_counter() - t0, f"{group}-build"))
        except Exception:
            if not wd.fired.is_set():
                raise
            elapsed = time.perf_counter() - t_start
            return Measurement(elapsed, 0.0, 0.0, 0, len(runs), timed_out=True)
    build_s, action_s, group = min(runs, key=lambda r: r[0] + r[1])
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return Measurement(build_s + action_s, build_s, action_s, build_jobs, len(runs), rows)
