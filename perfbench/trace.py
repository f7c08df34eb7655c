"""Traced mode: spans around the calls into each layer, recorded from
the benchmark's side of the public API, plus Spark job, stage and
streaming-progress counts. Spans stay in memory and are written once,
when the run ends. With tracing off every hook is a no-op."""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

MIB = 1024 * 1024


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def jobs(self) -> int:
        """Jobs submitted so far in this SparkContext."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Time the enclosed call into a layer; add `<name>_s` (and
        `<name>_jobs` when asked) to the totals."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        j0 = self.jobs() if jobs else 0
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        self.spans.append({"name": name, "parent": parent, **attrs})
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield
        finally:
            t1 = time.perf_counter()
            rec = self.spans[self._stack.pop()]
            rec.update(start=t0, end=t1)
            self.totals[f"{name}_s"] += t1 - t0
            if jobs:
                n = self.jobs() - j0
                rec["jobs"] = n
                self.totals[f"{name}_jobs"] += n
            self.overhead_s += time.perf_counter() - t1

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.totals[name] += n

    def wrap_module_function(self, module, fn_name: str, make_wrapper) -> None:
        """Replace `module.fn_name` in the module that defines it and in
        every loaded program module that imported it by name, so calls
        made inside the program pass through the span too."""
        if not self.enabled:
            return
        original = getattr(module, fn_name)
        wrapped = make_wrapper(original)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("kinesis_to_firehose_spark") and getattr(
                mod, fn_name, None
            ) is original:
                setattr(mod, fn_name, wrapped)

    def last_stage_id(self) -> int:
        stages = self._stage_list()
        return max((s.stageId() for s in _iter(stages)), default=-1)

    def _stage_list(self):
        sc = self.spark.sparkContext
        jvm = sc._jvm
        return sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def stage_totals(self, after_stage_id: int) -> dict[str, float]:
        """Executor metrics summed over the stages newer than
        `after_stage_id`, read from the AppStatusStore (the UI is off)."""
        out = dict.fromkeys(
            (
                "stage.run_s",
                "stage.cpu_s",
                "stage.gc_s",
                "stage.shuffle_read_mib",
                "stage.shuffle_write_mib",
                "stage.spill_mib",
                "stage.input_mib",
                "stage.tasks",
            ),
            0.0,
        )
        for s in _iter(self._stage_list()):
            if s.stageId() <= after_stage_id:
                continue
            out["stage.run_s"] += s.executorRunTime() / 1e3
            out["stage.cpu_s"] += s.executorCpuTime() / 1e9
            out["stage.gc_s"] += s.jvmGcTime() / 1e3
            out["stage.shuffle_read_mib"] += s.shuffleReadBytes() / MIB
            out["stage.shuffle_write_mib"] += s.shuffleWriteBytes() / MIB
            out["stage.spill_mib"] += s.diskBytesSpilled() / MIB
            out["stage.input_mib"] += s.inputBytes() / MIB
            out["stage.tasks"] += s.numTasks()
        return out

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump({"spans": self.spans, "totals": self.totals}, f)


def _iter(seq):
    for i in range(seq.size()):
        yield seq.apply(i)


def progress_listener():
    """A StreamingQueryListener keeping each progress event's row count
    and durationMs, keyed by query id. Its callbacks run on the py4j
    callback thread, so it keeps its own overhead count."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events: dict[str, list[tuple[int, dict]]] = defaultdict(list)
            self.overhead_s = 0.0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t0 = time.perf_counter()
            p = event.progress
            self.events[str(p.id)].append((p.numInputRows, dict(p.durationMs)))
            self.overhead_s += time.perf_counter() - t0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
