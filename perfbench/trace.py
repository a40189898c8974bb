"""Spans around the engine's public calls, with Spark stage-metric deltas.

A span records the wall time of one call and the sum of the stage metrics of
every stage that ran during it, read from Spark's in-process status store
(readable with the UI off). Spans stay in memory; the run writes them out
once it ends. Nothing here runs a Spark job, and a run with tracing off
never touches the status store.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

# Stage measures summed per span: (name, StageData accessor, scale to units).
_STAGE_MEASURES = (
    ("tasks", "numTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),  # ms
    ("executor_cpu_s", "executorCpuTime", 1e-9),  # ns
    ("gc_s", "jvmGcTime", 1e-3),  # ms
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_records", "shuffleWriteRecords", 1),
    ("spill_bytes", ("memoryBytesSpilled", "diskBytesSpilled"), 1),
    ("input_records", "inputRecords", 1),
)


class StageMetrics:
    """Reads stage totals from the SparkContext's AppStatusStore."""

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext._jsc.sc()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )
        self.cores = cores

    def _stages(self):
        # Listener events are delivered asynchronously; drain them so the
        # store holds every stage the last action ran.
        self._sc.listenerBus().waitUntilEmpty()
        # newest stage first (the store's natural index, reversed)
        return self._sc.statusStore().stageList(None, False, False, self._no_quantiles, None)

    def last_stage_id(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def since(self, last_id: int) -> dict:
        """Summed measures of every stage with an id above `last_id`."""
        out = {name: 0 for name, _, _ in _STAGE_MEASURES}
        out["stages"] = 0
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= last_id:
                break
            if str(s.status().toString()) == "COMPLETE":
                out["stages"] += 1
            for name, getter, scale in _STAGE_MEASURES:
                getters = getter if isinstance(getter, tuple) else (getter,)
                out[name] += sum(getattr(s, g)() for g in getters) * scale
        return out


class Tracer:
    """Collects spans in memory; `metrics` is None when tracing is off."""

    def __init__(self, metrics: StageMetrics | None):
        self.metrics = metrics
        self.spans: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.metrics is not None

    @contextmanager
    def span(self, name: str, op: int):
        """Time the body and, when tracing, record its stage deltas.

        Yields the span's record; the caller adds its own counts (rows a
        call reports, files it wrote) to it after the body, outside the
        timed interval. Without tracing the record is dropped. `trace_s` is
        the time the status-store reads took, outside `wall_s`: the cost
        tracing adds to the run."""
        rec: dict = {"name": name, "op": op}
        if not self.enabled:
            yield rec
            return
        t0 = time.perf_counter()
        last = self.metrics.last_stage_id()
        start = time.perf_counter()
        yield rec
        end = time.perf_counter()
        rec.update(start=start, wall_s=end - start)
        rec.update(self.metrics.since(last))
        rec["trace_s"] = (start - t0) + (time.perf_counter() - end)
        rec["core_util"] = rec["executor_run_s"] / (rec["wall_s"] * self.metrics.cores) if rec["wall_s"] > 0 else 0.0
        self.spans.append(rec)


def span_summary(spans: list[dict], names: tuple[str, ...]) -> dict[str, dict]:
    """Per span name: the median of every numeric field over its spans; a
    name that never ran maps to an empty dict."""
    from statistics import median

    out = {}
    for name in names:
        rows = [s for s in spans if s["name"] == name]
        keys = sorted({k for r in rows for k, v in r.items() if isinstance(v, (int, float))} - {"op", "start"})
        out[name] = {k: median(r.get(k, 0) for r in rows) for k in keys} if rows else {}
    return out


# --- process memory --------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def alive(pids: list[int]) -> list[int]:
    """The pids of `pids` that still run (a zombie has ended)."""
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state not in ("Z", "X"):
            out.append(p)
    return out


def peak_rss_mb(pid: int) -> tuple[float, dict[str, float]]:
    """Summed VmHWM of every process below `pid`: the Spark JVM and its
    Python workers (the benchmark's own process is not counted). Also
    returns each process's share, keyed by "<pid> <name>"."""
    parts = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:  # ended while being read
            continue
        if "VmHWM" in fields:
            parts[f"{p} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return sum(parts.values()), parts
