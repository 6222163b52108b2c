"""Per-layer measurement from outside the program.

Three sources, all read outside the timed regions:

- spans the benchmark records around its own calls into the program
  (``Trace``);
- Spark's SQL status store and the driver-side accumulators of the plans
  it lists (``SqlMetrics``): scan, shuffle, aggregate/join/sort, Python
  worker and file-commit metrics per SQL execution. ``foreachBatch``
  re-plans the micro-batch as an RDD scan, so the status store keeps no
  values for the batch's own operators (MapInPandas); their accumulators
  are still registered on the driver and are read there;
- Spark's status tracker for job/stage/task counts (``JobMetrics``), and a
  ``StreamingQueryListener`` for per-micro-batch durations
  (``BatchRecorder``).
"""

from __future__ import annotations

import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Trace:
    """Spans kept in memory: (id, name, start, end, parent, run id)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: "int | None" = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return sid


_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^(-?[\d,.]+)\s*([A-Za-z]*)")


def _parse_formatted(text: str, metric_type: str) -> float:
    """A status-store string ("1.2 s", "2.8 MiB", "15,000", or the
    multi-task "total (min, med, max ...)\\n<total> (...)") → seconds,
    bytes or a count."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type in ("timing", "nsTiming"):
        return num * _UNIT.get(unit or "ms", 1e-3)
    if metric_type == "size":
        return num * _UNIT.get(unit or "B", 1)
    return num


def _raw_value(raw: int, metric_type: str) -> float:
    if metric_type == "timing":
        return raw * 1e-3
    if metric_type == "nsTiming":
        return raw * 1e-9
    return float(raw)


class SqlMetrics:
    """Totals by metric name over the SQL executions started since the
    last ``take()``: timings in seconds, sizes in bytes, sums as counts.
    Each accumulator is counted once even when AQE lists it in several
    plan versions."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext
        self._seen = self._store.executionsCount()

    def take(self) -> "tuple[dict[str, float], list[dict]]":
        """(totals, [{nodes, wall_s}] per execution) since the previous
        call."""
        count = self._store.executionsCount()
        execs = self._store.executionsList(self._seen, count - self._seen)
        self._seen = count
        totals: dict[str, float] = {}
        info: list[dict] = []
        for i in range(execs.size()):
            e = execs.apply(i)
            nodes = self._store.planGraph(e.executionId()).allNodes()
            done = e.completionTime()
            info.append({
                "nodes": [nodes.apply(k).name() for k in range(nodes.size())],
                "wall_s": (done.get().getTime() - e.submissionTime()) / 1e3 if done.isDefined() else 0.0,
            })
            values = self._store.executionMetrics(e.executionId())
            metrics = e.metrics()
            seen: set[int] = set()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                acc_id = m.accumulatorId()
                if acc_id in seen:
                    continue
                seen.add(acc_id)
                acc = self._acc.get(acc_id)
                if acc.isDefined():
                    v = _raw_value(acc.get().value(), m.metricType())
                else:
                    text = values.get(acc_id)
                    if not text.isDefined():
                        continue
                    v = _parse_formatted(text.get(), m.metricType())
                totals[m.name()] = totals.get(m.name(), 0.0) + v
        return totals, info


class JobMetrics:
    """Job, stage and task counts for the jobs submitted since the last
    ``take()`` (Spark's status tracker). Stages count when they ran a
    task, so stages skipped for a reused shuffle do not."""

    def __init__(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        self._seen = set(self._tracker.getJobIdsForGroup())

    def take(self) -> dict:
        new = set(self._tracker.getJobIdsForGroup()) - self._seen
        self._seen |= new
        stage_ids: set[int] = set()
        for j in new:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        ran = [s for s in map(self._tracker.getStageInfo, stage_ids) if s is not None and s.numCompletedTasks]
        return {"jobs": len(new), "stages": len(ran), "tasks": sum(s.numCompletedTasks for s in ran)}


class BatchRecorder(StreamingQueryListener):
    """Every micro-batch progress event of the process, kept in memory."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API names)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._lock:
            self.batches.append(
                {"query": str(p.id), "batch": p.batchId, "rows": p.numInputRows,
                 "timestamp": p.timestamp, "duration_ms": dict(p.durationMs)}
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def settle(self, timeout_s: float = 10.0) -> list:
        """Wait until no event arrived for half a second; the events ride
        an asynchronous bus."""
        deadline = time.monotonic() + timeout_s
        seen = -1
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self.batches)
            if n == seen:
                break
            seen = n
            time.sleep(0.5)
        with self._lock:
            return list(self.batches)


def peak_rss_mb(*pids: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024
