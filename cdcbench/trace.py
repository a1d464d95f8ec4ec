"""Measurement from outside the program: spans, streaming progress,
Spark's event log, JVM counters and bytes on disk."""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from stats import layer_self_times


class Tracer:
    """In-memory spans, one per call into a layer; written at the end.
    A disabled tracer keeps nothing, so untraced runs pay one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """A span measured elsewhere (e.g. a micro-batch phase)."""
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "layer": layer,
             "start": start, "end": end, **attrs}
        )
        return sid

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"meta": meta, "layer_self_s": layer_self_times(self.spans), "spans": self.spans},
                f,
            )


# Spark runs the phases of one micro-batch in this order.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def batch_spans(tracer: Tracer, progress: list[dict], parent: int | None) -> None:
    """One span per micro-batch with a child per phase, laid end to end
    from the trigger's start (progress reports durations, not offsets)."""
    for p in progress:
        start = p["start"]
        bid = tracer.add(
            f"batch {p['batchId']}", "streaming.pipeline", start,
            start + p["durationMs"].get("triggerExecution", 0) / 1000, parent,
            rows=p["numInputRows"],
        )
        t = start
        for phase in BATCH_PHASES:
            ms = p["durationMs"].get(phase)
            if ms is None:
                continue
            layer = "sources" if phase in ("latestOffset", "getBatch") else "streaming.pipeline"
            tracer.add(phase, layer, t, t + ms / 1000, bid)
            t += ms / 1000


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress report.
    ``wait(n)`` blocks until ``n`` queries have terminated, because the
    listener bus delivers events after ``awaitTermination`` returns."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = 0
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "start": _iso_epoch(p.timestamp),
            }
            with self._cv:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated += 1
                self._cv.notify_all()

        def wait(self, n: int, timeout: float = 60.0) -> None:
            with self._cv:
                if not self._cv.wait_for(lambda: self.terminated >= n, timeout):
                    raise TimeoutError(f"{n} streaming queries did not report termination")

    return ProgressListener()


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Jvm:
    """Counters of the driver JVM (local mode: driver and executors)."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._mf.getGarbageCollectorMXBeans())

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def version_dirs(state_dir: str) -> list[str]:
    return sorted(
        d for d in os.listdir(state_dir) if d.startswith("v") and d[1:].isdigit()
    ) if os.path.isdir(state_dir) else []


class StatePoller:
    """Samples every file under ``root`` while a call runs, keeping the
    largest size seen per path: versions written and pruned inside one
    call still count.  Traced runs only."""

    def __init__(self, root: str, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.sizes: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _scan(self) -> None:
        for root, _, files in os.walk(self.root):
            for name in files:
                p = os.path.join(root, name)
                try:
                    size = os.path.getsize(p)
                except OSError:
                    continue
                if size > self.sizes.get(p, -1):
                    self.sizes[p] = size

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._scan()

    def __enter__(self):
        self._scan()
        self.baseline = dict(self.sizes)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._scan()

    def written(self) -> int:
        """Bytes of committed files that appeared or grew since entry
        (task attempts' ``_temporary`` files are seen or missed by chance)."""
        return sum(
            size - self.baseline.get(p, 0)
            for p, size in self.sizes.items()
            if size > self.baseline.get(p, 0) and f"{os.sep}_temporary{os.sep}" not in p
        )


class EventLog:
    """Stage and SQL-execution records from Spark's JSON event log.
    Read after the SparkContext stopped, when the log is complete."""

    def __init__(self, log_dir: str):
        self.stages: list[dict] = []
        self.jobs: list[dict] = []
        self.sql: dict[int, dict] = {}
        paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        for path in sorted(p for p in paths if os.path.isfile(p)):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs.append({"time": e["Submission Time"] / 1000, "stages": len(e.get("Stage IDs", []))})
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}

            def num(name: str) -> int:
                try:
                    return int(acc.get(name) or 0)
                except (TypeError, ValueError):
                    return 0

            self.stages.append(
                {
                    "time": info.get("Submission Time", 0) / 1000,
                    "tasks": info.get("Number of Tasks", 0),
                    "shuffle_write": num("internal.metrics.shuffle.write.bytesWritten"),
                    "spill": num("internal.metrics.memoryBytesSpilled")
                    + num("internal.metrics.diskBytesSpilled"),
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = {
                "start": e["time"] / 1000,
                "plan": e.get("physicalPlanDescription", ""),
            }
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            rec = self.sql.get(e["executionId"])
            if rec is not None:
                rec["end"] = e["time"] / 1000

    def window(self, t0: float, t1: float) -> dict:
        """Totals of the jobs and stages submitted inside [t0, t1]."""
        stages = [s for s in self.stages if t0 <= s["time"] <= t1]
        return {
            "jobs": sum(1 for j in self.jobs if t0 <= j["time"] <= t1),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "shuffle_write": sum(s["shuffle_write"] for s in stages),
            "spill": sum(s["spill"] for s in stages),
        }

    def sql_seconds(self, needle: str, t0: float, t1: float) -> list[float]:
        """Durations of SQL executions in [t0, t1] whose plan names ``needle``."""
        return [
            r["end"] - r["start"]
            for r in self.sql.values()
            if "end" in r and t0 <= r["start"] <= t1 and needle in r["plan"]
        ]
