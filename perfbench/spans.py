"""Tracing for the benchmark's traced run (`--trace 1`).

Spans are recorded from the benchmark's own code around calls into each
layer of `opendosm_parquet_to_sqlite_spark`; nothing inside the program is
changed. Layer functions that the program calls internally (the pipeline's
sinks, the source cache, the uniqueness check) are wrapped in place, so
the op itself still goes through the public entry point unchanged. Spark's
own counters come from the driver's status store and, for streaming, from
a `StreamingQueryListener`.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans (name, start, end, parent, workload, op id) plus per-op
    counters. When `enabled` is false every call is a no-op, so one code
    path serves traced and untraced ops."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.enabled = False
        self.op_id = "setup"
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[self.op_id][name] += value

    def span_total(self, name: str) -> dict[str, float]:
        """Seconds spent in spans called `name`, summed per op."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                out[s["op"]] += s["end"] - s["start"]
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = {"spans": self.spans, "counters": self.counters, **extra}
        path.write_text(json.dumps(doc, indent=1))


def wrap(tracer: Tracer, owner, attr: str, span_name: str, after=None) -> None:
    """Replace `owner.attr` by a wrapper that records a span around each
    call (and, if given, calls `after(result, args, kwargs)` to record
    counters). A disabled tracer makes the wrapper a plain pass-through."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(span_name):
            result = fn(*args, **kwargs)
        if after is not None:
            after(result, args, kwargs)
        return result

    setattr(owner, attr, traced)


class EngineCounters:
    """Per-op deltas of Spark's own counters, read from the driver's status
    store: jobs, tasks, executor run time, spill, GC time, shuffle bytes
    written and input records. Stage and job ids are dense and increasing,
    so the stages of one op are those created since the previous mark."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_stage = 0
        self._next_job = 0
        self._total: dict[str, float] = defaultdict(float)

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _probe(self, get, start: int) -> list:
        found = []
        i = start
        while True:
            try:
                found.append(get(i))
            except Py4JJavaError:
                return found
            i += 1

    def take(self) -> dict[str, float]:
        """Counters accumulated since the previous take, then start afresh."""
        self.delta()
        total, self._total = dict(self._total), defaultdict(float)
        return total

    def delta(self) -> dict[str, float]:
        """Counters of the stages and jobs created since the previous call
        (also accumulated for the next `take`)."""
        self._drain()
        stages = self._probe(self._store.lastStageAttempt, self._next_stage)
        jobs = self._probe(self._store.job, self._next_job)
        self._next_stage += len(stages)
        self._next_job += len(jobs)
        run = [s for s in stages if s.status().toString() != "SKIPPED"]
        d = {
            "jobs": len(jobs),
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in run),
            "executor_run_s": sum(s.executorRunTime() for s in run) / 1e3,
            "gc_s": sum(s.jvmGcTime() for s in run) / 1e3,
            "spill_mb": sum(s.diskBytesSpilled() for s in run) / 1e6,
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in run) / 1e6,
            "input_records": sum(s.inputRecords() for s in run),
        }
        for k, v in d.items():
            self._total[k] += v
        return d


class StreamCounters:
    """Collects `StreamingQueryListener` progress events. `wait_terminated`
    blocks until the listener has seen the end of the query that just ran,
    because events reach Python asynchronously."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming.listener import StreamingQueryListener

        owner = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with owner._lock:
                    owner._progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                owner._terminated.set()

        self._lock = threading.Lock()
        self._progress: list = []
        self._terminated = threading.Event()
        self._listener = _Listener()  # held so the callback object stays alive
        spark.streams.addListener(self._listener)

    def reset(self) -> None:
        with self._lock:
            self._progress.clear()
        self._terminated.clear()

    def wait_terminated(self, timeout: float = 30.0) -> list:
        if not self._terminated.wait(timeout):
            raise TimeoutError("no onQueryTerminated event from the streaming listener")
        with self._lock:
            return [p for p in self._progress if p.numInputRows > 0]
