"""Spans recorded around calls into the engine, for the traced run.

Nothing here runs inside the engine's own files: batch spans come from a
``StreamingQueryListener``, sink spans from wrappers the benchmark installs
around ``streaming.sinks.append_parquet`` / ``upsert_parquet``, and plan
spans from timing each query's build and execution, with stage counters
read from Spark's status store. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# Order in which a micro-batch runs its phases (MicroBatchExecution); the
# listener only reports durations, so children are laid out in this order.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


@dataclass
class Span:
    name: str
    start: float  # seconds since the epoch
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(parent: Span, children: list[Span]) -> float:
    """Length of the part of ``parent`` that the union of ``children``
    covers (children are clipped to the parent; overlaps count once)."""
    ivals = sorted(
        (max(c.start, parent.start), min(c.end, parent.end)) for c in children
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivals:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent: Span, children: list[Span]) -> float:
    """A layer's self time: its span minus the time its children cover."""
    return parent.dur - covered(parent, children)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self.progress: dict[str, list] = {}  # query id -> [progress]

    def add(self, span: Span) -> int:
        with self._lock:
            self.spans.append(span)
            return len(self.spans) - 1

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    # -- streaming --------------------------------------------------------
    def listener(self) -> StreamingQueryListener:
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def on_progress(self, p) -> None:
        with self._lock:
            self.progress.setdefault(str(p.id), []).append(p)

    def wait_progress(self, query, timeout: float = 10.0) -> None:
        """Progress events reach the listener asynchronously: wait until it
        has seen every batch the query itself reports."""
        want = {pr.batchId for pr in query.recentProgress}
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                got = {p.batchId for p in self.progress.get(str(query.id), [])}
            if want <= got:
                return
            time.sleep(0.05)

    def batch_spans(self, query_id: str, label: str) -> list[int]:
        """Turn each progress event of one query into a batch span with one
        child per phase and one per stateful operator (inside addBatch)."""
        out = []
        for p in self.progress.get(query_id, []):
            d = p.durationMs
            trig = d.get("triggerExecution", 0) / 1000.0
            if trig <= 0:
                continue
            start = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            rows = sum(s.numInputRows for s in p.sources)
            b = self.add(Span(f"{label}.batch", start, start + trig, None,
                              {"query": label, "batch": p.batchId, "rows": rows,
                               "durations": dict(d)}))
            out.append(b)
            t = start
            for ph in BATCH_PHASES:
                ms = d.get(ph, 0)
                if ms <= 0:
                    continue
                c = self.add(Span(f"{label}.{ph}", t, t + ms / 1000.0, b))
                if ph == "addBatch":
                    for op in p.stateOperators:
                        busy = (op.allUpdatesTimeMs + op.allRemovalsTimeMs + op.commitTimeMs) / 1000.0
                        self.add(Span(f"{label}.state.{op.operatorName}", t, t + min(busy, ms / 1000.0), c,
                                      {"rows": op.numRowsTotal, "bytes": op.memoryUsedBytes,
                                       "update_ms": op.allUpdatesTimeMs, "commit_ms": op.commitTimeMs,
                                       "dropped": op.numRowsDroppedByWatermark}))
                t += ms / 1000.0
        return out

    @contextlib.contextmanager
    def shim(self, module, name: str, on_call=None):
        """Wrap ``module.name`` so each call records a span; callers that
        look the function up through the module at call time see the shim."""
        orig = getattr(module, name)

        def wrapped(*a, **kw):
            t0 = time.time()
            try:
                return orig(*a, **kw)
            finally:
                span = Span(f"sinks.{name}", t0, time.time())
                if on_call is not None:
                    on_call(span, a, kw)
                self.add(span)

        setattr(module, name, wrapped)
        try:
            yield
        finally:
            setattr(module, name, orig)

    def attach_to_batches(self, name: str, batch_idx: list[int]) -> None:
        """Give each sink span the batch span whose interval holds it, so a
        sink call shares its batch's id."""
        batches = [(self.spans[i], i) for i in batch_idx]
        for s in self.spans:
            if s.name != name or s.parent is not None:
                continue
            mid = (s.start + s.end) / 2
            for b, i in batches:
                if b.start <= mid <= b.end:
                    s.parent = self._add_child_of_add_batch(i)
                    s.attrs["batch"] = b.attrs["batch"]
                    break

    # -- plans ------------------------------------------------------------
    def plan_exec(self, spark, name: str, df, t_build0: float, t_build1: float) -> None:
        """Build span + execute span (noop sink) with the stage counters the
        execution added. Times are ``perf_counter`` seconds."""
        self.add(Span(f"plans.{name}.build", t_build0, t_build1))
        before = stage_totals(spark)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t1 = time.perf_counter()
        self.add(Span(f"plans.{name}.execute", t0, t1, None,
                      stage_delta(before, stage_totals(spark))))

    def _add_child_of_add_batch(self, batch_i: int) -> int:
        for j, s in enumerate(self.spans):
            if s.parent == batch_i and s.name.endswith(".addBatch"):
                return j
        return batch_i


def stage_totals(spark) -> dict[tuple, dict]:
    """Stage counters from the status store (works with the UI disabled),
    keyed by (stage id, attempt id)."""
    ss = spark.sparkContext._jsc.sc().statusStore()
    seq = ss.stageList(None, False, False, getattr(ss, "stageList$default$4")(),
                       getattr(ss, "stageList$default$5")())
    out = {}
    for i in range(seq.length()):
        s = seq.apply(i)
        out[(s.stageId(), s.attemptId())] = {
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "tasks": s.numCompleteTasks(),
            "executor_run_ms": s.executorRunTime(),
            "gc_ms": s.jvmGcTime(),
        }
    return out


def stage_delta(before: dict, after: dict) -> dict:
    tot = {"shuffle_bytes": 0, "spill_bytes": 0, "tasks": 0, "executor_run_ms": 0, "gc_ms": 0}
    for k, v in after.items():
        b = before.get(k)
        for f in tot:
            tot[f] += v[f] - (b[f] if b else 0)
    return tot
