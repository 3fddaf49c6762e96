"""Per-layer metrics of the traced run, named after the engine's modules.

Every workload reports every metric; a layer a workload does not exercise
reads 0 there (no upserts on ``log_ingest``, no plan spans on the stream
workloads, no micro-batches on ``dws_refresh``), which is itself the
prediction the README's layer table makes for that workload.
"""

from __future__ import annotations

import contextlib
import os
import statistics

from realtimedatawarehouse_self_spark.streaming import sinks

from rtbench import gen
from rtbench.refresh import QUERIES
from rtbench.oracle import percentile
from rtbench.trace import Span, Tracer, covered, self_time

PER_LAYER = (
    [("session.start_s", "s"),
     ("sources.get_batch_ms", "ms"), ("sources.input_rows", "count"),
     ("sources.dead_letter_frac", "ratio"), ("sources.filtered_frac", "ratio"),
     ("streaming.trigger_ms.p50", "ms"), ("streaming.trigger_ms.p99", "ms"),
     ("streaming.add_batch_ms", "ms"), ("streaming.overhead_ms", "ms"),
     ("streaming.batches", "count"), ("streaming.rows_per_batch", "count"),
     ("stateful.state_rows", "count"), ("stateful.state_bytes", "bytes"),
     ("stateful.update_ms", "ms"), ("stateful.commit_ms", "ms"),
     ("stateful.dropped_by_watermark", "count"),
     ("pipelines.window_state_rows", "count"), ("pipelines.window_commit_ms", "ms"),
     ("sinks.append_ms", "ms"), ("sinks.append_calls", "count"),
     ("sinks.upsert_ms", "ms"), ("sinks.upsert_rows_rewritten", "count"),
     ("sinks.upsert_bytes_written", "bytes"), ("sinks.upsert_useful_ratio", "ratio"),
     ("sinks.table_rows", "count")]
    + [(f"plans.{q}.wall_s", "s") for q in QUERIES]
    + [("plans.shuffle_bytes", "bytes"), ("plans.spill_bytes", "bytes"),
       ("plans.tasks", "count"), ("plans.executor_run_ms", "ms"),
       ("jvm.gc_ms", "ms"),
       ("gen.lag_max_s", "s"), ("gen.backlog_end_files", "count"),
       ("gen.latency_samples", "count"),
       ("trace.spans", "count"), ("trace.cover_frac", "ratio"),
       ("trace.batch_self_ms", "ms"),
       ("trace.e2e.drain_eps", "records/s"), ("trace.e2e.latency_p50_s", "s"),
       ("trace.e2e.refresh_s", "s")]
)
# The window aggregation's state belongs to the DWS job (pipelines); every
# other stateful operator (visitor repair, UV dedup) to streaming.stateful.
WINDOW_OP = "stateStoreSave"


def _dir_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of a parquet directory, from file footers."""
    import pyarrow.parquet as pq

    rows = size = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            p = os.path.join(path, name)
            rows += pq.ParquetFile(p).metadata.num_rows
            size += os.path.getsize(p)
    return rows, size


@contextlib.contextmanager
def sink_shims(tracer: Tracer | None):
    """Spans around the two sinks the pipelines call; nothing when untraced."""
    if tracer is None:
        yield
        return

    def after_upsert(span: Span, args, kw) -> None:
        span.attrs["rows"], span.attrs["bytes"] = _dir_stats(args[2])

    with tracer.shim(sinks, "append_parquet"), tracer.shim(sinks, "upsert_parquet", after_upsert):
        yield


def _p(values: list[float], q: float) -> float:
    return percentile([(v, 1) for v in values], q)


def per_layer(wl, tracer: Tracer, res: dict, session_s: float) -> dict:
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = session_s
    m["jvm.gc_ms"] = res["gc_ms"]
    m["sources.input_rows"] = res["input_rows"]
    batches = []
    for label, qid in getattr(wl, "qids", {}).items():
        batches += tracer.batch_spans(qid, label)
    if batches:
        spans = tracer.spans
        trig = [spans[i].dur * 1000 for i in batches]
        d = [spans[i].attrs["durations"] for i in batches]
        rows = [spans[i].attrs["rows"] for i in batches]
        m["streaming.trigger_ms.p50"] = _p(trig, 0.5)
        m["streaming.trigger_ms.p99"] = _p(trig, 0.99)
        m["streaming.add_batch_ms"] = _p([x.get("addBatch", 0) for x in d], 0.5)
        m["streaming.overhead_ms"] = _p([x["triggerExecution"] - x.get("addBatch", 0) for x in d], 0.5)
        m["sources.get_batch_ms"] = _p([x.get("getBatch", 0) for x in d], 0.5)
        m["streaming.batches"] = len(batches)
        with_rows = [r for r in rows if r]
        m["streaming.rows_per_batch"] = statistics.mean(with_rows) if with_rows else 0.0
        cov = sum(covered(spans[i], tracer.children(i)) for i in batches)
        m["trace.cover_frac"] = cov / sum(spans[i].dur for i in batches)
        m["trace.batch_self_ms"] = sum(self_time(spans[i], tracer.children(i)) for i in batches) * 1000
        last_state: dict = {}
        for s in spans:
            if ".state." not in s.name:
                continue
            op = s.name.rsplit(".", 1)[1]
            window = op == WINDOW_OP
            key = (s.name, window)
            last_state[key] = s.attrs
            if window:
                m["pipelines.window_commit_ms"] += s.attrs["commit_ms"]
            else:
                m["stateful.update_ms"] += s.attrs["update_ms"]
                m["stateful.commit_ms"] += s.attrs["commit_ms"]
                m["stateful.dropped_by_watermark"] += s.attrs["dropped"]
        for (_, window), a in last_state.items():
            if window:
                m["pipelines.window_state_rows"] += a["rows"]
            else:
                m["stateful.state_rows"] += a["rows"]
                m["stateful.state_bytes"] += a["bytes"]
        for name in ("sinks.append_parquet", "sinks.upsert_parquet"):
            tracer.attach_to_batches(name, batches)
    appends = [s for s in tracer.spans if s.name == "sinks.append_parquet"]
    upserts = [s for s in tracer.spans if s.name == "sinks.upsert_parquet"]
    m["sinks.append_ms"] = sum(s.dur for s in appends) * 1000
    m["sinks.append_calls"] = len(appends)
    m["sinks.upsert_ms"] = sum(s.dur for s in upserts) * 1000
    m["sinks.upsert_rows_rewritten"] = sum(s.attrs["rows"] for s in upserts)
    m["sinks.upsert_bytes_written"] = sum(s.attrs["bytes"] for s in upserts)
    details = res["verdict"]["details"]
    if upserts:
        m["sinks.upsert_useful_ratio"] = len(res["data"].changes) / m["sinks.upsert_rows_rewritten"]
        m["sinks.table_rows"] = sum(details[f"{sink}.rows"] for sink, _, _ in gen.DIM_TABLES.values())
        n_lines = sum(res["data"].lines_per_file)
        m["sources.filtered_frac"] = 1 - len(res["data"].changes) / n_lines
    if appends:
        m["sinks.table_rows"] = details["dwd_rows"]
        m["sources.dead_letter_frac"] = details["dead_letter_rows"] / res["input_rows"]
    if "per_query" in res:
        execs = [s for s in tracer.spans if s.name.endswith(".execute")]
        for q, times in res["per_query"].items():
            m[f"plans.{q}.wall_s"] = statistics.median(times)
        for f in ("shuffle_bytes", "spill_bytes", "tasks", "executor_run_ms"):
            m[f"plans.{f}"] = sum(s.attrs[f] for s in execs)
    if "gen_lag_max_s" in res:
        m["gen.lag_max_s"] = res["gen_lag_max_s"]
        m["gen.backlog_end_files"] = res["backlog_end_files"]
    m["gen.latency_samples"] = sum(n for _, n in res["latency"])
    m["trace.spans"] = len(tracer.spans)
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}
