"""The two streaming workloads: ``log_ingest`` and ``dim_cdc_upsert``.

Both run in two measured phases on one SparkSession:

1. drain: a fixed backlog of files is released at once and the pipelines
   run until every record is committed (``drain_eps``);
2. open loop: one generator thread releases the remaining files on a fixed
   schedule below capacity while the engine runs the pipelines again and
   again, each run picking up whatever has arrived. Each record's latency
   runs from the time its file was due to the commit of the micro-batch that
   wrote it to its sink (``latency_p50_s`` / ``latency_p99_s``).

The pipelines in ``streaming.pipelines`` start their queries with
``trigger(availableNow=True)``: one run processes every file present at its
start, in micro-batches of at most ``files_per_trigger`` files, then stops.
Running them back to back is how such a job is kept fresh, so the time a
restart costs is part of the latency measured here.

Which file went into which micro-batch, and when that batch committed, is
read from the query's checkpoint (``sources/0`` file log and ``commits/``),
so the untraced run needs no listener.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from realtimedatawarehouse_self_spark.sources import envelopes, files
from realtimedatawarehouse_self_spark.streaming import pipelines, stateful

from rtbench import gen, oracle
from rtbench.procfs import reset_peak_rss
from rtbench.trace import Tracer

PAYLOAD_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, "
    "page_id STRING, during_time BIGINT, raw STRING"
)
DEAD_TYPE = "_dead_letter"  # not a branch: run_baselog_split sends it to dead_letter


class CappedReader:
    """Stands in for the SparkSession handed to ``stream_jsonl``: its
    ``readStream`` caps the files one micro-batch may take, which the file
    source otherwise leaves unbounded."""

    def __init__(self, spark, files_per_trigger: int):
        self._spark = spark
        self._k = files_per_trigger

    @property
    def readStream(self):
        return self._spark.readStream.option("maxFilesPerTrigger", self._k)


class Feed:
    """Pre-generated files, staged outside the source directory and released
    into it by rename, so releasing never waits on the engine."""

    def __init__(self, files, stage_dir: str, src_dir: str):
        os.makedirs(stage_dir, exist_ok=True)
        os.makedirs(src_dir, exist_ok=True)
        self.names = [name for name, _ in files]
        self.sizes = [len(body) for _, body in files]
        self.stage, self.src = stage_dir, src_dir
        base = time.time_ns()
        for j, (name, body) in enumerate(files):
            p = os.path.join(stage_dir, name)
            with open(p, "wb") as f:
                f.write(body)
            # the file source orders files by modification time
            os.utime(p, ns=(base + j * 1_000_000, base + j * 1_000_000))
        self.released: dict[int, float] = {}  # index -> release time

    def release(self, j: int) -> None:
        os.rename(os.path.join(self.stage, self.names[j]), os.path.join(self.src, self.names[j]))
        self.released[j] = time.time()


class OpenLoop(threading.Thread):
    """Releases files at fixed due times, however far the engine lags."""

    def __init__(self, feed: Feed, idxs: list[int], start: float, period_s: float):
        super().__init__(daemon=True)
        self.feed, self.idxs = feed, idxs
        self.due = {j: start + i * period_s for i, j in enumerate(idxs)}
        self.arrived = threading.Event()
        self.lag_max = 0.0

    def run(self) -> None:
        for j in self.idxs:
            delay = self.due[j] - time.time()
            if delay > 0:
                time.sleep(delay)
            self.feed.release(j)
            self.lag_max = max(self.lag_max, self.feed.released[j] - self.due[j])
            self.arrived.set()


def checkpoint_batches(ckpt: str) -> tuple[dict, dict]:
    """(file name -> batch id, batch id -> commit time) from a checkpoint."""
    by_file = {}
    src_log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src_log) if os.path.isdir(src_log) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(src_log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    by_file[os.path.basename(e["path"])] = e["batchId"]
    commits = {}
    cdir = os.path.join(ckpt, "commits")
    for name in os.listdir(cdir) if os.path.isdir(cdir) else ():
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime_ns / 1e9
    return by_file, commits


@dataclass
class Query:
    """One pipeline of a workload: how to start it, and its checkpoint."""
    label: str
    start: object  # () -> StreamingQuery
    ckpt: str


class StreamWorkload:
    """Shared phases; subclasses build the inputs, the queries and the oracle."""

    files_per_trigger = 4
    n_tail_files = 0  # files released after the timed phases

    def __init__(self, seed: int, seconds: int, work: str):
        self.seed, self.seconds, self.work = seed, seconds, work
        # One file per period, the period longer than one run of the
        # pipelines, so each arrival is served by a run of its own.
        self.n_open_files = max(2, round(seconds / self.open_period_s))
        self.tracer: Tracer | None = None
        self.runs: list[float] = []  # wall time of each open-loop run
        self.qids: dict[str, str] = {}  # pipeline label -> streaming query id

    def start_queries(self, spark, path: str) -> None:
        """The set-up step: start the pipelines' queries (on an empty source,
        so they stop at once)."""
        os.makedirs(os.path.join(path, "src"), exist_ok=True)
        self.run_all(self.queries(spark, os.path.join(path, "src"), path))

    def warm_up(self, spark, path: str) -> None:
        """One run over a tiny input of its own before the timed phases:
        starts the Python workers and compiles the plans."""
        data = self.prepare(path, tiny=True)
        feed = Feed(data.files, os.path.join(path, "stage"), os.path.join(path, "src"))
        for j in range(len(data.files) - self.n_tail_files):
            feed.release(j)
        self.run_all(self.queries(spark, feed.src, path))
        self.qids = {}

    # -- phases -----------------------------------------------------------
    def run_all(self, queries: list[Query]) -> None:
        """One availableNow run of every pipeline, side by side."""
        started = [q.start() for q in queries]
        for q, sq in zip(queries, started):
            sq.awaitTermination()
            self.qids[q.label] = str(sq.id)
            if self.tracer is not None:
                self.tracer.wait_progress(sq)

    def measure(self, spark, probe) -> dict:
        """Drain, then open loop. ``probe`` reads JVM counters (wchar, GC)."""
        t_gen = time.perf_counter()
        data = self.prepare(self.work)
        self.phases = {"gen": time.perf_counter() - t_gen}
        n_total = len(data.files) - self.n_tail_files
        n_drain = self.n_drain_files
        feed = Feed(data.files, os.path.join(self.work, "stage"), os.path.join(self.work, "src"))
        queries = self.queries(spark, feed.src, self.work)
        reset_peak_rss()
        p0 = probe()

        # 1. drain a fixed backlog
        for j in range(n_drain):
            feed.release(j)
        t0 = time.perf_counter()
        self.run_all(queries)
        drain_s = time.perf_counter() - t0
        self.phases["drain"] = drain_s

        # 2. open loop at a fixed rate; a run starts whenever files arrived
        ol = list(range(n_drain, n_total))
        gen_thread = OpenLoop(feed, ol, time.time() + 0.1, self.open_period_s)
        gen_thread.start()
        seen = len(feed.released)
        while True:
            alive = gen_thread.is_alive()  # read before the count: no lost release
            if len(feed.released) == seen:
                if not alive:
                    break
                gen_thread.arrived.wait(0.2)
                gen_thread.arrived.clear()
                continue
            seen = len(feed.released)
            t = time.perf_counter()
            self.run_all(queries)
            self.runs.append(time.perf_counter() - t)
        gen_thread.join()
        p1 = probe()
        self.phases["open_loop"] = time.perf_counter() - t0 - drain_s

        # 3. untimed tail (watermark flush), then read every output
        for j in range(n_total, len(data.files)):
            feed.release(j)
        self.run_all(queries)

        by_file, commits = checkpoint_batches(queries[0].ckpt)
        lat, done_at = [], {}  # (latency, records); file -> commit time
        for j in ol:
            b = by_file.get(feed.names[j])
            c = commits.get(b, float("inf")) if b is not None else float("inf")
            done_at[j] = c
            lat.append((c - gen_thread.due[j], data.lines_per_file[j]))
        last_due = gen_thread.due[ol[-1]]
        n_late = sum(n for v, n in lat if v > oracle.LATENCY_LIMIT_S)
        n_in = sum(data.lines_per_file[:n_total])
        return {
            "drain_eps": sum(data.lines_per_file[:n_drain]) / drain_s,
            "latency": lat,
            "n_late": n_late,
            "refresh_s": statistics.median(self.runs),
            "wchar": p1["wchar"] - p0["wchar"],
            "gc_ms": p1["gc_ms"] - p0["gc_ms"],
            "in_bytes": sum(feed.sizes[:n_total]),
            "input_rows": n_in,
            "gen_lag_max_s": gen_thread.lag_max,
            "backlog_end_files": sum(1 for j in ol[:-1] if done_at[j] > last_due),
            "data": data,
        }

    def verify(self, res: dict) -> None:
        """Check the outputs against the oracle and add the verdict to
        ``res``; runs after the measured window and the memory reading."""
        t = time.perf_counter()
        verdict = self.check(res["data"])
        self.phases["oracle"] = time.perf_counter() - t
        res.update(attempted=res["input_rows"] + verdict["extra_attempted"],
                   failed=verdict["failed"] + res["n_late"],
                   correct=verdict["failed"] == 0, verdict=verdict)


# ---------------------------------------------------------------------------
class LogIngest(StreamWorkload):
    """BaseLogApp chain + one DWS job on the same file source."""

    files_per_trigger = 3
    lines_per_file = 500
    n_drain_files = 9
    open_period_s = 4.0
    n_tail_files = 1  # the watermark flush file

    def prepare(self, path: str, tiny: bool = False):
        if tiny:
            return gen.gen_logs(self.seed, gen.LogSpec(2, 50, self.files_per_trigger))
        spec = gen.LogSpec(self.n_drain_files + self.n_open_files, self.lines_per_file,
                           self.files_per_trigger)
        return gen.gen_logs(self.seed, spec)

    def queries(self, spark, src: str, work: str) -> list[Query]:
        return log_queries(spark, src, work, self.files_per_trigger)

    def check(self, data) -> dict:
        return oracle.check_logs(self.work, data)


def log_queries(spark, src: str, work: str, k: int) -> list[Query]:
    reader = CappedReader(spark, k)
    out, uv_out = os.path.join(work, "dwd"), os.path.join(work, "dws_uv")
    ck_split, ck_uv = os.path.join(work, "ck_split"), os.path.join(work, "ck_uv")

    def start_split():
        clean, dead = files.stream_jsonl(reader, src, gen.LOG_SCHEMA)
        rows = clean.select(
            "mid", F.date_format("ts", "yyyy-MM-dd").alias("dt"), "is_new",
            F.to_json(F.struct("event_id", "user_id", "event_type", "ts", "page_id",
                               "during_time")).alias("payload"),
        ).unionByName(dead.select(
            F.lit(None).cast("string").alias("mid"), F.lit(None).cast("string").alias("dt"),
            F.lit(None).cast("string").alias("is_new"),
            F.to_json(F.struct(F.lit(DEAD_TYPE).alias("event_type"), "raw")).alias("payload"),
        ))
        repaired = stateful.visitor_repair(rows)
        events = repaired.select(
            "mid", "dt", "is_new", F.from_json("payload", PAYLOAD_SCHEMA).alias("p")
        ).select("mid", "dt", "is_new", "p.*")
        return pipelines.run_baselog_split(events, out, ck_split)

    def start_uv():
        clean, _ = files.stream_jsonl(reader, src, gen.LOG_SCHEMA)
        return (
            pipelines.dws_uv_window_stream(clean).writeStream.outputMode("append")
            .format("parquet").option("path", uv_out).option("checkpointLocation", ck_uv)
            .trigger(availableNow=True).start()
        )

    return [Query("split", start_split, ck_split), Query("uv", start_uv, ck_uv)]


# ---------------------------------------------------------------------------
class DimCdcUpsert(StreamWorkload):
    """Maxwell changes -> P3 op filter -> config-routed keyed upserts."""

    files_per_trigger = 8
    changes_per_file = 125
    n_drain_files = 16
    open_period_s = 4.5
    preload_rows = {"user_info": 400_000, "sku_info": 200_000, "base_province": 50_000}

    def prepare(self, path: str, tiny: bool = False):
        if tiny:
            spec = gen.CdcSpec(1, 20, self.files_per_trigger, {t: 100 for t in gen.DIM_TABLES})
        else:
            spec = gen.CdcSpec(self.n_drain_files + self.n_open_files, self.changes_per_file,
                               self.files_per_trigger, dict(self.preload_rows))
        data = gen.gen_cdc(self.seed, spec)
        write_preload(os.path.join(path, "dim"), data.preload)
        write_config(os.path.join(path, "config"))
        return data

    def queries(self, spark, src: str, work: str) -> list[Query]:
        return cdc_queries(spark, src, work, self.files_per_trigger)

    def check(self, data) -> dict:
        return oracle.check_dims(self.work, data)


def write_preload(dim_dir: str, tables: dict) -> None:
    import pyarrow.parquet as pq

    for sink, table in tables.items():
        os.makedirs(os.path.join(dim_dir, sink), exist_ok=True)
        pq.write_table(table, os.path.join(dim_dir, sink, "part-00000.parquet"))


def write_config(path: str) -> None:
    """The routing rules: one per source table, each with its own sink_pk."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rules = [(src, sink, ",".join(cols), ",".join(pk))
             for src, (sink, cols, pk) in gen.DIM_TABLES.items()]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "source_type": [r[0] for r in rules], "sink_table": [r[1] for r in rules],
        "sink_columns": [r[2] for r in rules], "sink_pk": [r[3] for r in rules],
        "sink_extend": pa.nulls(len(rules), pa.string())}), os.path.join(path, "part-0.parquet"))


def cdc_queries(spark, src: str, work: str, k: int) -> list[Query]:
    config = os.path.join(work, "config")
    ck = os.path.join(work, "ck_dim")

    def start():
        raw = spark.readStream.option("maxFilesPerTrigger", k).text(src)
        changes = envelopes.filter_upserts(envelopes.parse_maxwell(raw))
        events = changes.select(
            F.col("table").alias("event_type"),
            *[F.element_at("data", c).alias(c) for c in gen.DIM_COLUMNS[1:]],
        )
        return pipelines.run_dim_routing(spark, events, config, os.path.join(work, "dim"), ck,
                                         key_col="id")

    return [Query("dim", start, ck)]
